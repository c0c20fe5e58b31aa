"""Measurements taken from outside the program: process-tree CPU and
resident memory from /proc, Spark job/stage counters from the status
tracker and status store, and bytes of files under a directory."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, with the
    command name itself first."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, tail = f.read().rsplit(")", 1)
    except OSError:  # process ended between listing and reading
        return None
    return [head.split("(", 1)[1]] + tail.split()[1:]


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _compiler_ticks(pid: int) -> int:
    """user+system ticks of a JVM's C1/C2 compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks


class ProcessTree:
    """The process ``root`` and all its descendants (Python client, JVM,
    PySpark daemon and Python workers)."""

    def __init__(self, root: int) -> None:
        self.root = root

    def pids(self) -> list[int]:
        parents: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            fields = _stat_fields(int(name))
            if fields is not None:
                parents.setdefault(int(fields[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(parents.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User+system CPU of the tree, including reaped children (so a
        worker that exits keeps its CPU in its parent's cutime/cstime),
        minus the JVM's JIT compiler threads: compilation is start-up
        work whose amount in a window depends on how long the JVM has run.
        The JVM runs with a fixed set of compiler threads, so none exits
        and takes its CPU into the process total."""
        ticks = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields is None:
                continue
            ticks += sum(int(x) for x in fields[11:15])
            if fields[0] == "java":
                ticks -= _compiler_ticks(pid)
        return ticks / _TICK

    def rss_bytes(self) -> int:
        """Summed RSS of the tree. A child the JVM forked that has not yet
        exec'd its program (Hadoop's local file system runs chmod that way)
        maps the JVM's pages and would count them twice: it is skipped."""
        stats = {pid: _stat_fields(pid) for pid in self.pids()}
        total = 0
        for pid, fields in stats.items():
            if fields is None:
                continue
            parent = stats.get(int(fields[1]))
            if parent is not None and parent[0] == "java" and _exe(pid) == _exe(int(fields[1])):
                continue
            total += int(fields[21]) * _PAGE
        return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``stop`` returns the largest sum seen, in MB."""

    def __init__(self, tree: ProcessTree, interval: float = 0.2) -> None:
        self.tree = tree
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss_bytes())
        return self.peak / 1e6


class SparkCounters:
    """Job and stage counters for jobs run under one job group, read from
    the public status tracker and the driver's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, int]:
        tot = {"jobs": 0, "tasks": 0, "input_bytes": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "failed_tasks": 0}
        seen = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            tot["jobs"] += 1
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                try:
                    sd = self.store.lastStageAttempt(s)
                except Exception:  # stage skipped and never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                tot["input_bytes"] += sd.inputBytes()
                tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.diskBytesSpilled()
                tot["failed_tasks"] += sd.numFailedTasks()
        return tot

    def storage_mb(self) -> float:
        """Memory and disk held by persisted relations (cached RDDs and
        DataFrames), not broadcast blocks or other block-manager storage."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def files_under(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def bytes_under(root: str) -> int:
    return sum(files_under(root).values())


class WrittenBytes:
    """Bytes of the files that appear under ``root``, summed over steps.
    An operation calls ``step`` after each of its write-side calls, so a
    file that a later call of the same operation replaces (an upsert's
    partitions, rewritten by compaction a moment later) is still counted."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.total = 0
        self._seen: dict[str, int] = {}

    def begin(self) -> None:
        self._seen = files_under(self.root)
        self.total = 0

    def step(self) -> None:
        now = files_under(self.root)
        self.total += new_bytes(self._seen, now)
        self._seen = now


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files present in ``after`` under a path absent from
    ``before``. Spark names every output file uniquely, so a rewrite or a
    rename into place shows as new paths."""
    return sum(size for p, size in after.items() if p not in before)
