#!/usr/bin/env python3
"""Lakehouse benchmark: one seeded workload, one Spark session, one
closed-loop client.

    python3 perfbench/run.py --workload {lakehouse_etl,corpus_prep} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout (the program is imported from there; all
files are written under ``.bench_work/``). Set-up starts the JVM,
generates the inputs, writes the tables and runs one untimed warm-up
operation. Whole timed operations
follow until their summed wall time reaches ``--seconds``; outputs are
checked afterwards. The last line
of standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from a traced run) with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import probe  # noqa: E402

CORES = min(2, os.cpu_count() or 1)
SPARK_CONF = {
    # the driver is the only executor; a small heap keeps the process tree
    # small on a shared machine and makes peak_rss_mb comparable
    "spark.driver.memory": "2g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # every job of a run stays in the status store for the counters
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["lakehouse_etl", "corpus_prep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Context:
    """What a workload needs from the runner: the session, the counters,
    the meter of bytes written and, in a traced run, the tracer."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.spark = None
        self.counters = None
        self.written = None  # probe.WrittenBytes over the workload's lakehouse

    def wrote(self) -> None:
        """Called by a workload after each write-side call."""
        self.written.step()

    def call_span(self, name: str, fn):
        """A span of the benchmark's own around ``fn`` (traced runs only)."""
        if self.tracer is None:
            return fn()
        return self.tracer.call(name, fn)

    def phase(self, group: str, op) -> None:
        self.counters.set_group(group)
        if self.tracer is not None:
            self.tracer.group, self.tracer.op = group, op
            self.tracer.end_op()


def isolate_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the
    program's own defaults apply."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")] + ["SPARK_MASTER"]:
        os.environ.pop(var, None)
    # spark-submit's launcher JVM and the driver JVM: no files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The heap starts at its maximum: G1 otherwise grows it at a pace set
    # by GC pause times, which other tenants' load moves, and the JVM's
    # RSS moved with it by up to a third from run to run.
    SPARK_CONF["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Xms{SPARK_CONF['spark.driver.memory']}")
    SPARK_CONF["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")


def percentile(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter() - probe.process_age_s()
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate_environment(work)

    from ecu_sbl_aace_datalake_spark import session

    import spans as tracing

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    tree = probe.ProcessTree(os.getpid())
    rss = probe.PeakRss(tree)
    rss.start()
    ctx = Context(tracer)
    try:
        return run(args, ctx, tree, rss, t_start, work, session)
    finally:
        rss.stop()
        if ctx.spark is not None:
            stop_spark(ctx.spark, tree)
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark, tree) -> None:
    """Stop the session, then the JVM, and wait until every process the
    run started (JVM, PySpark daemon, Python workers) has ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    children = [p for p in tree.pids() if p != tree.root]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM ignored its closed stdin
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def run(args, ctx, tree, rss, t_start, work, session) -> int:
    import corpus
    import etl

    # shuffle parallelism sized as the program advises: twice the cores
    ctx.spark = session.get_spark("perfbench", master=f"local[{CORES}]",
                                  shuffle_partitions=2 * CORES, extra_conf=SPARK_CONF)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.counters = probe.SparkCounters(ctx.spark)
    if ctx.tracer is not None:
        ctx.tracer.counters = ctx.counters
    jvm_s = time.perf_counter() - t_start
    ctx.phase("setup", "setup")
    wl = {"lakehouse_etl": etl.Etl, "corpus_prep": corpus.Corpus}[args.workload](ctx, args.seed)
    t = time.perf_counter()
    wl.generate(os.path.join(work, "setup"))
    generate_s = time.perf_counter() - t
    ctx.written = probe.WrittenBytes(wl.lh.tables_path)
    t = time.perf_counter()
    wl.load()
    load_s = time.perf_counter() - t
    ctx.phase("warmup", "warmup")
    ctx.written.begin()
    t = time.perf_counter()
    wl.op(-1)
    warmup_s = time.perf_counter() - t
    wl.after_op(-1)
    setup_s = jvm_s + generate_s + load_s + warmup_s
    print(f"set-up: jvm {jvm_s:.2f} s, generate {generate_s:.2f} s, "
          f"load {load_s:.2f} s, warm-up {warmup_s:.2f} s", file=sys.stderr)

    ctx.phase("timed", 0)
    wall, cpu, written, inputs, raised = [], [], [], [], {}
    i, measured = 0, 0.0
    while True:
        if ctx.tracer is not None:
            ctx.tracer.op = i
            ctx.tracer.end_op()
        ctx.written.begin()
        c0 = tree.cpu_s()
        t = time.perf_counter()
        try:
            wl.op(i)
        except Exception:  # counted as a failed operation; the run goes on
            raised[i] = traceback.format_exc()
            print(raised[i], file=sys.stderr)
        dt = time.perf_counter() - t
        cpu.append(tree.cpu_s() - c0)
        wall.append(dt)
        ctx.written.step()
        written.append(ctx.written.total)
        inputs.append(wl.op_input_bytes(i))
        if i not in raised:
            wl.after_op(i)
        measured += dt
        i += 1
        if measured >= args.seconds:
            break
    peak_mb = rss.stop()
    n = len(wall)
    totals = ctx.counters.stage_totals(ctx.counters.jobs("timed"))

    problems = wl.check()
    bad_checks = {k: v for k, v in problems.items() if v}
    for k, v in bad_checks.items():
        print(f"check failed on operation {k}: {v}", file=sys.stderr)
    failed = sum(1 for k in range(n) if k in raised or bad_checks.get(k))
    correct = not bad_checks

    p50 = statistics.median(wall)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (sum(cpu) / n, "s"),
        "bytes_written_per_input_byte": (wl.write_ratio(written, inputs), "ratio"),
        "bytes_stored_per_input_byte": (wl.stored_ratio(), "ratio"),
        "bytes_read_per_op": (totals["input_bytes"] / n, "bytes"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    # Operation wall times are reported here but not among the metrics:
    # on a shared machine they move by a fifth to two fifths between
    # runs of the same code (README, "Steadiness").
    wall_times = {"items_per_s": wl.items_per_op / p50, "op_p50_s": p50,
                  "op_p90_s": percentile(wall, 90)}
    print("wall: " + ", ".join(f"{k} {v:.4f}" for k, v in wall_times.items())
          + f" ({n} operations)", file=sys.stderr)
    metrics = end_to_end
    if ctx.tracer is not None:
        import layers

        metrics = layers.per_layer(ctx, wl, n, totals, inputs)
        trace_dir = os.path.join(os.getcwd(), ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        ctx.tracer.dump(
            os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "operations": n,
             "end_to_end": {**{k: v[0] for k, v in end_to_end.items()}, **wall_times}})
    print(json.dumps({
        "correct": correct, "attempted": n, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
