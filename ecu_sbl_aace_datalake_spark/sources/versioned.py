"""Versioned tables with time travel — manifest-over-parquet.

The reference persists via Delta (reference common.py:448,517,531), whose
package is unavailable in this container (NEXT.md item 7); the plain
``write_table`` path already emulates Delta's atomic overwrite. This
module supplies the two Delta behaviors users actually lean on —
versioned history and ``versionAsOf``/``timestampAsOf`` reads — with
nothing but parquet directories and a JSON manifest, the same
snapshot-pointer design as Delta's ``_delta_log`` / Iceberg's metadata
tree:

- each write lands in a NEW immutable directory ``_v{n}/`` (never
  rewritten, so concurrent readers of older versions are safe);
- the manifest (the list of versions) is a JSON log, ``_manifest/``, whose
  newest entry is the table: committing a version writes the next entry
  (``io._log_commit``) and never overwrites a file, so a reader sees the
  old or the new manifest and a crash leaves the old one. It is kept in
  the lake through the Hadoop FileSystem of the table's URI, so any driver
  resolves the same history. A table from before the log keeps its
  ``_manifest.json`` until its next commit. One writer per table;
- reads resolve the manifest (optionally pinned to a version or a
  timestamp) and scan only that version's directory;
- ``vacuum`` drops versions beyond a retention count, exactly like
  ``VACUUM``.

At 100 TB the cost profile matches Delta-without-compaction: a write
costs one full snapshot (use the incremental operators for deltas); a
read costs a listing of at most a few log entries, one tiny JSON fetch and
one pruned directory scan. The manifest stays O(versions), never O(files)
— file listing is delegated to the parquet reader per version directory.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .catalog import Lakehouse, table_path
from .io import DEFAULT_FORMAT, _as_list, _log_commit, _log_head, _remove, read_path

MANIFEST = "_manifest"


def write_table_versioned(
    lakehouse: Lakehouse,
    table_name: str,
    df: DataFrame,
    partition_by: str | list[str] | None = None,
    fmt: str = DEFAULT_FORMAT,
    commit_ts: float | None = None,
) -> dict[str, Any]:
    """Commit a new snapshot version of the table. Returns the commit info
    (version, path, timestamp). ``commit_ts`` defaults to the wall clock;
    pass it explicitly for reproducible histories in tests."""
    spark = df.sparkSession
    root = table_path(lakehouse, table_name)
    head, manifest = _log_head(spark, f"{root}/{MANIFEST}")
    manifest = manifest or {
        "table": table_name,
        "format": fmt,
        "versions": [],
    }
    version = (
        manifest["versions"][-1]["version"] + 1 if manifest["versions"] else 0
    )
    vdir = f"{root}/_v{version}"
    writer = df.write.format(fmt).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*_as_list(partition_by))
    writer.save(vdir)
    entry = {
        "version": version,
        "dir": f"_v{version}",
        "ts": float(commit_ts if commit_ts is not None else time.time()),
        "partition_by": partition_by,
        "columns": list(df.columns),
    }
    manifest["versions"].append(entry)
    _log_commit(spark, f"{root}/{MANIFEST}", head + 1, manifest)
    return {"table": table_name, "path": vdir, **entry}


def read_table_versioned(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    version: int | None = None,
    timestamp: float | None = None,
    fmt: str | None = None,
) -> DataFrame:
    """Read the latest snapshot, or time-travel: ``version=`` pins an exact
    version, ``timestamp=`` resolves the newest version committed at or
    before that time (Delta's ``versionAsOf`` / ``timestampAsOf``)."""
    root = table_path(lakehouse, table_name)
    _head, manifest = _log_head(spark, f"{root}/{MANIFEST}")
    if manifest is None or not manifest["versions"]:
        raise FileNotFoundError(f"no versioned table at {root}")
    if version is not None and timestamp is not None:
        raise ValueError("pass version OR timestamp, not both")
    entries = manifest["versions"]
    if version is not None:
        matches = [e for e in entries if e["version"] == version]
        if not matches:
            raise ValueError(
                f"version {version} not in history "
                f"{[e['version'] for e in entries]} (vacuumed or never written)"
            )
        entry = matches[0]
    elif timestamp is not None:
        at_or_before = [e for e in entries if e["ts"] <= float(timestamp)]
        if not at_or_before:
            raise ValueError(
                f"no version at or before ts {timestamp}; earliest is "
                f"{entries[0]['ts']}"
            )
        entry = at_or_before[-1]
    else:
        entry = entries[-1]
    return read_path(spark, f"{root}/{entry['dir']}", fmt or manifest["format"])


def table_history(
    spark: SparkSession, lakehouse: Lakehouse, table_name: str
) -> list[dict]:
    """The commit log (oldest first) — Delta's ``DESCRIBE HISTORY``."""
    root = table_path(lakehouse, table_name)
    _head, manifest = _log_head(spark, f"{root}/{MANIFEST}")
    return list(manifest["versions"]) if manifest else []


def vacuum_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    keep_last: int = 2,
) -> list[int]:
    """Drop all but the newest ``keep_last`` versions (data + manifest
    entries). Returns the dropped version numbers. The manifest commit
    happens FIRST so a reader can never resolve a deleted directory."""
    root = table_path(lakehouse, table_name)
    head, manifest = _log_head(spark, f"{root}/{MANIFEST}")
    if manifest is None:
        return []
    entries = manifest["versions"]
    if len(entries) <= keep_last:
        return []
    drop, keep = entries[:-keep_last], entries[-keep_last:]
    manifest["versions"] = keep
    _log_commit(spark, f"{root}/{MANIFEST}", head + 1, manifest)
    for e in drop:
        _remove(spark, f"{root}/{e['dir']}")
    return [e["version"] for e in drop]
