"""Table IO: read / write / drop / list over a path-addressed lakehouse.

Reference parity (all in common.py):
- ``selectTable`` / ``selectView`` / ``__selectTable`` (440-467): load Delta
  by path, register uuid temp view, run SQL over it.
- ``readTable`` (475-489): projection+condition read — **buggy in the
  reference** (missing space before WHERE, and the built query never passed
  through; SURVEY.md §8 #1). Implemented correctly here.
- ``writeTable`` (525-538): overwrite-write with optional partitioning +
  schema overwrite, register in the session registry, return shape info.
- ``dropTable`` (512-517): reference bug #2 — it row-deletes instead of
  dropping and crashes when spark arg omitted. Here: a real drop.
- ``getTables`` (497-503): enumerate tables under the Tables/ root.

Format: Delta when ``delta-spark`` is importable (the reference is
Delta-only, common.py:448/531), else Parquet — same code path, the
lakehouse layout and semantics are identical. All writes are overwrite-mode
with schema overwrite, matching the reference. Under a
:func:`~..session.get_spark` session the files are zstd Parquet (or zstd
Delta data files): the codec is the session's
``spark.sql.parquet.compression.codec``, which no writer here overrides, so
one ``spark.conf.set`` switches every write back to snappy.

Replacing a table with a plan that reads that same table (compaction,
clustering, Z-ordering, upsert, delete, streaming state merges) goes through
one of two private helpers, the parquet path's stand-in for a Delta commit:

- ``_replace_table`` writes the new table to one staging sibling
  (``{path}__stage_<hex>``) and swaps it in by rename, so readers see the
  old or the new table, never half of one.
- ``_replace_partitions`` rewrites only the partitions the new rows land in
  (dynamic partition overwrite), one data file per partition, then removes
  the partitions it was told are affected but wrote no rows to. One file
  per partition is the layout :func:`compact_table` keeps, so upserts and
  deletes leave nothing for it to do.

:func:`vacuum_orphans` collects the staging and backup dirs an interrupted
swap leaves behind.

Every file operation outside Spark's readers and writers (listing, rename,
delete, the JSON logs of ``incremental`` and ``versioned``) goes through
the Hadoop FileSystem of the URI, in the private helpers below, so a local
path, ``file://``, ``abfss://``, ``s3a://`` and ``hdfs://`` all take the
same code.

Scale notes:
- ``write_table(partition_by=...)`` controls physical layout → later reads
  get partition pruning for free (Catalyst PruneFileSourcePartitions).
- ``read_table`` pushes ``columns``/``condition`` into the scan via
  ``.select``/``.where`` so Parquet/Delta sees PushedFilters + pruned
  ReadSchema instead of a full-width scan.
- ``df_shape`` after write does cost one count(); ``write_table`` makes it
  opt-in (``with_shape=False`` default) instead of always recomputing the
  full plan like the reference (common.py:533, SURVEY.md §8 #6).
"""

from __future__ import annotations

import json
import math
import posixpath
import re
import uuid
from collections import Counter
from collections.abc import Iterator
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Lakehouse, TableRegistry, table_path, view_path

try:  # delta-spark is optional; parquet is the fallback persistence format
    from delta.tables import DeltaTable  # noqa: F401

    _HAS_DELTA = True
except Exception:  # pragma: no cover - environment dependent
    _HAS_DELTA = False

DEFAULT_FORMAT = "delta" if _HAS_DELTA else "parquet"


# Sibling-dir markers of a table replacement: the staged new table, and the
# old table between the two renames of the swap. Earlier versions staged
# under one marker per operation; vacuum_orphans still collects those.
_STAGE, _BACKUP = "__stage_", "__old_"
_ORPHAN_MARKERS = (
    _STAGE, _BACKUP, "__compact_", "__cluster_", "__zorder_", "__upsert_", "__delete_"
)


def _as_list(cols: str | list[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def _hadoop(spark: SparkSession, path: str) -> tuple[Any, Any]:
    """(Hadoop FileSystem, Hadoop Path) for any storage URI."""
    hp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hp.getFileSystem(spark._jsc.hadoopConfiguration()), hp


def _remove(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is not an error."""
    fs, hp = _hadoop(spark, path)
    fs.delete(hp, True)


def _read_json(spark: SparkSession, path: str) -> Any:
    """The JSON value stored in the file at ``path``."""
    fs, hp = _hadoop(spark, path)
    stream = fs.open(hp)
    try:
        # IOUtils, not InputStream.readAllBytes: that needs Java 9
        data = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data))


_LOG_ENTRY = re.compile(r"[0-9]{20}\.json")


def _log_head(spark: SparkSession, log: str) -> tuple[int, Any]:
    """``(n, value)`` of the newest entry of the JSON log in dir ``log``.
    A log with no entry reads as ``(-1, value)`` of the file ``{log}.json``,
    the single file earlier versions replaced in place, else ``(-1, None)``."""
    fs, hp = _hadoop(spark, log)
    names = [st.getPath().getName() for st in fs.listStatus(hp)] if fs.exists(hp) else []
    head = max(filter(_LOG_ENTRY.fullmatch, names), default=None)
    if head is not None:
        return int(head[:20]), _read_json(spark, posixpath.join(log, head))
    legacy = f"{log}.json"
    return -1, _read_json(spark, legacy) if path_exists(spark, legacy) else None


def _log_commit(spark: SparkSession, log: str, n: int, obj: Any) -> None:
    """Commit ``obj`` as entry ``n`` of the JSON log in dir ``log``: write a
    temp file, then rename it to the entry's name, which no file has yet.
    A reader sees the whole entry or none, and a crash before the rename
    leaves the previous head. No file is replaced: Hadoop replaces one by a
    delete, then a rename, with no file in between. A rename onto an
    existing entry (another writer's) fails, and then this raises.
    Entry ``n - 2`` is then removed; the one before the new head stays for
    a reader that listed the log just before this commit."""
    fs, hp = _hadoop(spark, log)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = Path(hp, f"{n:020}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(obj).encode())
    finally:
        out.close()
    if not fs.rename(tmp, Path(hp, f"{n:020}.json")):
        fs.delete(tmp, False)
        raise OSError(f"entry {n} of {log} exists: another writer committed first")
    if n >= 2:
        fs.delete(Path(hp, f"{n - 2:020}.json"), False)


def _replace_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: str | list[str] | None = None,
    fmt: str = DEFAULT_FORMAT,
) -> None:
    """Replace the table at ``path`` with ``df``, which may read that same
    table: write ``df`` to a staging sibling, then swap it in by rename
    (readers mid-swap see old or new, never half)."""
    stage = f"{path}{_STAGE}{uuid.uuid4().hex}"
    back = f"{path}{_BACKUP}{uuid.uuid4().hex}"
    writer = df.write.format(fmt).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*_as_list(partition_by))
    writer.save(stage)
    # Hadoop FS reports a failed rename by returning False, not raising;
    # renaming the stage onto a path that still exists would nest it
    fs, hp = _hadoop(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    if not (fs.rename(hp, Path(back)) and fs.rename(Path(stage), hp)):
        raise OSError(f"could not swap {stage} into {path}")
    _remove(spark, back)


def _partition_values(df: DataFrame, col: str) -> tuple[list[Any], list[str | None]]:
    """The distinct values of ``col`` in ``df`` and, in the same order,
    their Spark string forms, in one job. The string form is the value as
    Spark casts it to name a partition dir (session time zone; null stays
    None): Python's ``str()`` of a timestamp or a decimal can differ."""
    rows = df.select(col, F.col(col).cast("string")).distinct().collect()
    return [r[0] for r in rows], [r[1] for r in rows]


def _in_partitions(col: str, values: list[Any]) -> Column:
    """``col IN values``, where a None in ``values`` also matches the
    null partition (SQL ``IN`` never matches null)."""
    cond = F.col(col).isin([v for v in values if v is not None])
    return cond | F.col(col).isNull() if None in values else cond


def _replace_partitions(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: str | list[str],
    affected: list[str | None],
) -> None:
    """Overwrite only the partitions ``df`` has rows in (parquet dynamic
    partition overwrite; ``df`` may read the table), each with exactly one
    data file: the shuffle on the partition columns puts every partition's
    rows in one write task, so one task writes all of a partition however
    large it is. Then remove every partition in ``affected`` the write left
    empty: dynamic overwrite never touches a partition it writes no rows
    to, so that partition's old files would survive. ``affected`` holds the
    Spark string forms (see :func:`_partition_values`) of a single partition
    column's values; a caller partitioning on several passes none. The
    written partition values come from an observed metric of the write
    itself, not from a second pass over ``df``.

    Dir names are built as Spark's writer builds them, by
    ``ExternalCatalogUtils.getPartitionPathString``: escaped (``a:b`` is
    ``a%3Ab``), with null and the empty string both written to
    ``__HIVE_DEFAULT_PARTITION__``; the observed set maps null to the
    empty string, since ``collect_set`` drops nulls."""
    from pyspark.sql import Observation

    cols = _as_list(partition_by)
    assert not affected or len(cols) == 1, "affected takes one partition column"
    written = Observation()
    (
        df.repartition(*[F.col(c) for c in cols])
        .observe(
            written,
            F.collect_set(F.coalesce(F.col(cols[0]).cast("string"), F.lit(""))).alias("parts"),
        )
        .write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .save(path)
    )
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for val in {v or "" for v in affected} - set(written.get["parts"]):
        _remove(spark, posixpath.join(path, utils.getPartitionPathString(cols[0], val)))


def read_path(spark: SparkSession, path: str, fmt: str = DEFAULT_FORMAT) -> DataFrame:
    """Load a table by physical path (reference common.py:448)."""
    return spark.read.format(fmt).load(path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — correct for ANY
    storage URI (abfss/s3/hdfs/file)."""
    fs, hp = _hadoop(spark, path)
    return bool(fs.exists(hp))


def table_exists(spark: SparkSession, lakehouse: Lakehouse, table_name: str) -> bool:
    """Whether ``{lakehouse}/Tables/{table_name}`` exists in storage."""
    return path_exists(spark, table_path(lakehouse, table_name))


def _select(spark: SparkSession, path: str, name: str, query: str | None, fmt: str) -> DataFrame:
    """Load ``path``, register it as a unique temp view named after
    ``name`` and run ``query`` over it (reference ``__selectTable``)."""
    from ..operators.query import temp_table_name

    view = temp_table_name(name)
    read_path(spark, path, fmt).createOrReplaceTempView(view)
    return spark.sql((query or "SELECT t.* FROM {table} AS t").format(table=view))


def select_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    query: str | None = None,
    fmt: str = DEFAULT_FORMAT,
) -> DataFrame:
    """Load ``{source}/Tables/{name}``, register a unique temp view, run
    ``query`` over it (default ``SELECT t.* FROM <view> AS t``).

    Reference: ``selectTable``/``__selectTable`` common.py:440-467. The
    query's view placeholder is ``{table}``.
    """
    return _select(spark, table_path(lakehouse, table_name), table_name, query, fmt)


def select_view(
    spark: SparkSession,
    lakehouse: Lakehouse,
    view_name: str,
    query: str | None = None,
    fmt: str = DEFAULT_FORMAT,
) -> DataFrame:
    """Same as :func:`select_table` under ``/Views/`` (common.py:461-462)."""
    return _select(spark, view_path(lakehouse, view_name), view_name, query, fmt)


def read_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    columns: str | list[str] = "*",
    condition: str = "",
    fmt: str = DEFAULT_FORMAT,
) -> DataFrame:
    """Projection + filter read. Fixes reference ``readTable``
    (common.py:475-489, SURVEY.md §8 #1): the projection and condition are
    actually applied, and applied *declaratively* so Catalyst pushes the
    filter and prunes columns at the file scan."""
    df = read_path(spark, table_path(lakehouse, table_name), fmt)
    if columns not in ("*", ["*"], None):
        cols = [c.strip() for c in columns.split(",")] if isinstance(columns, str) else list(columns)
        df = df.select(*cols)
    if condition:
        df = df.where(condition)
    return df


def write_table(
    lakehouse: Lakehouse,
    table_name: str,
    df: DataFrame,
    partition_by: str | list[str] | None = None,
    fmt: str = DEFAULT_FORMAT,
    registry: TableRegistry | None = None,
    with_shape: bool = False,
) -> dict[str, Any]:
    """Overwrite-write ``df`` at ``{source}/Tables/{name}``.

    Reference ``writeTable`` common.py:525-538 with two fixes (SURVEY.md §8
    #6): the writer builder is chained (the reference discarded
    ``partitionBy``'s return value), and the extra full recomputation for
    shape info is opt-in.
    """
    path = table_path(lakehouse, table_name)
    writer = df.write.format(fmt).mode("overwrite")
    if fmt == "delta":
        writer = writer.option("overwriteSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*_as_list(partition_by))
    writer.save(path)

    info: dict[str, Any] = {
        "table": table_name,
        "path": path,
        "format": fmt,
        "partition_by": partition_by,
        "n_cols": len(df.columns),
        "columns": list(df.columns),
    }
    if with_shape:
        info["rows"] = df.count()
    if registry is not None:
        registry.register(table_name, df, info)
    return info


def write_view(
    lakehouse: Lakehouse,
    view_name: str,
    df: DataFrame,
    fmt: str = DEFAULT_FORMAT,
) -> dict[str, Any]:
    """Materialize a DataFrame under ``{source}/Views/{name}`` — the write
    side of :func:`select_view` (the reference could read Views but never
    write them; common.py:390-392 only composed the path)."""
    path = view_path(lakehouse, view_name)
    writer = df.write.format(fmt).mode("overwrite")
    if fmt == "delta":
        writer = writer.option("overwriteSchema", "true")
    writer.save(path)
    return {"view": view_name, "path": path, "format": fmt}


def drop_table(spark: SparkSession, lakehouse: Lakehouse, table_name: str, fmt: str = DEFAULT_FORMAT) -> None:
    """Actually drop the table (reference bug #2: ``dropTable``
    common.py:512-517 only row-deletes and crashes without a spark arg):
    its directory is removed through the Hadoop FileSystem of its URI.
    """
    _remove(spark, table_path(lakehouse, table_name))


def list_tables(spark: SparkSession, lakehouse: Lakehouse) -> list[str]:
    """Enumerate table names under the Tables/ root (reference ``getTables``
    common.py:497-503 globbed a locally-mounted dir; here: Hadoop FS listing,
    which works for any URI scheme without mounting)."""
    return _subdirs(spark, lakehouse.tables_path)


def _subdirs(spark: SparkSession, root: str) -> list[str]:
    """Sorted names of the dirs directly under ``root`` ([] when ``root``
    is missing)."""
    fs, hp = _hadoop(spark, root)
    if not fs.exists(hp):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(hp) if st.isDirectory())


def write_bucketed_table(
    spark: SparkSession,
    table_name: str,
    df: DataFrame,
    bucket_cols: str | list[str],
    n_buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed (hash-clustered) catalog table: rows are pre-partitioned by
    ``hash(bucket_cols) % n_buckets`` at write time, so a join or aggregate
    on the bucket key needs NO shuffle at read time — the single biggest
    lever for repeated large-fact joins at 100 TB (pay the shuffle once at
    write, never again). ``sort_cols`` additionally pre-sorts within
    buckets, removing the sort from sort-merge joins.

    Bucketing requires the session catalog (``saveAsTable``); pick
    ``n_buckets`` so each bucket file lands near your target file size at
    full scale (e.g. 100 TB / 128 MB ≈ 800k → bucket by thousands, not 32).
    """
    bcols = _as_list(bucket_cols)
    # idempotence: DROP an existing registration, then clear any ORPHANED
    # managed-table location (a table dir left by another session's
    # metastore makes saveAsTable fail with LOCATION_ALREADY_EXISTS even
    # though the current catalog has no such table)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    orphan = f"{warehouse.rstrip('/')}/{table_name.lower()}"
    if path_exists(spark, orphan):
        _remove(spark, orphan)
    # One file per bucket: repartition on the bucket key into exactly
    # n_buckets partitions BEFORE the bucketed write. repartition and
    # bucketBy share the same Murmur3 pmod placement, so each write task
    # holds exactly one bucket's rows — without this, every input
    # partition emits a file into every bucket it touches (observed:
    # 1,384 files for a 1.5 MB index, making the bucket-pruned probe
    # SLOWER than an unindexed scan at bench scale).
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bcols])
        .write.format(fmt).mode("overwrite").bucketBy(n_buckets, *bcols)
    )
    if sort_cols:
        writer = writer.sortBy(*_as_list(sort_cols))
    writer.saveAsTable(table_name)


def append_table(
    lakehouse: Lakehouse,
    table_name: str,
    df: DataFrame,
    fmt: str = DEFAULT_FORMAT,
) -> None:
    """Append-mode write (the reference supported only overwrite,
    common.py:529-531). With Delta this is transactional; with parquet new
    files land beside the old — read back with ``merge_schema=True`` if the
    appended frame added columns."""
    writer = df.write.format(fmt).mode("append")
    if fmt == "delta":
        writer = writer.option("mergeSchema", "true")
    writer.save(table_path(lakehouse, table_name))


def read_table_merged(
    spark: SparkSession, lakehouse: Lakehouse, table_name: str, fmt: str = DEFAULT_FORMAT
) -> DataFrame:
    """Read with schema merging across heterogeneous parquet files (schema
    evolution on the read path; Delta resolves from its log instead)."""
    reader = spark.read.format(fmt)
    if fmt == "parquet":
        reader = reader.option("mergeSchema", "true")
    return reader.load(table_path(lakehouse, table_name))


def _hidden(name: str) -> bool:
    """Names Spark's file index skips: ``_SUCCESS``, ``.crc`` files,
    ``_temporary`` and ``.spark-staging-*`` dirs (``_x=1`` is a partition)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(spark: SparkSession, root: str) -> Iterator[tuple[str, int]]:
    """(path relative to ``root``, size) of every data file under ``root``,
    as a read of it sees them: no file or dir below ``root`` with a hidden
    name; nothing for a missing ``root``. A ``listStatus`` walk:
    ``listFiles(recursive)`` also looks up every file's block locations."""
    fs, hp = _hadoop(spark, root)
    dirs = [(hp, "")] if fs.exists(hp) else []
    while dirs:
        d, rel = dirs.pop()
        for st in fs.listStatus(d):
            p = st.getPath()
            name = p.getName()
            if _hidden(name):
                continue
            if st.isDirectory():
                dirs.append((p, f"{rel}{name}/"))
            else:
                yield rel + name, st.getLen()


def _file_stats(files: list[tuple[str, int]]) -> dict[str, Any]:
    return {"n_files": len(files), "total_bytes": sum(size for _p, size in files)}


def table_file_stats(spark: SparkSession, lakehouse: Lakehouse, table_name: str) -> dict[str, Any]:
    """(n_files, total_bytes) under a table path — the compaction signal."""
    return _file_stats(list(_data_files(spark, table_path(lakehouse, table_name))))


def compact_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    target_file_mb: int = 128,
    fmt: str = DEFAULT_FORMAT,
    partition_by: str | list[str] | None = None,
) -> dict[str, Any]:
    """Small-file compaction (the OPTIMIZE of this engine).

    Small files are the classic lakehouse death-by-a-thousand-cuts at scale:
    each file costs a task + a footer read + a metadata entry. Streaming and
    frequent appends produce them; periodic compaction restores scan
    efficiency.

    - Partitioned parquet (``partition_by`` with ``fmt="parquet"``): a
      partition is fragmented when it holds more data files than
      ``ceil(partition bytes / target)``, i.e. more than one for any
      partition below the target size. Only fragmented partitions are read
      and rewritten, in place and one file each, through
      ``_replace_partitions``, the layout every partitioned upsert and
      delete already writes. Every other partition keeps its files under
      the same paths, and on an already compact table the call costs one
      file listing and writes nothing.
    - Any other table is rewritten whole in ``fmt`` and replaces the old
      one through ``_replace_table``'s staged write and rename swap: one
      file per partition when partitioned, else ``ceil(total_bytes /
      target)`` files. A Delta table's log names its live files, so
      rewriting some of its files behind the log would bring back removed
      rows and drop files the log still lists.

    Returns before/after file stats.
    """
    path = table_path(lakehouse, table_name)
    files = list(_data_files(spark, path))
    before = _file_stats(files)
    target = target_file_mb * 1024 * 1024
    n_out = max(1, math.ceil(before["total_bytes"] / target))
    if partition_by and fmt == "parquet":
        n_files, n_bytes = Counter(), Counter()
        for rel, size in files:
            n_files[posixpath.dirname(rel)] += 1
            n_bytes[posixpath.dirname(rel)] += size
        fragmented = [
            posixpath.join(path, d)
            for d in sorted(n_files)
            if n_files[d] > max(1, math.ceil(n_bytes[d] / target))
        ]
        if not fragmented:
            return {"before": before, "after": before, "target_files": n_out}
        # the whole table's schema pins the partition column types: inferred
        # from a few dir names alone, "007" could read back as 7 and be
        # written to a new partition beside the old one
        schema = read_path(spark, path, "parquet").schema
        df = spark.read.schema(schema).option("basePath", path).parquet(*fragmented)
        _replace_partitions(spark, path, df, partition_by, [])
    else:
        df = read_path(spark, path, fmt)
        if partition_by:
            # partitioned table: preserve the layout — repartition on the
            # partition columns (one output file per partition value) and write
            # partitionBy, otherwise compaction would silently flatten the
            # table and break partition pruning
            out = df.repartition(*[F.col(c) for c in _as_list(partition_by)])
        else:
            # coalesce (no shuffle) is enough to merge files; repartition would
            # add an exchange only to re-split — unnecessary for pure compaction
            out = df.coalesce(n_out)
        _replace_table(spark, path, out, partition_by, fmt)
    after = table_file_stats(spark, lakehouse, table_name)
    return {"before": before, "after": after, "target_files": n_out}


def cluster_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    by: str | list[str],
    n_files: int | None = None,
    fmt: str = DEFAULT_FORMAT,
) -> dict[str, Any]:
    """Sort-clustered rewrite — the CLUSTER BY / (1-D) Z-ORDER of this
    engine: range-repartition on the clustering key(s), sort within each
    partition, rewrite, atomic swap.

    After the rewrite every file covers a narrow, non-overlapping range of
    the key, so parquet footer min/max stats (or Delta per-file stats) let a
    filter on that key skip whole files/row-groups instead of scanning the
    table. This is what makes selective queries on a 100 TB fact table read
    gigabytes, not terabytes — compaction fixes file COUNT,
    clustering fixes file RANGES; run both.

    The range partitioner samples the key distribution, so skewed keys
    still produce balanced files. Returns before/after stats.
    """
    cols = _as_list(by)
    before = table_file_stats(spark, lakehouse, table_name)
    path = table_path(lakehouse, table_name)
    df = read_path(spark, path, fmt)
    n_out = n_files or max(1, before["n_files"])
    out = df.repartitionByRange(n_out, *cols).sortWithinPartitions(*cols)
    _replace_table(spark, path, out, fmt=fmt)
    after = table_file_stats(spark, lakehouse, table_name)
    return {"before": before, "after": after, "clustered_by": cols, "files": n_out}


def zorder_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    by: list[str],
    n_files: int | None = None,
    bits: int | None = None,
    fmt: str = DEFAULT_FORMAT,
) -> dict[str, Any]:
    """Multi-dimensional clustered rewrite: sort the table by the Morton
    (Z-order) code of ``by`` and rewrite with the same atomic swap as
    :func:`cluster_table`.

    Where ``cluster_table`` gives file-level skipping on ONE key,
    Z-ordering splits the skipping power across all ``by`` columns: each
    file covers a narrow range of EVERY key (≈ global_range /
    n_files^(1/k)), so selective filters on any of them prune files. Use
    for fact tables queried by several independent dimensions (date +
    customer + part); keep 1-D clustering when one key dominates.

    Costs one stats job (min/max per key) + one full rewrite; the Morton
    code is a pure shift/mask expression (functions/zorder.py), so the
    sort stays in whole-stage codegen.
    """
    from ..functions.zorder import zvalue

    before = table_file_stats(spark, lakehouse, table_name)
    path = table_path(lakehouse, table_name)
    df = read_path(spark, path, fmt)
    n_out = n_files or max(1, before["n_files"])
    z = zvalue(df, by, bits=bits)
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_out, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    _replace_table(spark, path, out, fmt=fmt)
    after = table_file_stats(spark, lakehouse, table_name)
    return {"before": before, "after": after, "zordered_by": list(by), "files": n_out}


def ns_to_timestamp(df: DataFrame, *cols: str) -> DataFrame:
    """Convert long nanosecond-epoch columns (parquet TIMESTAMP(NANOS) read
    under ``spark.sql.legacy.parquet.nanosAsLong``) to timestamps, truncating
    to microseconds exactly as DuckDB does when reading the same files."""
    for c in cols:
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver fixture table; normalizes the events nanosecond ts.

    Works on ANY session: ``spark.sql.legacy.parquet.nanosAsLong`` is a
    runtime SQL conf, set here defensively because sessions not built by
    :func:`~..session.get_spark` (e.g. a test driver's own session) would
    otherwise fail with PARQUET_TYPE_ILLEGAL on nanosecond timestamps."""
    # UTC pin: parquet timestamps are naive; a non-UTC session would shift
    # date_format/window outputs relative to engines reading them naively
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI pin: Spark 4 defaults ANSI on; this engine's semantics (null-on-
    # failure casts matching the reference's castColumns, division safety)
    # are defined under ANSI-off — same value session.get_spark sets. A
    # runtime conf, so it applies to any externally-built session too.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = ns_to_timestamp(df, "ts")
    return df


def load_star(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's parquet fixture tables from ``sf_dir`` (TESTDATA.md)."""
    names = tables or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    bad_records_col: str | None = None,
    **options: Any,
) -> DataFrame:
    """CSV ingestion (the reference reads Delta only — common.py:448; raw-file
    ingestion is table stakes for a lakehouse, so it's first-class here).

    Pass an explicit ``schema`` DDL string in production: schema inference
    costs a full extra pass over the files — at 100 TB that's a second scan
    before the first real job. With ``bad_records_col`` set, malformed lines
    land in that column (PERMISSIVE) instead of failing the job; without it,
    FAILFAST surfaces bad data at read time rather than as silent nulls.
    """
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(
            schema if bad_records_col is None else f"{schema}, {bad_records_col} STRING"
        )
        reader = reader.option(
            "mode", "PERMISSIVE" if bad_records_col else "FAILFAST"
        )
        if bad_records_col:
            reader = reader.option("columnNameOfCorruptRecord", bad_records_col)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    bad_records_col: str | None = None,
    **options: Any,
) -> DataFrame:
    """JSON-Lines ingestion; same schema/corrupt-record contract as
    :func:`read_csv`. (Multi-line JSON documents need ``multiLine=True`` —
    note that multiLine makes each FILE one record, killing input-split
    parallelism; at scale, always prefer JSONL.)"""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(
            schema if bad_records_col is None else f"{schema}, {bad_records_col} STRING"
        )
        reader = reader.option(
            "mode", "PERMISSIVE" if bad_records_col else "FAILFAST"
        )
        if bad_records_col:
            reader = reader.option("columnNameOfCorruptRecord", bad_records_col)
    return reader.json(path)


def export_files(
    lakehouse: Lakehouse,
    name: str,
    df: DataFrame,
    fmt: str = "csv",
    single_file: bool = False,
    **options: Any,
) -> dict[str, Any]:
    """Export a DataFrame under ``{source}/Files/{name}`` as
    csv/json/parquet/orc — the interchange sink (Delta/parquet under Tables/
    stays the analytic format; Files/ is for handing data to external
    consumers, mirroring the reference lakehouse's Tables/Files split,
    common.py:313-327).

    ``single_file=True`` coalesces to one output file — only for small
    exports (it serializes the final write); large exports keep one file per
    partition. Parquet exports use the session codec (zstd under
    :func:`~..session.get_spark`); ``**options`` go to the writer, so
    ``compression="snappy"`` picks another codec for one export.
    """
    if fmt not in ("csv", "json", "parquet", "orc"):
        raise ValueError(f"unsupported export format: {fmt!r}")
    path = posixpath.join(lakehouse.files_path, name)
    out = df.coalesce(1) if single_file else df
    writer = out.write.format(fmt).mode("overwrite").options(**options)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
    return {"name": name, "path": path, "format": fmt}


def vacuum_orphans(lakehouse: Lakehouse, dry_run: bool = False) -> list[str]:
    """Remove orphaned rewrite artifacts under ``Tables/``: the staging
    dirs and ``__old_*`` backups that an interrupted table replacement
    (compaction, clustering, Z-ordering, upsert, delete, state merge) can
    leave behind (the swap itself is atomic; the cleanup after it isn't).

    The VACUUM of this engine's parquet path (Delta has its own). Matches
    ONLY the engine's own suffix conventions — never user tables. Lists
    and removes through the Hadoop FileSystem of the active Spark session.
    Returns the removed (or, with ``dry_run``, would-be-removed) paths,
    joined onto ``lakehouse.tables_path`` as given: a ``file://`` or
    ``abfss://`` lakehouse gets URIs.
    """
    pat = re.compile(f"({'|'.join(_ORPHAN_MARKERS)})[0-9a-f]{{32}}$")
    root = lakehouse.tables_path
    spark = SparkSession.active()
    removed = [posixpath.join(root, d) for d in _subdirs(spark, root) if pat.search(d)]
    if not dry_run:
        for full in removed:
            _remove(spark, full)
    return removed


def zone_map(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    cols: list[str],
    fmt: str = DEFAULT_FORMAT,
) -> DataFrame:
    """Per-FILE min/max zone map for ``cols`` — the data-skipping index
    Delta/Iceberg keep in their metadata, computed openly with one
    aggregate over ``input_file_name()``.

    Output: ``(file, n_rows, <c>_min, <c>_max ...)`` — one row per data
    file. Combine with :func:`cluster_table` / :func:`zorder_table`
    (which make per-file ranges narrow) and :func:`read_pruned` (which
    consults the map to skip files). At 100 TB the map is ~1 row per
    128 MB file (thousands of rows, not billions) — cheap to persist as a
    table and rebuild incrementally per appended file.
    """
    df = read_path(spark, table_path(lakehouse, table_name), fmt)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def read_pruned(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    ranges: dict[str, tuple[Any, Any]],
    zmap: DataFrame | None = None,
    fmt: str = DEFAULT_FORMAT,
) -> tuple[DataFrame, dict[str, Any]]:
    """Range-predicate read that SKIPS whole files via a zone map, then
    applies the exact row filter — same rows as a plain filtered read,
    fewer files opened.

    ``ranges`` maps column -> (lo, hi) inclusive bounds (either side None
    for open). A file survives when every predicate's range overlaps the
    file's [min, max] (NULL stats — all-null column in a file — keep the
    file: skipping must be provably safe). Returns ``(df, info)`` where
    ``info`` reports files_total / files_read for observability; the
    returned plan lists surviving files explicitly, so the scan never
    touches a skipped file (footer or data).

    This is the engine-level analogue of parquet row-group pruning one
    level up: row-group stats still prune WITHIN the surviving files.
    """
    if zmap is None:
        zmap = zone_map(spark, lakehouse, table_name, list(ranges), fmt)
    keep = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            keep = keep & (F.col(f"{c}_max").isNull() | (F.col(f"{c}_max") >= F.lit(lo)))
        if hi is not None:
            keep = keep & (F.col(f"{c}_min").isNull() | (F.col(f"{c}_min") <= F.lit(hi)))
    # one pass over the map: both counts come from the same collected list
    marked = zmap.select("file", keep.alias("keep")).collect()
    files = [f for f, k in marked if k]
    df = spark.read.format(fmt).load(files) if files else read_path(
        spark, table_path(lakehouse, table_name), fmt
    ).limit(0)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.where(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(c) <= F.lit(hi))
    return df, {"files_total": len(marked), "files_read": len(files)}
