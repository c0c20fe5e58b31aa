"""Upsert (MERGE) and watermark-based incremental ingestion.

With Delta/Iceberg these are log-native operations (``MERGE INTO``,
streaming checkpoints). This module provides the same semantics over the
plain-parquet lakehouse:

- :func:`upsert_table` / :func:`delete_rows` — keyed merge and keyed
  delete. Partitioned tables rewrite only the partitions holding touched
  keys (a merge touching 1 day of a year-partitioned table rewrites
  1/365th of it) through ``io._replace_partitions``, which writes each
  rewritten partition as one data file, the layout ``io.compact_table``
  keeps, so a compaction after an upsert or delete finds nothing to
  rewrite. The price is write parallelism: one task writes each rewritten
  partition, whatever its size. It also removes partitions the rewrite
  left empty. Unpartitioned tables are rewritten whole through
  ``io._replace_table``'s staged write and rename swap, flagged in the
  returned stats. Neither writes a table any other way.
- :func:`incremental_append` — high-watermark ingestion: append only source
  rows newer than the stored watermark; watermark persisted in a JSON
  sidecar under the table path (the parquet-world stand-in for a streaming
  checkpoint).
"""

from __future__ import annotations

import json
import os
import posixpath
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Lakehouse, table_path
from .io import (
    _in_partitions,
    _partition_values,
    _replace_partitions,
    _replace_table,
    read_path,
)


def upsert_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> dict[str, Any]:
    """MERGE semantics: rows matching ``keys`` are replaced by ``updates``,
    new keys are inserted, untouched rows are preserved.

    Partitioned path: compute affected partitions from ``updates``, rebuild
    only those (existing-minus-matched ∪ updates), write with dynamic
    partition overwrite — untouched partitions' files are never rewritten.
    Each rewritten partition is written as one file by one task, so the
    largest touched partition bounds the write time.

    ``updates`` is evaluated by two Spark jobs: the affected-partition
    collect (partitioned tables only) and the write. Persist it first if
    its plan is expensive.
    """
    path = table_path(lakehouse, table_name)
    existing = read_path(spark, path, "parquet")
    if partition_by:
        # affected partitions = partitions the updates land in PLUS the
        # partitions currently holding any matched key — a key whose
        # partition value changes must have its old row removed from the
        # old partition, or it would survive as a duplicate
        old_parts = existing.join(updates.select(*keys), keys, "left_semi")
        affected, names = _partition_values(
            updates.select(partition_by).union(old_parts.select(partition_by)),
            partition_by,
        )
        existing = existing.where(_in_partitions(partition_by, affected))
    kept = existing.join(updates.select(*keys), keys, "left_anti")
    merged = kept.unionByName(updates.select(*existing.columns))
    if partition_by:
        _replace_partitions(spark, path, merged, partition_by, names)
        return {"mode": "dynamic-partition", "partitions_rewritten": len(affected)}
    _replace_table(spark, path, merged, fmt="parquet")
    return {"mode": "full-rewrite"}


def delete_rows(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    keys_df: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> dict[str, Any]:
    """Keyed deletion (the right-to-be-forgotten op): remove every row whose
    ``keys`` appear in ``keys_df``.

    Partitioned path mirrors :func:`upsert_table`: only partitions that
    contain targeted keys are rewritten (found via a semi-join — one pass),
    so deleting one user from a user-partitioned table rewrites one
    partition, and a partition left with no rows is removed. As there, one
    task writes each rewritten partition as one file. Unpartitioned:
    anti-join + staged full rewrite.
    """
    path = table_path(lakehouse, table_name)
    existing = read_path(spark, path, "parquet")
    if not partition_by:
        _replace_table(spark, path, existing.join(keys_df, keys, "left_anti"), fmt="parquet")
        return {"mode": "full-rewrite"}
    affected, names = _partition_values(
        existing.join(keys_df, keys, "left_semi"), partition_by
    )
    if affected:
        kept = existing.where(_in_partitions(partition_by, affected)).join(
            keys_df, keys, "left_anti"
        )
        _replace_partitions(spark, path, kept, partition_by, names)
    return {"mode": "dynamic-partition", "partitions_rewritten": len(affected)}


def _watermark_path(lakehouse: Lakehouse, table_name: str) -> str:
    return posixpath.join(table_path(lakehouse, table_name) + "__meta", "watermark.json")


def get_watermark(lakehouse: Lakehouse, table_name: str) -> str | None:
    p = _watermark_path(lakehouse, table_name)
    local = urlparse(p).path or p
    if os.path.exists(local):
        with open(local) as f:
            return json.load(f)["watermark"]
    return None


def incremental_append(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    source: DataFrame,
    ts_col: str,
) -> dict[str, Any]:
    """Append only source rows with ``ts_col`` strictly beyond the stored
    high watermark, then advance it. First call ingests everything.

    Idempotent between watermark advances: re-running with an unchanged
    source appends nothing. (Exactly-once under concurrent writers needs a
    transactional log — Delta/Iceberg territory; this is the single-writer
    batch pattern.)
    """
    path = table_path(lakehouse, table_name)
    wm = get_watermark(lakehouse, table_name)
    fresh = source if wm is None else source.where(F.col(ts_col) > F.lit(wm))
    # the new watermark and the row count in one job over ``fresh``
    new_wm, n = fresh.agg(F.max(ts_col), F.count(F.lit(1))).first()
    if n:
        fresh.write.format("parquet").mode("append").save(path)
        wm_out = str(new_wm)
        local_meta = urlparse(_watermark_path(lakehouse, table_name)).path
        os.makedirs(os.path.dirname(local_meta), exist_ok=True)
        with open(local_meta, "w") as f:
            json.dump({"watermark": wm_out}, f)
    return {"appended": n, "watermark": get_watermark(lakehouse, table_name)}


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per
    changed key with ``change_type`` ∈ {insert, delete, update} — the
    hand-rolled equivalent of a Delta Change Data Feed read, for engines
    (or history windows) where no CDF was recorded.

    Implementation is a single full-outer join on ``keys`` plus a
    struct-packed column comparison: both sides' non-key columns travel
    as ONE struct each, so update detection is a single null-safe struct
    equality (atomic row semantics — no per-column drift) and the output
    carries the old/new images the way CDF does. One shuffle, partial
    nothing — at 100 TB run it on partition-pruned slices (the usual CDC
    window) or bucketed snapshots for a shuffle-free join.

    Unchanged keys are dropped. Output: keys…, change_type,
    old_image struct, new_image struct.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, F.struct(*[F.col(c) for c in compare_cols]).alias("old_image")
    )
    n = new.select(
        *keys, F.struct(*[F.col(c) for c in compare_cols]).alias("new_image")
    )
    joined = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("old_image").isNull(), F.lit("insert"))
        .when(F.col("new_image").isNull(), F.lit("delete"))
        .when(~F.col("old_image").eqNullSafe(F.col("new_image")), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*keys, "change_type", "old_image", "new_image")
    )
