"""SparkSession factory.

Reference parity: ``sparkSession`` (reference common.py:111-122) creates a
module-global session *at import time* and ignores its ``appName`` argument
(SURVEY.md §8 bug #3). This engine replaces it with an explicit, side-effect
free factory that honors its arguments and applies a scale-oriented default
config (AQE, Arrow, sane shuffle parallelism).

Scale notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion are essential on real clusters.
- ``spark.sql.shuffle.partitions`` defaults to ``SPARK_GRAFT_SHUFFLE`` or 32
  (``shuffle_partitions=`` overrides both); on a 1000-executor cluster you'd
  set this to 2-3x total cores (or let AQE coalesce from a high initial
  value).
- Arrow enabled so any pandas_udf path is Arrow-batched, never pickled rows.
- Parquet files are written with zstd, not Spark's snappy default: every
  table write, rewrite, append and sink in this package follows the session
  codec, so each file holds about a third fewer bytes to write, store and
  read back. ``extra_conf={"spark.sql.parquet.compression.codec": "snappy"}``
  (or ``spark.conf.set``) restores snappy for readers without zstd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APPNAME_DEFAULT = "ecu_sbl_aace_datalake_spark"


def get_spark(
    app_name: str | None = None,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create or get a SparkSession with scale-appropriate defaults.

    Unlike the reference (common.py:111-122), ``app_name`` is honored and no
    session is created at import time.
    """
    builder = SparkSession.builder.appName(app_name or APPNAME_DEFAULT)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")

    conf = {
        # local-mode default driver heap is 1g and the driver IS the
        # executor — heavy array/UDF workloads OOM the JVM outright.
        # Only effective when this builder actually starts the JVM.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Adaptive execution: coalesce small shuffle partitions, split skewed
        # ones, convert sort-merge joins to broadcast at runtime.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for any pandas_udf / toPandas path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Non-ANSI: casts are null-on-failure, matching the reference's
        # castColumns semantics (common.py:836-869).
        "spark.sql.ansi.enabled": "false",
        # Session timezone pinned for deterministic timestamp semantics
        # against the DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        # Let AQE rewrite sort-merge joins to shuffled-hash at runtime when
        # every post-shuffle partition is below the threshold (guide §3.1):
        # skips the sort on moderate build sides. AQE-only on purpose —
        # round 12 dropped the r11 static `preferSortMergeJoin=false`
        # companion: interleaved A/B (plans/r12/AB_shj_aqe_only.json) shows
        # the AQE rewrite alone keeps every heavy-join win (pagerank 0.79,
        # bm25f 0.75, corpus_prepare_full 0.76 vs static+AQE), and the
        # static flag lets the compile-time planner pick SHJ from size
        # ESTIMATES — an underestimated build side (post-explode rows)
        # can OOM since the SHJ build map does not spill. The AQE path
        # decides from true runtime partition sizes, so it is the
        # scale-safe form of the same optimization.
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        # Parquet TIMESTAMP(NANOS) columns (e.g. pandas-written event data)
        # are unreadable by Spark otherwise; read as long and convert with
        # ns_to_timestamp (sources.io) — floor-div to micros, matching
        # DuckDB's ns→µs truncation.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # zstd instead of snappy for every Parquet (and Delta data) file a
        # write in this package makes: one session default, not a writer
        # option, so table writes, partition rewrites, appends and sinks all
        # follow it. On the lakehouse benchmark it writes a third fewer bytes
        # per input byte; Spark, DuckDB and pyarrow all read zstd pages.
        "spark.sql.parquet.compression.codec": "zstd",
    }
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def recommended_cluster_conf(total_cores: int, input_tb: float) -> dict[str, str]:
    """Config preset for a real cluster run — the knobs that change between
    local[32]/60 MB and 1000-executor/100 TB, with the reasoning encoded.

    Local testing never exercises these; a deployment applies them via
    ``get_spark(extra_conf=recommended_cluster_conf(4000, 100))``.
    """
    # shuffle partitions: ~2-3 tasks per core for stragglers, but AQE
    # coalesces, so err high: one partition per ~128 MB of shuffled data,
    # floored at 2x cores
    bytes_total = int(input_tb * (1 << 40))
    by_data = bytes_total // (128 * (1 << 20))
    shuffle_parts = max(2 * total_cores, min(by_data, 200_000))
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        # scan split size: 128 MB default is right for parquet; raise to
        # 256 MB when files are large and well-compressed to cut task count
        "spark.sql.files.maxPartitionBytes": str(256 * (1 << 20)),
        # broadcast up to 64 MB dims (executors at this scale have the RAM;
        # saves a 100 TB fact-side shuffle every time it applies)
        "spark.sql.autoBroadcastJoinThreshold": str(64 * (1 << 20)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
    }
