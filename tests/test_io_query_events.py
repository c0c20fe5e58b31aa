"""IO round-trips, query helpers, event/streaming ops, profiling."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from ecu_sbl_aace_datalake_spark.operators import profile
from ecu_sbl_aace_datalake_spark.operators.query import (
    build_select_sql,
    clean_string,
    escape_name,
    first_char_is_numeric,
    sql_over,
    temp_table_name,
)
from ecu_sbl_aace_datalake_spark.sources import io as lio
from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse, TableRegistry
from ecu_sbl_aace_datalake_spark.streaming import events as ev


class TestQueryHelpers:
    def test_escape_name(self):
        assert escape_name("plain") == "plain"
        assert escape_name("has space") == "`has space`"
        assert escape_name("has-dash") == "`has-dash`"
        assert escape_name("`already`") == "`already`"
        assert escape_name("db.my table") == "db.`my table`"

    def test_clean_string(self):
        assert clean_string("a b-c_d!9") == "abc_d9"

    def test_first_char_is_numeric_returns_bool(self):
        assert first_char_is_numeric("9a") is True
        assert first_char_is_numeric("a9") is False
        assert first_char_is_numeric("") is False  # reference bug #12 fixed

    def test_temp_table_name_unique_and_clean(self):
        a, b = temp_table_name("My Table!"), temp_table_name("My Table!")
        assert a != b
        assert a.startswith("MyTable_")
        assert temp_table_name("9lives")[0] == "_"

    def test_build_select_sql(self):
        assert build_select_sql("t", "a") == "SELECT a FROM t"
        assert (
            build_select_sql("t", ["a", "b c"], distinct=True)
            == "SELECT a, `b c` FROM t GROUP BY a, `b c`"
        )

    def test_sql_over_shape_mismatch_raises(self, spark):
        df = spark.range(1)
        with pytest.raises(ValueError):
            sql_over(spark, [df, df], ["one"], "SELECT 1")

    def test_sql_over_multi_view(self, spark):
        a = spark.createDataFrame([(1,)], "x long")
        b = spark.createDataFrame([(1, "y")], "x long, v string")
        out = sql_over(
            spark, [a, b], ["va", "vb"], "SELECT v FROM va JOIN vb USING (x)"
        )
        assert out.first().v == "y"


class TestIO:
    def test_write_read_drop_roundtrip(self, spark, sf_dir):
        lh = Lakehouse("t", tempfile.mkdtemp())
        reg = TableRegistry()
        orders = lio.load_table(spark, sf_dir, "orders")
        info = lio.write_table(lh, "o", orders, partition_by="o_orderstatus", registry=reg, with_shape=True)
        assert info["rows"] == orders.count()
        assert "o" in reg
        assert lio.list_tables(spark, lh) == ["o"]
        back = lio.read_table(spark, lh, "o", columns=["o_orderkey"], condition="o_orderkey < 100")
        assert back.columns == ["o_orderkey"]
        assert back.count() == orders.where("o_orderkey < 100").count()
        lio.drop_table(spark, lh, "o")
        assert lio.list_tables(spark, lh) == []

    def test_partitioned_write_prunes(self, spark, sf_dir):
        lh = Lakehouse("t", tempfile.mkdtemp())
        orders = lio.load_table(spark, sf_dir, "orders")
        lio.write_table(lh, "o", orders, partition_by="o_orderstatus")
        scan = lio.read_table(spark, lh, "o", condition="o_orderstatus = 'F'")
        plan = scan._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the file source (partition pruning)
        assert "o_orderstatus" in plan

    def test_select_table_custom_query(self, spark, sf_dir):
        lh = Lakehouse("t", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        lio.write_table(lh, "nation", nation)
        out = lio.select_table(
            spark, lh, "nation", "SELECT COUNT(*) AS n FROM {table} WHERE n_regionkey = 0"
        )
        assert out.first().n == nation.where("n_regionkey = 0").count()


class TestEvents:
    @pytest.fixture(scope="class")
    def events(self, spark, sf_dir):
        return lio.load_table(spark, sf_dir, "events")

    def test_ns_timestamp_loaded(self, events):
        assert dict(events.dtypes)["ts"].startswith("timestamp")

    def test_tumbling_counts_sum_to_total(self, events):
        out = ev.tumbling_agg(events, "1 hour")
        assert out.agg(F.sum("n_events")).first()[0] == events.count()

    def test_sessionize_gap_semantics(self, spark):
        rows = [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:10:00"),  # same session (10 min)
            (1, "2024-01-01 01:00:00"),  # new session (50 min gap)
            (2, "2024-01-01 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        out = ev.sessionize(df, gap="30 minutes").collect()
        sess = {(r.user_id, str(r.ts)): r.session_id for r in out}
        assert sess[(1, "2024-01-01 00:00:00")] == 1
        assert sess[(1, "2024-01-01 00:10:00")] == 1
        assert sess[(1, "2024-01-01 01:00:00")] == 2
        assert sess[(2, "2024-01-01 00:00:00")] == 1

    def test_session_window_matches_lag_gap_counts(self, events):
        truncated = events.withColumn("ts", F.date_trunc("second", "ts"))
        lag_sessions = (
            ev.sessionize(truncated, gap="30 minutes")
            .groupBy("user_id", "session_id")
            .count()
        )
        native = ev.session_window_agg(truncated, gap="30 minutes")
        assert native.count() == lag_sessions.count()

    def test_streaming_compatible(self, spark, tmp_path, events):
        """The same tumbling agg plan must run under readStream."""
        src = str(tmp_path / "stream_src")
        events.limit(200).write.parquet(src)
        stream = (
            spark.readStream.schema(events.schema).parquet(src)
        )
        agg = ev.tumbling_agg(
            ev.with_watermark(stream, "ts", "1 hour"), "1 hour"
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("t_stream_agg")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    def test_anomaly_flags_planted_spike(self, spark):
        rows = [(i, "u", f"2024-01-01 10:{i:02d}:00", 10.0 + (i % 3) * 0.1)
                for i in range(20)]
        rows.append((99, "u", "2024-01-01 10:30:30", 500.0))  # the spike
        df = spark.createDataFrame(
            rows, "event_id long, user_id string, ts string, value double"
        ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "value")
        out = {r.event_id: r for r in ev.with_anomaly_flags(df).collect()}
        assert out[99].is_anomaly
        # steady values are never flagged, and n<2 rows have null sigma
        assert not any(out[i].is_anomaly for i in range(20))
        assert out[0].trailing_std is None and out[0].trailing_n == 1

    def test_parse_props(self, events):
        out = ev.parse_props(events.limit(5))
        assert "k" in out.columns
        assert all(r.k is not None for r in out.collect())


class TestProfile:
    def test_star_schema_fks_discovered(self, spark, sf_dir):
        tables = {
            n: lio.load_table(spark, sf_dir, n)
            for n in ("region", "nation", "customer", "orders")
        }
        rels = profile.find_relationships(spark, tables)
        found = {
            (r.from_table, r.from_col, r.to_table, r.to_col) for r in rels.collect()
        }
        assert ("nation", "n_regionkey", "region", "r_regionkey") in found
        assert ("customer", "c_nationkey", "nation", "n_nationkey") in found
        assert ("orders", "o_custkey", "customer", "c_custkey") in found

    def test_graphviz_renders(self, spark, sf_dir):
        tables = {
            n: lio.load_table(spark, sf_dir, n) for n in ("region", "nation")
        }
        rels = profile.find_relationships(spark, tables)
        dot = profile.to_graphviz(rels)
        assert dot.startswith("digraph") and "region" in dot


class TestFormats:
    """write_table/read_path are format-generic: csv and json round-trip
    (the reference was Delta-only; parquet is this engine's primary)."""

    def test_csv_json_roundtrip(self, spark, sf_dir):
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse

        nation = lio.load_table(spark, sf_dir, "nation")
        for fmt in ("json", "parquet"):
            lh = Lakehouse("fmt", tempfile.mkdtemp())
            lio.write_table(lh, "nation", nation, fmt=fmt)
            back = lio.read_path(spark, f"{lh.tables_path}/nation", fmt)
            assert back.count() == 25
        # csv needs header to round-trip column names
        lh = Lakehouse("fmt", tempfile.mkdtemp())
        nation.write.format("csv").option("header", True).save(f"{lh.tables_path}/nation")
        back = spark.read.format("csv").option("header", True).option("inferSchema", True).load(f"{lh.tables_path}/nation")
        assert back.count() == 25 and back.columns == nation.columns


class TestCompactionEvolution:
    def test_compaction_reduces_files_preserves_data(self, spark, sf_dir):
        import tempfile

        lh = Lakehouse("c", tempfile.mkdtemp())
        orders = lio.load_table(spark, sf_dir, "orders")
        orders.repartition(32).write.parquet(f"{lh.tables_path}/orders")
        before = lio.table_file_stats(spark, lh, "orders")
        assert before["n_files"] >= 32
        checksum_before = (
            lio.read_path(spark, f"{lh.tables_path}/orders", "parquet")
            .agg(F.sum("o_orderkey"), F.count("*")).first()
        )
        result = lio.compact_table(spark, lh, "orders", target_file_mb=128)
        assert result["after"]["n_files"] < before["n_files"]
        assert result["after"]["n_files"] <= 2
        checksum_after = (
            lio.read_path(spark, f"{lh.tables_path}/orders", "parquet")
            .agg(F.sum("o_orderkey"), F.count("*")).first()
        )
        assert tuple(checksum_before) == tuple(checksum_after)

    def test_append_and_schema_evolution(self, spark, sf_dir):
        import tempfile

        lh = Lakehouse("e", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        lio.write_table(lh, "nation", nation)
        evolved = nation.withColumn("extra", F.lit("x"))
        lio.append_table(lh, "nation", evolved)
        merged = lio.read_table_merged(spark, lh, "nation")
        assert merged.count() == 50
        assert "extra" in merged.columns
        # old rows surface null for the new column
        assert merged.where(F.col("extra").isNull()).count() == 25


class TestDeltaReadiness:
    def test_delta_write_path_when_available(self, spark, sf_dir):
        """Exercised only where delta-spark is installed; documents the
        gated code path either way."""
        import pytest

        from ecu_sbl_aace_datalake_spark.sources.io import _HAS_DELTA, DEFAULT_FORMAT

        if not _HAS_DELTA:
            assert DEFAULT_FORMAT == "parquet"
            pytest.skip("delta-spark not installed; parquet is primary")
        lh = Lakehouse("d", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        lio.write_table(lh, "nation", nation, fmt="delta")
        assert lio.read_path(spark, f"{lh.tables_path}/nation", "delta").count() == 25

    def test_partitioned_delta_compaction_reads_the_log(self, spark, sf_dir):
        """An overwrite leaves the old files of a Delta table on disk;
        compaction must rewrite what the log says is live, not every file."""
        from ecu_sbl_aace_datalake_spark.sources.io import _HAS_DELTA

        if not _HAS_DELTA:
            pytest.skip("delta-spark not installed; parquet is primary")
        lh = Lakehouse("dc", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        lio.write_table(lh, "nation", nation, partition_by="n_regionkey", fmt="delta")
        kept = nation.where("n_nationkey < 20").repartition(4)
        lio.write_table(lh, "nation", kept, partition_by="n_regionkey", fmt="delta")
        lio.compact_table(spark, lh, "nation", fmt="delta", partition_by="n_regionkey")
        back = lio.read_path(spark, f"{lh.tables_path}/nation", "delta")
        assert sorted(r.n_nationkey for r in back.collect()) == list(range(20))


class TestWriteView:
    def test_view_write_read_roundtrip(self, spark, sf_dir):
        import tempfile

        lh = Lakehouse("v", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        summary = nation.groupBy("n_regionkey").count()
        info = lio.write_view(lh, "nations_per_region", summary)
        assert "/Views/" in info["path"]
        back = lio.select_view(
            spark, lh, "nations_per_region", "SELECT COUNT(*) AS n FROM {table}"
        )
        assert back.first().n == summary.count()


class TestCsvJsonIngestion:
    def test_csv_roundtrip_with_schema(self, spark, sf_dir):
        import tempfile

        lh = Lakehouse("x", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        info = lio.export_files(lh, "nation_csv", nation, fmt="csv")
        back = lio.read_csv(
            spark, info["path"],
            schema="n_nationkey INT, n_name STRING, n_regionkey INT")
        assert sorted(r.n_nationkey for r in back.collect()) == list(range(25))
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in nation.schema.fields
        ]

    def test_json_roundtrip(self, spark, sf_dir):
        import tempfile

        lh = Lakehouse("x", tempfile.mkdtemp())
        region = lio.load_table(spark, sf_dir, "region")
        info = lio.export_files(lh, "region_json", region, fmt="json", single_file=True)
        back = lio.read_json(
            spark, info["path"], schema="r_regionkey BIGINT, r_name STRING")
        assert {r.r_name for r in back.collect()} == {
            r.r_name for r in region.collect()}

    def test_orc_roundtrip(self, spark, sf_dir):
        import tempfile

        lh = Lakehouse("x", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        info = lio.export_files(lh, "nation_orc", nation, fmt="orc")
        back = spark.read.orc(info["path"])
        assert sorted(r.n_nationkey for r in back.collect()) == list(range(25))
        assert back.schema == nation.schema

    def test_bad_csv_records_quarantined(self, spark, tmp_path):
        p = tmp_path / "bad.csv"
        p.write_text("a,b\n1,2\nnot_an_int,5\n3,4\n")
        df = lio.read_csv(
            spark, str(p), schema="a INT, b INT", bad_records_col="_bad")
        rows = df.collect()
        good = [r for r in rows if r._bad is None]
        bad = [r for r in rows if r._bad is not None]
        assert len(good) == 2 and len(bad) == 1
        assert "not_an_int" in bad[0]._bad

    def test_failfast_without_quarantine(self, spark, tmp_path):
        p = tmp_path / "bad2.csv"
        p.write_text("a,b\n1,2\nnope,5\n")
        with pytest.raises(Exception, match="Malformed|FAILFAST"):
            lio.read_csv(spark, str(p), schema="a INT, b INT").collect()

    def test_unsupported_export_format(self, spark, sf_dir):
        import tempfile

        lh = Lakehouse("x", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        with pytest.raises(ValueError, match="unsupported export"):
            lio.export_files(lh, "nope", nation, fmt="avro")


class TestClusterTable:
    def test_clustered_files_have_disjoint_key_ranges(self, spark, sf_dir):
        import glob
        import tempfile

        import pyarrow.parquet as pq

        lh = Lakehouse("c", tempfile.mkdtemp())
        li = lio.load_table(spark, sf_dir, "lineitem")
        # scatter the key across 6 files (worst case: every file spans the
        # full key range → zero skipping possible)
        lio.write_table(lh, "lineitem", li.repartition(6))
        out = lio.cluster_table(spark, lh, "lineitem", by="l_orderkey", n_files=6)
        assert out["after"]["n_files"] >= 4

        ranges = []
        for f in glob.glob(f"{lh.tables_path}/lineitem/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("l_orderkey")
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            ranges.append((lo, hi))
        ranges.sort()
        # consecutive files must not interleave: file i's max <= file i+1's min
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, (ranges,)

        # content unchanged by the rewrite
        back = lio.read_path(spark, f"{lh.tables_path}/lineitem", "parquet")
        assert back.count() == li.count()


class TestVacuumOrphans:
    def test_removes_only_engine_artifacts(self, spark, sf_dir, tmp_path):
        import os

        lh = Lakehouse("v", str(tmp_path))
        nation = lio.load_table(spark, sf_dir, "nation")
        lio.write_table(lh, "nation", nation)
        h = "a" * 32
        for d in (f"nation__compact_{h}", f"nation__old_{h}", f"other__cluster_{h}"):
            os.makedirs(os.path.join(lh.tables_path, d))
        would = lio.vacuum_orphans(lh, dry_run=True)
        assert len(would) == 3
        assert lio.list_tables(spark, lh) != []  # dry run touched nothing
        removed = lio.vacuum_orphans(lh)
        assert len(removed) == 3
        assert sorted(os.listdir(lh.tables_path)) == ["nation"]

    def test_removes_what_interrupted_rewrites_leave(self, spark, sf_dir, tmp_path, monkeypatch):
        """A rewrite that dies before its swap leaves its staging dir; so
        may a Z-order rewrite of an earlier version (``__zorder_``)."""
        import os

        lh = Lakehouse("v", str(tmp_path))
        lio.write_table(lh, "nation", lio.load_table(spark, sf_dir, "nation"))

        def crash(*_args):
            raise OSError("interrupted before the swap")

        monkeypatch.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="interrupted"):
            lio.compact_table(spark, lh, "nation")
        monkeypatch.undo()
        os.makedirs(os.path.join(lh.tables_path, f"nation__zorder_{'b' * 32}"))
        left = sorted(d for d in os.listdir(lh.tables_path) if d != "nation")
        assert len(left) == 2
        removed = lio.vacuum_orphans(lh)
        assert sorted(os.path.basename(p) for p in removed) == left
        assert sorted(os.listdir(lh.tables_path)) == ["nation"]
        assert lio.read_path(spark, f"{lh.tables_path}/nation", "parquet").count() == 25

    def test_noop_on_missing_root(self, tmp_path):
        lh = Lakehouse("v", str(tmp_path / "nowhere"))
        assert lio.vacuum_orphans(lh) == []

    def test_remote_root_goes_through_hadoop_fs(self, spark, sf_dir, tmp_path, monkeypatch):
        """A remote lakehouse (abfss/s3a) has a URI root that ``os`` cannot
        list; its orphans are listed and removed through the Hadoop
        FileSystem instead of silently surviving."""
        import os

        lh = Lakehouse("v", f"file://{tmp_path}")
        lio.write_table(lh, "nation", lio.load_table(spark, sf_dir, "nation"))
        orphans = [f"nation__old_{'a' * 32}", f"nation__stage_{'b' * 32}"]
        for d in orphans:
            os.makedirs(os.path.join(tmp_path, "Tables", d, "part=1"))
        monkeypatch.setattr(lio, "_local_path", lambda path: None)
        expected = [f"{lh.tables_path}/{d}" for d in orphans]
        assert lio.vacuum_orphans(lh, dry_run=True) == expected
        assert lio.list_tables(spark, lh) == sorted(["nation", *orphans])
        assert lio.vacuum_orphans(lh) == expected
        assert lio.list_tables(spark, lh) == ["nation"]
        assert lio.vacuum_orphans(lh) == []


def _parquet_files(root: str) -> set[str]:
    import glob
    import os

    return set(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def _codecs(files: set[str]) -> set[str]:
    """The compression codec of every column chunk in ``files``."""
    import pyarrow.parquet as pq

    assert files
    out = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            out.update(md.row_group(rg).column(i).compression for i in range(md.num_columns))
    return out


class TestZstdFiles:
    """Every write path follows the session's Parquet codec, which
    ``get_spark`` sets to zstd. Tables a test seeds itself are written
    snappy, so a rewrite that kept them would show."""

    @staticmethod
    def _snappy_table(lh, name, df, partition_by=None):
        path = f"{lh.tables_path}/{name}"
        writer = df.write.option("compression", "snappy")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        assert _codecs(_parquet_files(path)) == {"SNAPPY"}
        return path

    def test_write_table(self, spark, sf_dir):
        lh = Lakehouse("z", tempfile.mkdtemp())
        orders = lio.load_table(spark, sf_dir, "orders")
        lio.write_table(lh, "flat", orders)
        lio.write_table(lh, "parts", orders, partition_by="o_orderstatus")
        assert _codecs(_parquet_files(f"{lh.tables_path}/flat")) == {"ZSTD"}
        assert _codecs(_parquet_files(f"{lh.tables_path}/parts")) == {"ZSTD"}

    def test_partitioned_upsert(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.sources.incremental import upsert_table

        lh = Lakehouse("z", tempfile.mkdtemp())
        orders = lio.load_table(spark, sf_dir, "orders")
        path = self._snappy_table(lh, "orders", orders, partition_by="o_orderstatus")
        updates = orders.where("o_orderstatus = 'F'").limit(3)
        upsert_table(spark, lh, "orders", updates, keys=["o_orderkey"], partition_by="o_orderstatus")
        assert _codecs(_parquet_files(f"{path}/o_orderstatus=F")) == {"ZSTD"}
        assert _codecs(_parquet_files(f"{path}/o_orderstatus=O")) == {"SNAPPY"}

    def test_unpartitioned_compaction(self, spark, sf_dir):
        lh = Lakehouse("z", tempfile.mkdtemp())
        path = self._snappy_table(lh, "orders", lio.load_table(spark, sf_dir, "orders").repartition(4))
        lio.compact_table(spark, lh, "orders")
        assert _codecs(_parquet_files(path)) == {"ZSTD"}

    def test_append_table(self, spark, sf_dir):
        lh = Lakehouse("z", tempfile.mkdtemp())
        nation = lio.load_table(spark, sf_dir, "nation")
        path = self._snappy_table(lh, "nation", nation)
        before = _parquet_files(path)
        lio.append_table(lh, "nation", nation)
        assert _codecs(_parquet_files(path) - before) == {"ZSTD"}

    def test_cluster_table(self, spark, sf_dir):
        lh = Lakehouse("z", tempfile.mkdtemp())
        path = self._snappy_table(lh, "nation", lio.load_table(spark, sf_dir, "nation"))
        lio.cluster_table(spark, lh, "nation", by="n_regionkey", n_files=2)
        assert _codecs(_parquet_files(path)) == {"ZSTD"}

    def test_write_view(self, spark, sf_dir):
        lh = Lakehouse("z", tempfile.mkdtemp())
        info = lio.write_view(lh, "nation", lio.load_table(spark, sf_dir, "nation"))
        assert _codecs(_parquet_files(info["path"])) == {"ZSTD"}

    def test_session_codec_wins(self, spark, sf_dir):
        """Setting the codec on the session switches writes back to snappy:
        no writer pins its own codec."""
        key = "spark.sql.parquet.compression.codec"
        old = spark.conf.get(key)
        spark.conf.set(key, "snappy")
        try:
            lh = Lakehouse("z", tempfile.mkdtemp())
            lio.write_table(lh, "nation", lio.load_table(spark, sf_dir, "nation"))
        finally:
            spark.conf.set(key, old)
        assert _codecs(_parquet_files(f"{lh.tables_path}/nation")) == {"SNAPPY"}


class TestFunnelAndCohorts:
    def test_funnel_order_sensitivity(self, spark):
        import pyspark.sql.functions as F

        from ecu_sbl_aace_datalake_spark.streaming.events import funnel_stages

        rows = [
            # user 1: full ordered funnel
            (1, "view", "2024-01-01 10:00:00"),
            (1, "click", "2024-01-01 11:00:00"),
            (1, "purchase", "2024-01-01 12:00:00"),
            # user 2: purchase BEFORE click → funnel breaks at stage 2... no:
            # view 10:00, purchase 10:30, click 11:00 → no purchase after click
            (2, "view", "2024-01-01 10:00:00"),
            (2, "purchase", "2024-01-01 10:30:00"),
            (2, "click", "2024-01-01 11:00:00"),
            # user 3: never viewed
            (3, "click", "2024-01-01 10:00:00"),
        ]
        df = spark.createDataFrame(rows, "user_id long, event_type string, ts string")
        df = df.withColumn("ts", F.to_timestamp("ts"))
        out = {r.user_id: r for r in funnel_stages(
            df, ["view", "click", "purchase"]).collect()}
        assert out[1].stages_reached == 3
        assert out[2].stages_reached == 2 and out[2].stage_3_ts is None
        assert out[3].stages_reached == 0 and out[3].stage_1_ts is None

    def test_cohort_retention_counts(self, spark):
        import pyspark.sql.functions as F

        from ecu_sbl_aace_datalake_spark.streaming.events import cohort_retention

        rows = [
            (1, "2024-01-01 10:00:00"), (1, "2024-01-08 10:00:00"),  # wk0 + wk1
            (2, "2024-01-02 10:00:00"),                               # wk0 only
            (3, "2024-01-09 10:00:00"),                               # second cohort
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        out = {(str(r.cohort), r.period_offset): r.n_users
               for r in cohort_retention(df).collect()}
        assert out[("2024-01-01 00:00:00", 0)] == 2
        assert out[("2024-01-01 00:00:00", 1)] == 1
        assert out[("2024-01-08 00:00:00", 0)] == 1


class TestSnapshotDiff:
    def test_classification(self, spark):
        from ecu_sbl_aace_datalake_spark.sources.incremental import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
        )
        new = spark.createDataFrame(
            [(2, "b", 20), (3, "c", 31), (4, "d", 40)], "k long, s string, v long"
        )
        out = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
        assert out == {1: "delete", 3: "update", 4: "insert"}  # 2 unchanged

    def test_null_safe_struct_compare(self, spark):
        from ecu_sbl_aace_datalake_spark.sources.incremental import snapshot_diff

        old = spark.createDataFrame([(1, None), (2, None)], "k long, v string")
        new = spark.createDataFrame([(1, None), (2, "x")], "k long, v string")
        out = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
        assert out == {2: "update"}  # null == null is NOT a change

    def test_images_carry_old_and_new(self, spark):
        from ecu_sbl_aace_datalake_spark.sources.incremental import snapshot_diff

        old = spark.createDataFrame([(1, 5)], "k long, v long")
        new = spark.createDataFrame([(1, 9)], "k long, v long")
        [r] = snapshot_diff(old, new, ["k"]).collect()
        assert r["old_image"]["v"] == 5 and r["new_image"]["v"] == 9


class TestVersionedTables:
    def _lh(self):
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse

        return Lakehouse("v", tempfile.mkdtemp())

    def test_time_travel_by_version_and_timestamp(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.sources import versioned as V
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        lh = self._lh()
        nation = load_table(spark, sf_dir, "nation")
        V.write_table_versioned(lh, "nation", nation, commit_ts=100.0)
        V.write_table_versioned(
            lh, "nation", nation.where("n_regionkey = 0"), commit_ts=200.0
        )
        V.write_table_versioned(
            lh, "nation", nation.limit(1), commit_ts=300.0
        )

        latest = V.read_table_versioned(spark, lh, "nation")
        assert latest.count() == 1
        v0 = V.read_table_versioned(spark, lh, "nation", version=0)
        assert v0.count() == nation.count()
        at_250 = V.read_table_versioned(spark, lh, "nation", timestamp=250.0)
        assert at_250.count() == nation.where("n_regionkey = 0").count()

        hist = V.table_history(spark, lh, "nation")
        assert [h["version"] for h in hist] == [0, 1, 2]
        assert [h["ts"] for h in hist] == [100.0, 200.0, 300.0]

    def test_vacuum_drops_old_versions_and_guards_reads(self, spark, sf_dir):
        import pytest

        from ecu_sbl_aace_datalake_spark.sources import versioned as V
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        lh = self._lh()
        nation = load_table(spark, sf_dir, "nation")
        for ts in (1.0, 2.0, 3.0):
            V.write_table_versioned(lh, "nation", nation, commit_ts=ts)
        dropped = V.vacuum_table(spark, lh, "nation", keep_last=2)
        assert dropped == [0]
        assert V.read_table_versioned(spark, lh, "nation", version=2).count() \
            == nation.count()
        with pytest.raises(ValueError, match="vacuumed or never"):
            V.read_table_versioned(spark, lh, "nation", version=0)

    def test_errors(self, spark, sf_dir):
        import pytest

        from ecu_sbl_aace_datalake_spark.sources import versioned as V
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        lh = self._lh()
        with pytest.raises(FileNotFoundError):
            V.read_table_versioned(spark, lh, "nope")
        nation = load_table(spark, sf_dir, "nation")
        V.write_table_versioned(lh, "nation", nation, commit_ts=10.0)
        with pytest.raises(ValueError, match="not both"):
            V.read_table_versioned(spark, lh, "nation", version=0, timestamp=1.0)
        with pytest.raises(ValueError, match="at or before"):
            V.read_table_versioned(spark, lh, "nation", timestamp=5.0)


class TestTransitionMatrix:
    def test_hand_stream(self, spark):
        from ecu_sbl_aace_datalake_spark.streaming.events import transition_matrix

        rows = [
            (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
            (2, 1, "a"), (2, 2, "c"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
        got = {
            (r.from_state, r.to_state): (r.n, r.p)
            for r in transition_matrix(df, "event_type", order_cols=["ts"]).collect()
        }
        # from 'a': a->b twice (user1), a->c once (user2) => p 2/3, 1/3
        assert got[("a", "b")] == (2, round(2 / 3, 6))
        assert got[("a", "c")] == (1, round(1 / 3, 6))
        assert got[("b", "a")] == (1, 1.0)
        # terminal events (last per user) produce no row
        assert ("c", None) not in got and all(b is not None for _, b in got)

    def test_single_event_users_excluded(self, spark):
        from ecu_sbl_aace_datalake_spark.streaming.events import transition_matrix

        df = spark.createDataFrame(
            [(1, 1, "x"), (2, 1, "y")], "user_id long, ts long, event_type string"
        )
        assert transition_matrix(df, "event_type", order_cols=["ts"]).count() == 0
