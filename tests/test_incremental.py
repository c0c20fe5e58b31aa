"""Upsert (MERGE semantics) and watermark-based incremental ingestion."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
from collections import Counter

import pyspark.sql.functions as F
import pytest

from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse
from ecu_sbl_aace_datalake_spark.sources.incremental import (
    get_watermark,
    incremental_append,
    upsert_table,
)
from ecu_sbl_aace_datalake_spark.sources.io import load_table, read_path, write_table


def _files_per_partition(table_dir: str) -> dict[str, list[str]]:
    """Partition dir name -> sorted data file names in it."""
    return {
        d: sorted(f for f in os.listdir(os.path.join(table_dir, d)) if f.endswith(".parquet"))
        for d in sorted(os.listdir(table_dir))
        if "=" in d
    }


class TestUpsert:
    def test_unpartitioned_merge(self, spark, sf_dir):
        lh = Lakehouse("u", tempfile.mkdtemp())
        nation = load_table(spark, sf_dir, "nation")
        write_table(lh, "nation", nation)
        updates = spark.createDataFrame(
            [(0, "RENAMED", 0), (99, "NEWLAND", 1)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
        stats = upsert_table(spark, lh, "nation", updates, keys=["n_nationkey"])
        assert stats["mode"] == "full-rewrite"
        back = read_path(spark, f"{lh.tables_path}/nation", "parquet")
        rows = {r.n_nationkey: r.n_name for r in back.collect()}
        assert len(rows) == 26                  # 25 original + 1 insert
        assert rows[0] == "RENAMED"             # matched key replaced
        assert rows[99] == "NEWLAND"            # new key inserted
        assert rows[1] == nation.where("n_nationkey = 1").first().n_name

    def test_partitioned_merge_rewrites_only_affected(self, spark, sf_dir):
        lh = Lakehouse("p", tempfile.mkdtemp())
        orders = load_table(spark, sf_dir, "orders")
        write_table(lh, "orders", orders, partition_by="o_orderstatus")
        one = orders.where("o_orderstatus = 'F'").limit(1).collect()[0]
        updates = spark.createDataFrame(
            [(one.o_orderkey, one.o_custkey, "F", 99999.0, one.o_orderdate, one.o_orderpriority)],
            orders.schema,
        )
        stats = upsert_table(
            spark, lh, "orders", updates, keys=["o_orderkey"], partition_by="o_orderstatus"
        )
        assert stats["mode"] == "dynamic-partition"
        assert stats["partitions_rewritten"] == 1
        back = read_path(spark, f"{lh.tables_path}/orders", "parquet")
        assert back.count() == orders.count()
        assert back.where(F.col("o_orderkey") == one.o_orderkey).first().o_totalprice == 99999.0
        # untouched partitions intact
        assert (
            back.where("o_orderstatus = 'O'").count()
            == orders.where("o_orderstatus = 'O'").count()
        )


class TestIncrementalAppend:
    def test_watermark_flow(self, spark, sf_dir):
        lh = Lakehouse("w", tempfile.mkdtemp())
        events = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
        first_half = events.where(F.col("event_id") < 500)

        s1 = incremental_append(spark, lh, "events", first_half, "ts")
        assert s1["appended"] == first_half.count()
        assert get_watermark(lh, "events") is not None

        # same source again → idempotent, nothing appended
        s2 = incremental_append(spark, lh, "events", first_half, "ts")
        assert s2["appended"] == 0

        # full source → only the strictly-newer rows land
        s3 = incremental_append(spark, lh, "events", events, "ts")
        total = read_path(spark, f"{lh.tables_path}/events", "parquet").count()
        assert s3["appended"] > 0
        assert total == s1["appended"] + s3["appended"]
        # no duplicates by construction
        distinct_ids = (
            read_path(spark, f"{lh.tables_path}/events", "parquet")
            .select("event_id").distinct().count()
        )
        assert distinct_ids == total

    def test_watermark_and_count_from_one_job(self, spark):
        """The new watermark and the appended count come from one aggregate
        over the fresh rows: same results on a first call, a repeat call
        that finds nothing new and a call after a newer batch, and a call
        that appends nothing runs the jobs of that one aggregate alone."""
        lh = Lakehouse("w1", tempfile.mkdtemp())
        schema = "id long, ts timestamp"

        def batch(*days):
            return spark.createDataFrame(
                [(d, datetime.datetime(2024, 1, d, 6)) for d in days], schema
            )

        first = batch(1, 2, 3)
        assert incremental_append(spark, lh, "ev", first, "ts") == {
            "appended": 3, "watermark": "2024-01-03 06:00:00"
        }
        sc = spark.sparkContext
        sc.setJobGroup("append_nothing_new", "regression")
        again = incremental_append(spark, lh, "ev", first, "ts")
        sc.setJobGroup("one_aggregate", "regression")
        first.where(F.col("ts") > F.lit("2024-01-03 06:00:00")).agg(
            F.max("ts"), F.count(F.lit(1))
        ).first()
        sc.setJobGroup("", "")
        assert again == {"appended": 0, "watermark": "2024-01-03 06:00:00"}
        tracker = sc.statusTracker()
        assert len(tracker.getJobIdsForGroup("append_nothing_new")) == len(
            tracker.getJobIdsForGroup("one_aggregate")
        )
        assert incremental_append(spark, lh, "ev", batch(1, 2, 3, 4, 5), "ts") == {
            "appended": 2, "watermark": "2024-01-05 06:00:00"
        }
        back = read_path(spark, f"{lh.tables_path}/ev", "parquet")
        assert sorted(r.id for r in back.collect()) == [1, 2, 3, 4, 5]


class TestDeleteRows:
    def test_partitioned_delete(self, spark, sf_dir):
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources.incremental import delete_rows

        lh = Lakehouse("del", tempfile.mkdtemp())
        orders = load_table(spark, sf_dir, "orders")
        write_table(lh, "orders", orders, partition_by="o_orderstatus")
        # deterministic victim set: bare limit() may re-pick different rows
        # on each re-evaluation of the plan
        victims = (
            orders.where("o_orderstatus = 'F'")
            .orderBy("o_orderkey")
            .limit(5)
            .select("o_orderkey")
        )
        n_victims = victims.count()
        stats = delete_rows(
            spark, lh, "orders", victims, keys=["o_orderkey"], partition_by="o_orderstatus"
        )
        assert stats["partitions_rewritten"] == 1
        back = read_path(spark, f"{lh.tables_path}/orders", "parquet")
        assert back.count() == orders.count() - n_victims
        assert back.join(victims, "o_orderkey", "left_semi").count() == 0
        assert (
            back.where("o_orderstatus = 'O'").count()
            == orders.where("o_orderstatus = 'O'").count()
        )

    def test_unpartitioned_delete(self, spark, sf_dir):
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources.incremental import delete_rows

        lh = Lakehouse("del2", tempfile.mkdtemp())
        nation = load_table(spark, sf_dir, "nation")
        write_table(lh, "nation", nation)
        victims = spark.createDataFrame([(0,), (1,)], "n_nationkey int")
        delete_rows(spark, lh, "nation", victims, keys=["n_nationkey"])
        back = read_path(spark, f"{lh.tables_path}/nation", "parquet")
        assert back.count() == 23
        assert back.where("n_nationkey IN (0, 1)").count() == 0

    def test_no_matching_keys_is_noop(self, spark, sf_dir):
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources.incremental import delete_rows

        lh = Lakehouse("del3", tempfile.mkdtemp())
        orders = load_table(spark, sf_dir, "orders")
        write_table(lh, "orders", orders, partition_by="o_orderstatus")
        ghosts = spark.createDataFrame([(-1,)], "o_orderkey long")
        stats = delete_rows(
            spark, lh, "orders", ghosts, keys=["o_orderkey"], partition_by="o_orderstatus"
        )
        assert stats["partitions_rewritten"] == 0
        assert read_path(spark, f"{lh.tables_path}/orders", "parquet").count() == orders.count()


class TestPartitionKeyChange:
    def test_upsert_moving_key_between_partitions(self, spark, sf_dir):
        """A key whose partition value changes must not survive in its old
        partition (the classic dynamic-overwrite dedup bug)."""
        import tempfile

        lh = Lakehouse("mv", tempfile.mkdtemp())
        orders = load_table(spark, sf_dir, "orders")
        write_table(lh, "orders", orders, partition_by="o_orderstatus")
        victim = orders.where("o_orderstatus = 'F'").orderBy("o_orderkey").limit(1).collect()[0]
        moved = spark.createDataFrame(
            [(victim.o_orderkey, victim.o_custkey, "O", victim.o_totalprice,
              victim.o_orderdate, victim.o_orderpriority)],
            orders.schema,
        )
        upsert_table(spark, lh, "orders", moved, keys=["o_orderkey"], partition_by="o_orderstatus")
        back = read_path(spark, f"{lh.tables_path}/orders", "parquet")
        rows = back.where(F.col("o_orderkey") == victim.o_orderkey).collect()
        assert len(rows) == 1, "moved key duplicated across partitions"
        assert rows[0].o_orderstatus == "O"
        assert back.count() == orders.count()

    def test_upsert_emptying_a_partition_removes_it(self, spark):
        import tempfile

        lh = Lakehouse("mv2", tempfile.mkdtemp())
        df = spark.createDataFrame(
            [(1, "A", 1.0), (2, "B", 2.0)], "id long, part string, v double"
        )
        write_table(lh, "t", df, partition_by="part")
        # move the ONLY row of partition A to partition B
        moved = spark.createDataFrame([(1, "B", 9.0)], df.schema)
        upsert_table(spark, lh, "t", moved, keys=["id"], partition_by="part")
        back = read_path(spark, f"{lh.tables_path}/t", "parquet")
        rows = {(r.id, r.part, r.v) for r in back.collect()}
        assert rows == {(1, "B", 9.0), (2, "B", 2.0)}, rows

    def test_delete_emptying_a_partition_removes_it(self, spark):
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources.incremental import delete_rows

        lh = Lakehouse("del4", tempfile.mkdtemp())
        df = spark.createDataFrame([(1, "A"), (2, "B")], "id long, part string")
        write_table(lh, "t", df, partition_by="part")
        # delete the ONLY row of partition A
        victims = spark.createDataFrame([(1,)], "id long")
        stats = delete_rows(spark, lh, "t", victims, keys=["id"], partition_by="part")
        assert stats["partitions_rewritten"] == 1
        back = read_path(spark, f"{lh.tables_path}/t", "parquet")
        rows = {(r.id, r.part) for r in back.collect()}
        assert rows == {(2, "B")}, rows

    @pytest.mark.parametrize(
        "part_type, value",
        [
            ("string", "a:b"),  # stored escaped, as part=a%3Ab
            ("string", None),  # stored as part=__HIVE_DEFAULT_PARTITION__
            # Spark names it ...10%3A00%3A00.12; Python's str() ends .120000
            ("timestamp", datetime.datetime(2024, 1, 1, 10, 0, 0, 120000)),
        ],
        ids=["escaped", "null", "timestamp"],
    )
    def test_delete_emptying_a_partition_finds_its_dir(self, spark, part_type, value):
        """The emptied partition's dir is named the way Spark's writer
        names it, so removing it also works for names Spark escapes."""
        from ecu_sbl_aace_datalake_spark.sources.incremental import delete_rows

        lh = Lakehouse("esc", tempfile.mkdtemp())
        other = "c" if part_type == "string" else datetime.datetime(2024, 1, 2)
        df = spark.createDataFrame([(1, value), (2, other)], f"id long, part {part_type}")
        write_table(lh, "t", df, partition_by="part")
        delete_rows(spark, lh, "t", spark.createDataFrame([(1,)], "id long"),
                    keys=["id"], partition_by="part")
        table_dir = f"{lh.tables_path}/t"
        assert [r.id for r in read_path(spark, table_dir, "parquet").collect()] == [2]
        assert len(_files_per_partition(table_dir)) == 1

    def test_upsert_into_the_null_partition_keeps_it(self, spark):
        """An upsert writing the null partition keeps its old rows and the
        dir: SQL IN never matches null, and collect_set drops nulls."""
        lh = Lakehouse("nul", tempfile.mkdtemp())
        schema = "id long, part string, v double"
        write_table(lh, "t", spark.createDataFrame([(1, None, 1.0), (2, "c", 2.0)], schema),
                    partition_by="part")
        upsert_table(spark, lh, "t", spark.createDataFrame([(3, None, 3.0)], schema),
                     keys=["id"], partition_by="part")
        back = read_path(spark, f"{lh.tables_path}/t", "parquet")
        rows = {(r.id, r.part, r.v) for r in back.collect()}
        assert rows == {(1, None, 1.0), (2, "c", 2.0), (3, None, 3.0)}, rows

    def test_upsert_and_delete_leave_one_file_per_partition(self, spark):
        """Every partition an upsert or delete rewrites holds one data file,
        the layout compaction would otherwise have to restore."""
        from ecu_sbl_aace_datalake_spark.sources.incremental import delete_rows

        lh = Lakehouse("one", tempfile.mkdtemp())
        schema = "id long, part string, v double"
        rows = [(i, "ABC"[i % 3], float(i)) for i in range(30)]
        write_table(lh, "t", spark.createDataFrame(rows, schema).coalesce(1), partition_by="part")
        table_dir = f"{lh.tables_path}/t"
        # updates ids 0 (A) and 1 (B), inserts 100 (A) and 101 (B), spread
        # over several input partitions
        changes = [(0, "A", -1.0), (1, "B", -2.0), (100, "A", 5.0), (101, "B", 6.0)]
        updates = spark.createDataFrame(changes, schema).repartition(4)
        upsert_table(spark, lh, "t", updates, keys=["id"], partition_by="part")
        expected = Counter([r for r in rows if r[0] > 1] + changes)
        layout = _files_per_partition(table_dir)
        assert sorted(layout) == ["part=A", "part=B", "part=C"]
        assert all(len(files) == 1 for files in layout.values()), layout
        back = read_path(spark, table_dir, "parquet")
        assert Counter((r.id, r.part, r.v) for r in back.collect()) == expected

        delete_rows(spark, lh, "t", spark.createDataFrame([(3,)], "id long"),
                    keys=["id"], partition_by="part")
        del expected[(3, "A", 3.0)]
        layout = _files_per_partition(table_dir)
        assert all(len(files) == 1 for files in layout.values()), layout
        back = read_path(spark, table_dir, "parquet")
        assert Counter((r.id, r.part, r.v) for r in back.collect()) == expected

    def test_rewrites_through_hadoop_fs(self, spark, monkeypatch):
        """The swap and the stale-partition removal also work through the
        Hadoop FileSystem, the path every remote URI (abfss/s3) takes."""
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources import io
        from ecu_sbl_aace_datalake_spark.sources.incremental import delete_rows

        monkeypatch.setattr(io, "_local_path", lambda path: None)
        lh = Lakehouse("hfs", tempfile.mkdtemp())
        df = spark.createDataFrame([(1, "A"), (2, "B")], "id long, part string")
        write_table(lh, "flat", df)
        write_table(lh, "parts", df, partition_by="part")
        upsert_table(spark, lh, "flat", spark.createDataFrame([(1, "Z")], df.schema), keys=["id"])
        victims = spark.createDataFrame([(1,)], "id long")
        delete_rows(spark, lh, "parts", victims, keys=["id"], partition_by="part")
        flat = read_path(spark, f"{lh.tables_path}/flat", "parquet")
        parts = read_path(spark, f"{lh.tables_path}/parts", "parquet")
        assert {tuple(r) for r in flat.collect()} == {(1, "Z"), (2, "B")}
        assert {(r.id, r.part) for r in parts.collect()} == {(2, "B")}
        assert io.list_tables(spark, lh) == ["flat", "parts"]  # no staging or backup left

class TestPartitionedCompaction:
    def test_compaction_preserves_partition_layout(self, spark, sf_dir):
        import glob
        import tempfile

        from ecu_sbl_aace_datalake_spark.sources.io import compact_table, table_file_stats

        lh = Lakehouse("pc", tempfile.mkdtemp())
        orders = load_table(spark, sf_dir, "orders")
        orders.repartition(16).write.partitionBy("o_orderstatus").parquet(
            f"{lh.tables_path}/orders"
        )
        before = table_file_stats(spark, lh, "orders")
        assert before["n_files"] > 10
        compact_table(spark, lh, "orders", partition_by="o_orderstatus")
        # layout preserved: partition dirs still exist
        dirs = glob.glob(f"{lh.tables_path}/orders/o_orderstatus=*")
        assert len(dirs) == 3
        after = table_file_stats(spark, lh, "orders")
        assert after["n_files"] <= 3  # one file per partition
        back = read_path(spark, f"{lh.tables_path}/orders", "parquet")
        assert back.count() == orders.count()
        assert "o_orderstatus" in back.columns

    @pytest.mark.parametrize("hadoop_fs", [False, True], ids=["local", "hadoop_fs"])
    def test_rewrites_only_fragmented_partitions(self, spark, sf_dir, monkeypatch, hadoop_fs):
        """Compact partitions keep their files; a second compaction of the
        now compact table writes nothing."""
        from ecu_sbl_aace_datalake_spark.sources import io

        if hadoop_fs:  # list and read through the Hadoop FileSystem
            monkeypatch.setattr(io, "_local_path", lambda path: None)
        lh = Lakehouse("frag", tempfile.mkdtemp())
        table_dir = f"{lh.tables_path}/orders"
        orders = load_table(spark, sf_dir, "orders")
        orders.repartition("o_orderstatus").write.partitionBy("o_orderstatus").parquet(table_dir)
        extra = orders.where("o_orderstatus = 'P'").withColumn(
            "o_orderkey", F.col("o_orderkey") + 10_000_000
        )
        extra.coalesce(1).write.mode("append").partitionBy("o_orderstatus").parquet(table_dir)
        before = _files_per_partition(table_dir)
        assert {d: len(f) for d, f in before.items()} == {
            "o_orderstatus=F": 1, "o_orderstatus=O": 1, "o_orderstatus=P": 2
        }
        # what an interrupted write leaves: a read of the table skips it
        stale = os.path.join(table_dir, ".spark-staging-0", "o_orderstatus=F")
        os.makedirs(stale)
        for f in before["o_orderstatus=P"]:
            shutil.copy(os.path.join(table_dir, "o_orderstatus=P", f), stale)
        rows = Counter(read_path(spark, table_dir, "parquet").collect())

        io.compact_table(spark, lh, "orders", partition_by="o_orderstatus")
        after = _files_per_partition(table_dir)
        assert after["o_orderstatus=F"] == before["o_orderstatus=F"]
        assert after["o_orderstatus=O"] == before["o_orderstatus=O"]
        assert len(after["o_orderstatus=P"]) == 1
        assert Counter(read_path(spark, table_dir, "parquet").collect()) == rows

        stats = io.compact_table(spark, lh, "orders", partition_by="o_orderstatus")
        assert _files_per_partition(table_dir) == after
        assert stats["after"] == stats["before"]

    def test_partition_types_come_from_the_whole_table(self, spark):
        """Read alone, dir ``part=007`` would type ``part`` as an int and be
        written back as ``part=7``, beside the old partition."""
        from ecu_sbl_aace_datalake_spark.sources.io import compact_table

        lh = Lakehouse("pin", tempfile.mkdtemp())
        table_dir = f"{lh.tables_path}/t"
        df = spark.createDataFrame([(1, "007"), (2, "abc")], "id long, part string")
        df.coalesce(1).write.partitionBy("part").parquet(table_dir)
        spark.createDataFrame([(3, "007")], df.schema).write.mode("append").partitionBy(
            "part"
        ).parquet(table_dir)
        compact_table(spark, lh, "t", partition_by="part")
        assert sorted(_files_per_partition(table_dir)) == ["part=007", "part=abc"]
        back = read_path(spark, table_dir, "parquet")
        assert sorted(tuple(r) for r in back.collect()) == [(1, "007"), (2, "abc"), (3, "007")]

    def test_partitions_at_target_size_keep_their_files(self, spark):
        """A partition holding no more files than its size needs at
        ``target_file_mb`` is left alone; a small one with two is not."""
        from ecu_sbl_aace_datalake_spark.sources.io import compact_table

        lh = Lakehouse("size", tempfile.mkdtemp())
        table_dir = f"{lh.tables_path}/t"
        for seed in (1, 2):  # one file per partition each; ~1.2 MB in "big"
            big = spark.range(150_000).select(F.rand(seed).alias("v"), F.lit("big").alias("part"))
            small = spark.createDataFrame([(float(seed), "small")], big.schema)
            big.unionByName(small).coalesce(1).write.mode("append").partitionBy("part").parquet(
                table_dir
            )
        before = _files_per_partition(table_dir)
        assert {d: len(f) for d, f in before.items()} == {"part=big": 2, "part=small": 2}
        compact_table(spark, lh, "t", target_file_mb=1, partition_by="part")
        after = _files_per_partition(table_dir)
        assert after["part=big"] == before["part=big"]
        assert len(after["part=small"]) == 1
        assert read_path(spark, table_dir, "parquet").count() == 300_002

    def test_other_formats_are_rewritten_whole(self, spark):
        """Only parquet partitions are rewritten in place; a partitioned
        table in another format is rewritten whole, in that format."""
        from ecu_sbl_aace_datalake_spark.sources.io import compact_table

        lh = Lakehouse("orc", tempfile.mkdtemp())
        table_dir = f"{lh.tables_path}/t"
        rows = [(i, "AB"[i % 2]) for i in range(8)]
        df = spark.createDataFrame(rows, "id long, part string")
        write_table(lh, "t", df.repartition(4), partition_by="part", fmt="orc")

        def orc_files() -> list[int]:
            return [
                len([f for f in os.listdir(os.path.join(table_dir, d)) if f.endswith(".orc")])
                for d in ("part=A", "part=B")
            ]

        assert max(orc_files()) > 1
        compact_table(spark, lh, "t", fmt="orc", partition_by="part")
        assert orc_files() == [1, 1]
        back = read_path(spark, table_dir, "orc")
        assert sorted((r.id, r.part) for r in back.collect()) == rows


class TestNeardupIndex:
    def test_index_probe_matches_direct_probe(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import dedup

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        new = docs.where(F.col("doc_id") % 7 == 0)
        corpus = docs.where(F.col("doc_id") % 7 != 0)
        idx = dedup.persist_neardup_index(
            corpus, "doc_id", bands=32,
            band_table="t_nd_bands", shingle_table="t_nd_shingles",
        )
        try:
            from_index = dedup.neardup_pairs_against_index(
                new, "doc_id", idx, threshold=0.5
            )
            direct = dedup.neardup_pairs_against_corpus(
                new, corpus, "doc_id", threshold=0.5, bands=32
            )
            assert sorted(map(tuple, from_index.collect())) == \
                sorted(map(tuple, direct.collect()))
        finally:
            spark.sql("DROP TABLE IF EXISTS t_nd_bands")
            spark.sql("DROP TABLE IF EXISTS t_nd_shingles")

    def test_probe_has_no_corpus_side_exchange(self, spark, sf_dir):
        """The candidate join must reuse the bucket layout: zero Exchange
        operators between the corpus band-table scan and the join."""
        from ecu_sbl_aace_datalake_spark.operators import dedup

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        new = docs.where(F.col("doc_id") % 7 == 0)
        corpus = docs.where(F.col("doc_id") % 7 != 0)
        idx = dedup.persist_neardup_index(
            corpus, "doc_id", bands=32,
            band_table="t_nd_bands_p", shingle_table="t_nd_shingles_p",
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            pairs = dedup.neardup_pairs_against_index(
                new, "doc_id", idx, threshold=0.5
            )
            pairs.collect()
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            # bucketed scans: the corpus band table must appear with its
            # bucket layout selected and no repartitioning above it
            assert "t_nd_bands_p" in plan
            assert "SelectedBucketsCount" in plan, plan[:2000]
            # every Exchange must be on the probe/candidate side, never
            # directly above a bucketed corpus scan
            import re
            for m in re.finditer(r"Exchange hashpartitioning\(band_key", plan):
                seg = plan[m.start():m.start() + 1500]
                assert "t_nd_bands_p" not in seg.split("Exchange", 2)[1], \
                    "corpus band table shuffled on probe"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS t_nd_bands_p")
            spark.sql("DROP TABLE IF EXISTS t_nd_shingles_p")


class TestHistogramState:
    def test_merge_equals_rebuild_and_identity_keys(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.aggstate import (
            agg_state_hist,
            merge_hist_states,
        )

        a = spark.createDataFrame(
            [("x", 1.0), ("x", 2.0), ("y", 9.0)], "k string, v double"
        )
        b = spark.createDataFrame(
            [("x", 3.0), ("z", 5.0), ("z", None)], "k string, v double"
        )
        merged = merge_hist_states(
            agg_state_hist(a, ["k"], "v", 0.0, 10.0, 5),
            agg_state_hist(b, ["k"], "v", 0.0, 10.0, 5),
            ["k"],
        )
        rebuilt = agg_state_hist(a.unionByName(b), ["k"], "v", 0.0, 10.0, 5)
        m = sorted((r.k, list(r.hist)) for r in merged.collect())
        rb = sorted((r.k, list(r.hist)) for r in rebuilt.collect())
        assert m == rb
        # z appears only in b (with one null dropped): identity merge
        assert dict(m)["z"] == [0, 0, 1, 0, 0]

    def test_state_histogram_feeds_grouped_quantiles(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.aggstate import (
            agg_state_hist,
            state_histogram,
        )
        from ecu_sbl_aace_datalake_spark.operators.skew import (
            quantile_estimate_grouped,
        )

        df = spark.createDataFrame(
            [("a", float(i)) for i in range(1, 101)], "k string, v double"
        )
        st = agg_state_hist(df, ["k"], "v", 0.0, 100.0, 50)
        est = quantile_estimate_grouped(
            state_histogram(st, ["k"]), ["k"], [0.5], 0.0, 100.0, 50
        ).first()
        assert abs(est.est - 50.0) <= 2.0 + 1e-9


class TestMomentsState:
    def test_finalize_matches_numpy(self, spark):
        import numpy as np

        from ecu_sbl_aace_datalake_spark.operators import aggstate

        vals = [1.25, 2.5, 2.5, 3.75, 10.0, -4.0, 0.5]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "g string, v double"
        )
        st = aggstate.moments_state(df, ["g"], "v")
        got = aggstate.finalize_moments(st, ["g"]).collect()[0]
        a = np.array(vals)
        mean, var = a.mean(), a.var()
        skew = ((a - mean) ** 3).mean() / var ** 1.5
        kurt = ((a - mean) ** 4).mean() / var ** 2 - 3
        assert got.n == len(vals)
        assert abs(got.mean - round(mean, 6)) < 1e-9
        assert abs(got.variance - var) < 1e-5
        assert abs(got.skewness - skew) < 1e-5
        assert abs(got.kurtosis_excess - kurt) < 1e-5

    def test_merge_equals_recompute_exactly(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import aggstate

        rows = [("g1", float(i) * 1.01) for i in range(200)] + [
            ("g2", float(i % 7) - 3.0) for i in range(100)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        h1 = df.where(F.col("v") >= 50)
        h2 = df.where(F.col("v") < 50)
        merged = aggstate.merge_moments_states(
            aggstate.moments_state(h1, ["g"], "v"),
            aggstate.moments_state(h2, ["g"], "v"),
            ["g"],
        )
        full = aggstate.moments_state(df, ["g"], "v")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_degenerate_groups_null(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import aggstate

        df = spark.createDataFrame(
            [("one", 5.0), ("const", 2.0), ("const", 2.0)],
            "g string, v double",
        )
        got = {r.g: r for r in aggstate.finalize_moments(
            aggstate.moments_state(df, ["g"], "v"), ["g"]
        ).collect()}
        assert got["one"].variance is None and got["one"].skewness is None
        assert got["const"].variance is None  # var == 0


class TestPrepareCorpusIndexed:
    """prepare_corpus(neardup_index=) — the incremental build equals the
    direct pipeline over corpus ∪ batch when batch ids sort after corpus
    ids (round 10)."""

    def _split(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        )
        mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
        return docs, docs.where(F.col("doc_id") <= mid), docs.where(
            F.col("doc_id") > mid
        )

    def test_indexed_equals_direct_on_ordered_split(
        self, spark, sf_dir, tmp_path
    ):
        from ecu_sbl_aace_datalake_spark.operators import (
            dedup,
            pipeline,
            textstats,
        )

        docs, corpus, batch = self._split(spark, sf_dir)
        gated = (
            textstats.with_quality_score(
                textstats.with_lang_id(corpus, "text"), "text"
            )
            .where(
                (F.col("lang_pred") == "en")
                & (F.col("quality_score") >= 0.5)
            )
            .select("doc_id", "text", "source")
        )
        idx = dedup.persist_neardup_index(
            gated, "doc_id", bands=32,
            band_table="t_cpi_bands", shingle_table="t_cpi_shingles",
        )
        try:
            direct = pipeline.prepare_corpus(
                docs, pack_budget=512, neardup_bands=32
            )
            indexed = pipeline.prepare_corpus(
                batch, pack_budget=512, neardup_bands=32, neardup_index=idx
            )
            batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
            direct_batch = {
                r.doc_id
                for r in direct.select("doc_id").collect()
                if r.doc_id in batch_ids
            }
            indexed_ids = {
                r.doc_id for r in indexed.select("doc_id").collect()
            }
            assert indexed_ids == direct_batch
            assert len(indexed_ids) > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS t_cpi_bands")
            spark.sql("DROP TABLE IF EXISTS t_cpi_shingles")

    def test_planted_corpus_dup_is_dropped(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import dedup

        base = (
            "the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight with friends "
        ) * 3
        corpus = spark.createDataFrame(
            [(1, base, "a"), (2, "completely different text about "
              "numerical linear algebra and matrix decompositions "
              "for scientific computing workloads " * 3, "a")],
            "doc_id long, text string, source string",
        )
        batch = spark.createDataFrame(
            [
                (10, base + "extra tail words here", "a"),     # near-dups 1
                (11, "unique fresh content about deep sea "
                     "creatures and bioluminescent displays in the "
                     "midnight zone of the ocean floor " * 3, "a"),
                (12, "unique fresh content about deep sea "
                     "creatures and bioluminescent displays in the "
                     "midnight zone of the ocean floor " * 3
                     + "slightly longer", "a"),                # near-dups 11
            ],
            "doc_id long, text string, source string",
        )
        idx = dedup.persist_neardup_index(
            corpus, "doc_id", bands=32,
            band_table="t_cpi2_bands", shingle_table="t_cpi2_shingles",
        )
        try:
            losers = {
                r.doc_id
                for r in dedup.incremental_minhash_losers(
                    batch, "doc_id", idx, threshold=0.5
                ).collect()
            }
            # 10 loses to corpus doc 1 (probe); 12 loses to batch doc 11
            # (self-join); 11 survives
            assert losers == {10, 12}
        finally:
            spark.sql("DROP TABLE IF EXISTS t_cpi2_bands")
            spark.sql("DROP TABLE IF EXISTS t_cpi2_shingles")
