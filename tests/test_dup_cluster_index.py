"""Round-11 persisted dup-cluster labeling (VERDICT r10 item #1):
persist_dup_clusters / load_dup_clusters / load_dup_pairs /
append_dup_clusters, and the equality of clustered consumers with their
direct-computation twins."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from ecu_sbl_aace_datalake_spark.operators import dedup
from ecu_sbl_aace_datalake_spark.sources.io import load_table


def _recipe(docs):
    sh = dedup.minhash_signatures(
        dedup.shingle_hashes(dedup.ensure_parallelism(docs), "text", n=3),
        num_hashes=64,
    ).select("doc_id", "shingles", "minhash").persist()
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5)
    clusters = dedup.duplicate_clusters(pairs)
    return sh, pairs, clusters


@pytest.fixture(scope="module")
def dup_index(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = dedup.persist_dup_clusters(
        docs, "doc_id", bands=32, threshold=0.5,
        cluster_table="t_r11_dupcl", pair_table="t_r11_duppr",
    )
    yield idx, docs
    spark.sql("DROP TABLE IF EXISTS t_r11_dupcl")
    spark.sql("DROP TABLE IF EXISTS t_r11_duppr")


class TestPersistDupClusters:
    def test_labeling_equals_direct_recipe(self, spark, dup_index, sf_dir):
        idx, docs = dup_index
        sh, _, direct = _recipe(docs)
        try:
            persisted = dedup.load_dup_clusters(spark, idx)
            assert sorted(map(tuple, persisted.collect())) == sorted(
                map(tuple, direct.collect())
            )
        finally:
            sh.unpersist()

    def test_pairs_equal_direct_verify(self, spark, dup_index):
        idx, docs = dup_index
        sh, pairs, _ = _recipe(docs)
        try:
            persisted = dedup.load_dup_pairs(spark, idx)
            assert sorted(map(tuple, persisted.collect())) == sorted(
                map(tuple, pairs.collect())
            )
        finally:
            sh.unpersist()

    def test_consumer_join_reads_bucketed_side(self, spark, dup_index):
        # the labeling side of a consumer join must come from the
        # bucketed table scan (no shuffle written for it when Spark
        # picks SMJ: the bucketed side satisfies the distribution)
        idx, docs = dup_index
        clusters = dedup.load_dup_clusters(spark, idx)
        out = dedup.dedup_by_clusters_prefer(
            docs.withColumn("n_chars", F.length("text")),
            "doc_id", clusters, "n_chars",
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "t_r11_dupcl" in plan

    def test_reuse_if_exists_skips_rebuild(self, spark, dup_index):
        idx, docs = dup_index
        # poison: a rebuild would raise inside the lineage; reuse must
        # return params without touching df
        bad = docs.withColumn(
            "text", F.raise_error(F.lit("rebuild happened"))
        )
        again = dedup.persist_dup_clusters(
            bad, "doc_id", bands=32, threshold=0.5,
            cluster_table="t_r11_dupcl", pair_table="t_r11_duppr",
            reuse_if_exists=True,
        )
        assert again["cluster_table"] == idx["cluster_table"]

    def test_pair_table_none_raises_on_load(self, spark):
        with pytest.raises(ValueError, match="pair_table"):
            dedup.load_dup_pairs(spark, {"pair_table": None})


class TestAppendDupClusters:
    def test_append_equals_full_recompute(self, spark):
        # base labeling over pairs A; append pairs B; must equal a full
        # CC over A ∪ B
        base_pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21)],
            "id_a long, id_b long",
        ).withColumn("jaccard", F.lit(0.9))
        new_pairs = spark.createDataFrame(
            # merge two existing components (3-10) + a brand-new one
            [(3, 10), (30, 31)],
            "id_a long, id_b long",
        ).withColumn("jaccard", F.lit(0.8))
        from ecu_sbl_aace_datalake_spark.sources.io import (
            write_bucketed_table,
        )

        labels = dedup.duplicate_clusters(base_pairs)
        write_bucketed_table(
            spark, "t_r11_app_cl", labels, "node", 8, sort_cols="node"
        )
        write_bucketed_table(
            spark, "t_r11_app_pr", base_pairs, "id_a", 8
        )
        idx = {
            "cluster_table": "t_r11_app_cl",
            "pair_table": "t_r11_app_pr",
            "n_buckets": 8,
        }
        try:
            dedup.append_dup_clusters(new_pairs, idx)
            merged = sorted(
                map(tuple, spark.table("t_r11_app_cl").collect())
            )
            full = sorted(
                map(
                    tuple,
                    dedup.duplicate_clusters(
                        base_pairs.unionByName(new_pairs)
                    ).collect(),
                )
            )
            assert merged == full
            # pair history is complete: base + appended
            assert spark.table("t_r11_app_pr").count() == 6
        finally:
            spark.sql("DROP TABLE IF EXISTS t_r11_app_cl")
            spark.sql("DROP TABLE IF EXISTS t_r11_app_pr")


class TestClusteredTwinsEqualDirect:
    @pytest.mark.parametrize(
        "direct,twin",
        [
            ("dup_cluster_sizes", "dup_cluster_sizes_clustered"),
            ("quality_dedup_survivors", "quality_dedup_survivors_clustered"),
            ("dup_weighted_sample", "dup_weighted_sample_clustered"),
            ("cluster_split_leakfree", "cluster_split_leakfree_clustered"),
            ("cross_source_dups", "cross_source_dups_clustered"),
        ],
    )
    def test_twin_equals_direct(self, spark, sf_dir, direct, twin):
        from ecu_sbl_aace_datalake_spark.plans.driver_queries import QUERIES

        d = QUERIES[direct](spark, sf_dir)
        t = QUERIES[twin](spark, sf_dir)
        assert sorted(d.columns) == sorted(t.columns)
        cols = sorted(d.columns)
        assert sorted(
            map(tuple, d.select(*cols).collect())
        ) == sorted(map(tuple, t.select(*cols).collect()))
