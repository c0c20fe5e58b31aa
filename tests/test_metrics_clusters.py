"""Execution-metrics walker + transitive duplicate clusters."""

from __future__ import annotations

from ecu_sbl_aace_datalake_spark.operators.dedup import (
    dedup_by_clusters,
    duplicate_clusters,
)
from ecu_sbl_aace_datalake_spark.plans.driver_queries import QUERIES
from ecu_sbl_aace_datalake_spark.plans.metrics import execution_metrics


class TestExecutionMetrics:
    def test_flagship_shuffle_is_tiny(self, spark, sf_dir):
        """Partial aggregation must reduce the shuffle to ~group-count
        records, not row-count — the map-side-combine proof."""
        m = execution_metrics(QUERIES["flagship_pricing_summary"](spark, sf_dir))
        assert m["files_read"] >= 1
        assert m["output_rows"] > 6000  # scan rows counted
        assert m["shuffle_records_written"] < 100  # groups, not rows
        assert m["spill_bytes"] == 0

    def test_simple_map_fact_never_shuffles(self, spark, sf_dir):
        m = execution_metrics(QUERIES["simple_map"](spark, sf_dir))
        # broadcast join: shuffle traffic is orders of magnitude below the
        # fact bytes read
        assert m["shuffle_bytes_written"] < m["bytes_read"] / 10
        assert m["broadcast_data_size"] > 0


class TestDuplicateClusters:
    def test_chain_collapses_transitively(self, spark):
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
        )
        cl = {r.node: r.cluster for r in duplicate_clusters(pairs).collect()}
        assert cl == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}

    def test_dedup_by_clusters_keeps_representatives(self, spark):
        pairs = spark.createDataFrame([(2, 1), (2, 3)], "id_a long, id_b long")
        docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 99)], "doc_id long")
        kept = sorted(
            r.doc_id
            for r in dedup_by_clusters(docs, "doc_id", duplicate_clusters(pairs)).collect()
        )
        assert kept == [1, 99]

    def test_converges_with_ansi_on(self, spark):
        """The convergence fingerprint sums 64-bit hashes; under ANSI a
        long sum that wraps raises ARITHMETIC_OVERFLOW instead."""
        pairs = spark.createDataFrame(
            [(2 * i, 2 * i + 1) for i in range(100)], "id_a long, id_b long"
        )
        key = "spark.sql.ansi.enabled"
        before = spark.conf.get(key)
        spark.conf.set(key, "true")
        try:
            cl = {r.node: r.cluster for r in duplicate_clusters(pairs).collect()}
        finally:
            spark.conf.set(key, before)
        assert cl == {n: n - n % 2 for n in range(200)}

    def test_long_chain_converges(self, spark):
        # 30-node path graph: the deepest component at this size
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long"
        )
        cl = duplicate_clusters(pairs, max_iter=10)
        assert cl.select("cluster").distinct().count() == 1  # one component

    def test_minhash_pipeline_to_clusters(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "the quick brown fox jumps over the lazy cat again and again today"),
            (4, "completely different text about query engines and columnar formats"),
        ]
        from ecu_sbl_aace_datalake_spark.operators import dedup

        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = dedup.minhash_signatures(
            dedup.shingle_hashes(docs, "text", n=3)
        ).select("doc_id", "shingles", "minhash")
        pairs = dedup.lsh_candidate_pairs(sh, "doc_id", barrier=False)
        verified = dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.5)
        out = dedup_by_clusters(docs, "doc_id", duplicate_clusters(verified))
        kept = sorted(r.doc_id for r in out.select("doc_id").collect())
        assert kept[0] == 1 and 4 in kept and 2 not in kept


def _union_find_labels(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Reference CC: node -> min node id of its component, for every node
    in ``pairs`` (a self-pair labels its node with itself)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestBigStarClusters:
    """Alternating large-star/small-star CC (Kiveris SoCC'14) must give
    exactly the union-find labels on every graph shape."""

    def _check(self, spark, rows):
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        got = {r.node: r.cluster for r in duplicate_clusters(pairs).collect()}
        assert got == _union_find_labels(rows)
        return got

    def test_chain_and_islands(self, spark):
        got = self._check(spark, [(2, 1), (2, 3), (3, 7), (10, 11)])
        assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}

    def test_long_path_graph(self, spark):
        # 64-node path: the deepest component at this size
        got = self._check(spark, [(i, i + 1) for i in range(64)])
        assert set(got.values()) == {0}

    def test_random_graph_matches_union_find(self, spark):
        import random

        rng = random.Random(42)
        edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(150)}
        got = self._check(spark, [(a, b) for a, b in edges if a != b])
        assert len(set(got.values())) > 1

    def test_star_and_selfloop(self, spark):
        # hub-and-spoke with a self loop and reversed duplicates
        rows = [(5, i) for i in range(6)] + [(3, 5), (7, 7)]
        got = self._check(spark, rows)
        assert got[7] == 7
        assert {k: v for k, v in got.items() if k != 7} == {i: 0 for i in range(6)}


class TestEmbeddingNearDup:
    def test_planted_duplicate_vectors_found(self, spark):
        import math

        from ecu_sbl_aace_datalake_spark.operators.dedup import (
            embedding_neardup_dedup,
            embedding_neardup_pairs,
        )

        # 1 and 2: identical direction (scaled); 3: tiny perturbation of 1;
        # 4/5: orthogonal-ish noise
        base = [math.sin(i * 0.7) for i in range(64)]
        near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
        other = [math.cos(i * 1.3) for i in range(64)]
        other2 = [math.sin(i * 2.9 + 1.0) for i in range(64)]
        rows = [
            (1, base), (2, [x * 2.0 for x in base]), (3, near),
            (4, other), (5, other2),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_neardup_pairs(df, dim=64, threshold=0.99).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 0.999999
        assert (1, 3) in pairs
        assert not any(4 in p or 5 in p for p in pairs)

        kept = {r.vec_id for r in embedding_neardup_dedup(df, dim=64, threshold=0.99).collect()}
        assert kept == {1, 4, 5}  # cluster {1,2,3} collapses to 1

    def test_fixture_self_pairs_sane(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators.dedup import embedding_neardup_pairs
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        pairs = embedding_neardup_pairs(emb, dim=64, threshold=0.9).collect()
        for r in pairs:
            assert r.cosine >= 0.9 and r.id_a < r.id_b


class TestAggState:
    def test_merge_equals_recompute(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import aggstate
        from ecu_sbl_aace_datalake_spark.sources.io import load_table
        import pyspark.sql.functions as F

        orders = load_table(spark, sf_dir, "orders")
        hist = orders.where(F.col("o_orderkey") % 2 == 0)
        batch = orders.where(F.col("o_orderkey") % 2 == 1)
        merged = aggstate.merge_agg_states(
            aggstate.agg_state(hist, ["o_custkey"], "o_totalprice"),
            aggstate.agg_state(batch, ["o_custkey"], "o_totalprice"),
            ["o_custkey"],
        )
        got = aggstate.finalize_state(merged, ["o_custkey"])
        want = aggstate.finalize_state(
            aggstate.agg_state(orders, ["o_custkey"], "o_totalprice"),
            ["o_custkey"],
        )
        cols = ["o_custkey", "n", "sum_v", "min_v", "max_v", "avg_v",
                "approx_distinct"]
        assert sorted(map(tuple, got.select(cols).collect())) == \
            sorted(map(tuple, want.select(cols).collect()))

    def test_merge_with_identity_batch(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import aggstate
        from ecu_sbl_aace_datalake_spark.sources.io import load_table
        import pyspark.sql.functions as F

        orders = load_table(spark, sf_dir, "orders")
        s = aggstate.agg_state(orders, ["o_custkey"], "o_totalprice",
                               with_hll=False)
        empty = aggstate.agg_state(
            orders.where(F.lit(False)), ["o_custkey"], "o_totalprice",
            with_hll=False,
        )
        merged = aggstate.merge_agg_states(s, empty, ["o_custkey"])
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, s.collect()))

    def test_merge_hll_mismatch_raises(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import aggstate
        from ecu_sbl_aace_datalake_spark.sources.io import load_table
        import pytest

        orders = load_table(spark, sf_dir, "orders")
        with_sketch = aggstate.agg_state(orders, ["o_custkey"], "o_totalprice")
        without = aggstate.agg_state(
            orders, ["o_custkey"], "o_totalprice", with_hll=False
        )
        with pytest.raises(ValueError, match="hll"):
            aggstate.merge_agg_states(with_sketch, without, ["o_custkey"])


class TestStringQueryIds:
    def test_pq_and_ivf_accept_string_query_ids(self, spark, sf_dir):
        """ADVICE r3: probe schemas must carry the caller's id type, not a
        hardcoded long."""
        from ecu_sbl_aace_datalake_spark.operators import similarity
        from ecu_sbl_aace_datalake_spark.sources.io import load_table
        import pyspark.sql.functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        cbs = similarity.pq_codebooks_fixed(emb, m=8, k=16)
        queries = emb.where(F.col("vec_id") < 3).select(
            F.concat(F.lit("q-"), F.col("vec_id")).alias("query_id"),
            "embedding",
        )
        out = similarity.pq_topk(emb, queries, cbs, k=3).collect()
        assert len(out) == 9
        assert all(r.query_id.startswith("q-") for r in out)
