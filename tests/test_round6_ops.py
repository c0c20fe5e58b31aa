"""Round-6 regression tests: the five ADVICE_r05 fixes, then the round-6
operator additions (byte-level BPE, trained lang-id, per-group caps,
deterministic k-means IVF)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecu_sbl_aace_datalake_spark.operators import dedup, graph, textstats, transform


class TestAdviceFixes:
    def test_boilerplate_keeps_all_empty_docs(self, spark):
        # doc 5 is whitespace-only: it has no non-empty lines, but must
        # still come back (ADVICE r05: it used to vanish entirely)
        rows = [(i, "the banner\nbody %d" % i) for i in range(1, 4)] + [
            (5, "  \n\n  "),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = textstats.remove_boilerplate_lines(df, "doc_id", min_docs=3)
        got = {r["doc_id"]: r for r in out.collect()}
        assert set(got) == {1, 2, 3, 5}
        assert got[5]["text"] == ""
        assert got[5]["n_lines"] == 0 and got[5]["n_removed"] == 0
        assert got[1]["text"] == "body 1" and got[1]["n_removed"] == 1

    def test_target_encode_ignores_null_labels(self, spark):
        # NULL labels must not inflate the denominators (ADVICE r05):
        # with nulls excluded, cat 'a' fold means match the labeled rows only
        rows = [(i, "a", float(i % 2)) for i in range(8)] + [
            (100 + i, "a", None) for i in range(50)
        ]
        df = spark.createDataFrame(rows, ["id", "cat", "label"])
        out = transform.target_encode_oof(
            df, "cat", "label", n_folds=2, fold_key="id", prior_weight=0.0
        ).collect()
        folds = {r["id"]: r["fold"] for r in out}
        stat = {0: [0.0, 0], 1: [0.0, 0]}
        for i, _, lbl in rows:
            if lbl is not None:
                stat[folds[i]][0] += lbl
                stat[folds[i]][1] += 1
        tot_s = stat[0][0] + stat[1][0]
        tot_n = stat[0][1] + stat[1][1]
        for r in out:
            f = r["fold"]
            n_oof = tot_n - stat[f][1]
            expect = (tot_s - stat[f][0]) / n_oof if n_oof else None
            if expect is not None:
                assert abs(r["te_cat"] - expect) < 1e-12, (r, expect)

    def test_k_core_directed_counts_total_degree(self, spark):
        # directed triangle a->b->c->a: every node has out-degree 1 but
        # total degree 2; symmetrize=False must keep the triangle at k=2
        # (ADVICE r05: dst-only roles used to be invisible to peeling)
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
        )
        core = graph.k_core(edges, k=2, rounds=4, symmetrize=False).collect()
        got = {r["node"]: r["degree"] for r in core}
        assert got == {"a": 2, "b": 2, "c": 2}
        # and a node appearing ONLY as dst still gets counted / peeled fairly
        edges2 = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], ["src", "dst"]
        )
        got2 = {
            r["node"]: r["degree"]
            for r in graph.k_core(edges2, k=2, rounds=4, symmetrize=False).collect()
        }
        assert set(got2) == {"a", "b", "c"}

    def test_bigstar_strict_and_stats(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
        )
        stats: dict = {}
        out = dedup.duplicate_clusters(pairs, stats=stats)
        got = {r["node"]: r["cluster"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert stats["converged"] is True and stats["rounds"] >= 1
        # an impossible round budget raises
        with pytest.raises(RuntimeError):
            dedup.duplicate_clusters(
                pairs.union(
                    spark.createDataFrame(
                        [(i, i + 1) for i in range(20, 40)], ["id_a", "id_b"]
                    )
                ),
                max_iter=1,
            )

    def test_kmeans_fit_exact_deterministic_and_good(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import similarity
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        c1 = similarity.kmeans_fit_exact(emb, k=8, max_iter=2, train_sample=256)
        c2 = similarity.kmeans_fit_exact(emb, k=8, max_iter=2, train_sample=256)
        assert c1 == c2  # bit-identical across runs
        assert len(c1) == 8 and all(len(c) == 64 for c in c1)
        # medoid update: every centroid IS a (12dp-quantized) corpus vector
        quant = {
            tuple(round(float(x), 12) for x in r["embedding"])
            for r in emb.select("embedding").collect()
        }
        for c in c1:
            assert tuple(round(x, 12) for x in c) in quant
        # recall@10 gate vs exact brute force (the invariant VERDICT r05
        # required the trained path to keep)
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["vec_id"])
            for r in similarity.cosine_topk(emb, queries, k=10).collect()
        }
        approx = {
            (r["query_id"], r["vec_id"])
            for r in similarity.ivf_topk(
                emb, queries, c1, k=10, n_probe=8
            ).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.9

    def test_kmeans_fit_exact_small_corpus(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        df = spark.createDataFrame(
            [(i, [float(i), float(i % 3)]) for i in range(6)],
            "vec_id long, embedding array<double>",
        )
        cents = similarity.kmeans_fit_exact(df, k=4, max_iter=2, train_sample=10)
        assert len(cents) == 4 and all(len(c) == 2 for c in cents)

    def test_dedup_importable_without_pandas_at_module_level(self):
        import importlib
        import inspect

        mod = importlib.import_module(
            "ecu_sbl_aace_datalake_spark.operators.dedup"
        )
        src = inspect.getsource(mod)
        head = src.split("def exact_dedup")[0]
        assert "import pandas" not in head


class TestCapPerGroup:
    def test_cap_and_passthrough(self, spark):
        rows = [(i, "big" if i < 40 else "small") for i in range(50)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = transform.cap_per_group(df, "source", cap=10, id_col="doc_id")
        got = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert got == {"big": 10, "small": 10}
        out2 = transform.cap_per_group(df, "source", cap=100, id_col="doc_id")
        assert out2.count() == 50  # groups under the cap pass through whole

    def test_deterministic_across_partitionings(self, spark):
        rows = [(i, f"s{i % 3}") for i in range(90)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        a = {
            r["doc_id"]
            for r in transform.cap_per_group(
                df.repartition(2), "source", 7, "doc_id"
            ).collect()
        }
        b = {
            r["doc_id"]
            for r in transform.cap_per_group(
                df.repartition(17, "doc_id"), "source", 7, "doc_id"
            ).collect()
        }
        assert a == b and len(a) == 21

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "s")], ["doc_id", "source"])
        with pytest.raises(ValueError):
            transform.cap_per_group(df, "source", 0, "doc_id")

    def test_pipeline_cap_invariant(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import pipeline
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        docs = load_table(spark, sf_dir, "documents")
        packed = pipeline.prepare_corpus(
            docs, min_quality=0.0, cap_per_source=5
        )
        per_src = packed.groupBy("source").agg(F.count("*").alias("n")).collect()
        assert per_src and all(r["n"] <= 5 for r in per_src)


class TestPipelineTrainedLang:
    def test_prepare_corpus_with_trained_lang_model(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import classifier, pipeline
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        docs = load_table(spark, sf_dir, "documents")
        packed = pipeline.prepare_corpus(
            docs,
            min_quality=0.0,
            keep_langs=tuple(classifier.LANG_NB_V1["langs"]),
            lang_model=classifier.LANG_NB_V1,
        )
        rows = packed.collect()
        assert rows and all(
            r.lang_pred in classifier.LANG_NB_V1["langs"] for r in rows
        )


class TestCapPerGroupPlan:
    def test_window_group_limit_pushdown(self, spark):
        """The rn <= cap filter must compile to WindowGroupLimit with a
        map-side Partial pass — each task keeps a per-group top-cap heap
        before the shuffle, so hot groups never ship their full rows."""
        df = spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(100)], ["doc_id", "source"]
        )
        out = transform.cap_per_group(df, "source", 5, "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan
        assert "Partial" in plan, plan


class TestNeardupDecontamination:
    def test_paraphrased_leak_removed_clean_kept(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "alpha bravo charlie delta echo foxtrot golf hotel india"),
                (2, "one two three four five six seven eight nine ten"),
                (3, "totally unrelated words about completely different topics here"),
            ],
            ["doc_id", "text"],
        )
        # benchmark = doc 1 with one word swapped: NOT an exact dup
        bench = spark.createDataFrame(
            [("alpha bravo charlie delta echo foxtrot golf hotel JULIET",)],
            ["text"],
        )
        out = dedup.decontaminate_neardup(corpus, bench, "doc_id", threshold=0.5)
        assert {r.doc_id for r in out.collect()} == {2, 3}

    def test_empty_benchmark_is_noop(self, spark):
        corpus = spark.createDataFrame(
            [(1, "alpha bravo charlie delta echo foxtrot")], ["doc_id", "text"]
        )
        bench = spark.createDataFrame([], "text string")
        out = dedup.decontaminate_neardup(corpus, bench, "doc_id")
        assert out.count() == 1

    def test_threshold_controls_strictness(self, spark):
        corpus = spark.createDataFrame(
            [(1, "a b c d e f g h i j k l m n o p")], ["doc_id", "text"]
        )
        # half-overlapping benchmark: jaccard well below 0.9, above 0.2
        bench = spark.createDataFrame(
            [("a b c d e f g h zz yy xx ww vv uu tt ss",)], ["text"]
        )
        strict = dedup.decontaminate_neardup(corpus, bench, "doc_id", threshold=0.9)
        loose = dedup.decontaminate_neardup(corpus, bench, "doc_id", threshold=0.2)
        assert strict.count() == 1 and loose.count() == 0


class TestShuffleCorpus:
    def test_contiguous_and_partition_independent(self, spark):
        df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
        a = {
            r.doc_id: r.shuffle_pos
            for r in transform.shuffle_corpus(df.repartition(3), "doc_id").collect()
        }
        b = {
            r.doc_id: r.shuffle_pos
            for r in transform.shuffle_corpus(df.repartition(17), "doc_id").collect()
        }
        assert a == b
        assert sorted(a.values()) == list(range(200))  # contiguous 0-based
        # a different salt gives a different permutation of the same range
        c = {
            r.doc_id: r.shuffle_pos
            for r in transform.shuffle_corpus(df, "doc_id", salt="epoch2").collect()
        }
        assert sorted(c.values()) == list(range(200)) and c != a


class TestBootstrapCI:
    def test_ci_brackets_mean_and_is_deterministic(self, spark, sf_dir):
        from ecu_sbl_aace_datalake_spark.operators import ml
        from ecu_sbl_aace_datalake_spark.sources.io import load_table

        li = load_table(spark, sf_dir, "lineitem").select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
            "l_extendedprice",
        )
        a = ml.bootstrap_mean_ci(li, "l_extendedprice", "rid").collect()[0]
        b = ml.bootstrap_mean_ci(li, "l_extendedprice", "rid").collect()[0]
        assert a == b  # fully deterministic resampling
        assert a["ci_lo"] <= a["mean"] <= a["ci_hi"]
        assert a["n_replicas"] == 32 and a["n"] > 0
        # a different salt gives a different (but still bracketing) CI
        c = ml.bootstrap_mean_ci(
            li, "l_extendedprice", "rid", salt="boot2"
        ).collect()[0]
        assert (c["ci_lo"], c["ci_hi"]) != (a["ci_lo"], a["ci_hi"])
        assert c["ci_lo"] <= c["mean"] <= c["ci_hi"]

    def test_constant_data_degenerate_ci(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        df = spark.createDataFrame([(i, 7.0) for i in range(200)], ["rid", "v"])
        r = ml.bootstrap_mean_ci(df, "v", "rid").collect()[0]
        assert r["mean"] == r["ci_lo"] == r["ci_hi"] == 7.0
