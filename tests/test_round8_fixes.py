"""Round-8 regression tests for the ADVICE-r7 findings: ngram_novelty
short-doc grams, asof_join_nearest sub-second distances + null-safe
recombine, mmr_selection vector reuse, bootstrap substring portability,
vocabulary_drift cache scoping."""

from __future__ import annotations

import pyspark.sql.functions as F


class TestNgramNoveltyShortDocs:
    def test_short_and_empty_docs_emit_no_grams(self, spark):
        # sequence(0, size-n) with a negative bound is DESCENDING in Spark
        # ([0,-1]), so the old greatest(size-n, -1) clamp still emitted one
        # truncated gram for docs shorter than n — breaking oracle parity
        from ecu_sbl_aace_datalake_spark.operators import textstats

        df = spark.createDataFrame(
            [(1, "a b c d"),   # 2 trigrams
             (2, "a b"),       # < n tokens: NO row
             (3, ""),          # empty: NO row
             (4, None),        # null text: NO row
             (5, "a b c")],    # exactly n tokens: 1 gram
            "doc_id long, text string",
        )
        got = {r.doc_id: (r.n_grams, r.n_novel)
               for r in textstats.ngram_novelty(df, "doc_id", n=3).collect()}
        assert got == {1: (2, 2), 5: (1, 0)}, got


class TestAsofNearestSubSecond:
    def test_microsecond_distances(self, spark):
        # left at .9s: backward match is 0.9s away, forward 0.1s away —
        # whole-second casts truncate both to 0s/1s and pick backward
        from ecu_sbl_aace_datalake_spark.operators.joins import (
            asof_join_nearest,
        )

        left = spark.createDataFrame(
            [(1, "u", "2024-01-01 00:00:00.9")], "id long, k string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [(10, "u", "2024-01-01 00:00:00.0", 1.0),
             (11, "u", "2024-01-01 00:00:01.0", 2.0)],
            "rid long, k string, ts string, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = asof_join_nearest(
            left, right, on="k", right_cols=["v"], suffix=""
        ).collect()
        assert len(got) == 1 and got[0].v == 2.0

    def test_null_left_attributes_survive_recombine(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.joins import (
            asof_join_nearest,
        )

        left = spark.createDataFrame(
            [(1, "u", "2024-01-01 10:00:00", None),
             (2, "u", "2024-01-01 11:00:00", "x")],
            "id long, k string, ts string, payload string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [(10, "u", "2024-01-01 09:00:00", 1.0),
             (11, "u", "2024-01-01 12:00:00", 2.0)],
            "rid long, k string, ts string, v double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        # default (tuple recombine): eqNullSafe keeps the null-payload row
        got = {r.id: r.v for r in asof_join_nearest(
            left, right, on="k", right_cols=["v"], suffix="").collect()}
        assert set(got) == {1, 2}
        # explicit unique key: single-column recombine, same result
        got2 = {r.id: r.v for r in asof_join_nearest(
            left, right, on="k", right_cols=["v"], suffix="",
            left_id="id").collect()}
        assert got2 == got

    def test_left_id_must_exist(self, spark):
        import pytest

        from ecu_sbl_aace_datalake_spark.operators.joins import (
            asof_join_nearest,
        )

        left = spark.createDataFrame(
            [(1, "u", "2024-01-01 10:00:00")], "id long, k string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        with pytest.raises(ValueError, match="left_id"):
            asof_join_nearest(left, left, on="k", left_id="nope")


class TestMMRVectorReuse:
    def test_no_per_round_corpus_scan(self, spark):
        # the argmax row retains __v; re-scanning the corpus for the picked
        # vector cost one extra job per round (k-1 per call). Count jobs via
        # a job group: the fixed shape runs <= 3 jobs per round (argmax +
        # localCheckpoint) + setup; the old shape added k-1 more.
        from ecu_sbl_aace_datalake_spark.operators import similarity

        rows = [(0, [1.0, 0.0]), (1, [0.70, 0.70]),
                (2, [0.69, 0.70]), (3, [0.68, -0.68])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sc = spark.sparkContext
        sc.setJobGroup("mmr_job_count", "regression")
        out = similarity.mmr_selection(df, query_id=0, k=3)
        order = [r.id for r in out.orderBy("rank").collect()]
        sc.setJobGroup("", "")
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("mmr_job_count"))
        assert order == [1, 3, 2]
        # measured: 9 jobs fixed (1 q-row + 3 argmax + 2 checkpoints + 1
        # schema probe + output collects); the re-scan shape measured 11
        assert n_jobs <= 9, n_jobs


class TestVocabularyDriftScope:
    def test_scope_collects_and_releases_cache(self, spark):
        from ecu_sbl_aace_datalake_spark.caching import CacheScope
        from ecu_sbl_aace_datalake_spark.operators import textstats

        df = spark.createDataFrame(
            [(1, "aa bb", "s0"), (2, "aa cc", "s1")],
            "doc_id long, text string, source string",
        )
        scope = CacheScope()
        out = textstats.vocabulary_drift(df, "source", scope=scope)
        out.collect()
        assert len(scope) == 1
        scope.unpersist()
        assert len(scope) == 0


class TestBootstrapSubstringPortability:
    def test_no_column_pos_substring(self):
        # Column pos/len for F.substring needs pyspark>=4.0; pyproject
        # floors at 3.5 so the slicing must stay in SQL-expr form
        import inspect

        from ecu_sbl_aace_datalake_spark.operators import ml

        src = inspect.getsource(ml)
        assert 'F.substring(F.col("__d")' not in src
        assert src.count('F.expr("substring(__d, 1 + __j*8, 8)")') == 2


class TestPooledSelection:
    def _emb(self, spark):
        rows = [(0, [1.0, 0.0]), (1, [0.70, 0.70]), (2, [0.69, 0.70]),
                (3, [0.68, -0.68]), (4, [0.10, 0.99]), (5, [-1.0, 0.0])]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_top_m_large_equals_unpooled(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        df = self._emb(spark)
        base = [tuple(r) for r in
                similarity.mmr_selection(df, 0, k=3).orderBy("rank").collect()]
        pooled = [tuple(r) for r in similarity.mmr_selection(
            df, 0, k=3, candidate_top_m=100).orderBy("rank").collect()]
        assert pooled == base

    def test_top_m_restricts_to_most_relevant(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        df = self._emb(spark)
        # rel to q=[1,0]: 1->0.70, 2->0.69, 3->0.68, 4->0.10, 5->-1.0
        # top_m=2 pool = {1, 2}; greedy must never pick outside it
        got = [r.id for r in similarity.mmr_selection(
            df, 0, k=3, candidate_top_m=2).orderBy("rank").collect()]
        assert got == [1, 2], got

    def test_candidate_pool_dataframe(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        df = self._emb(spark)
        pool = spark.createDataFrame([(2,), (3,), (4,)], "vec_id long")
        got = [r.id for r in similarity.mmr_selection(
            df, 0, k=2, candidate_pool=pool).orderBy("rank").collect()]
        # best in-pool rel is 2 (0.69); 3 is orthogonal to 2 -> diversity pick
        assert got == [2, 3], got

    def test_kcenter_pool(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        df = self._emb(spark)
        pool = spark.createDataFrame([(1,), (3,), (5,)], "vec_id long")
        got = [r.id for r in similarity.kcenter_selection(
            df, k=2, candidate_pool=pool).orderBy("rank").collect()]
        # min-id in pool is 1; farthest from [0.7,0.7] among {3,5} is 5
        assert got == [1, 5], got


class TestCapPerGroupBytes:
    def test_prefix_rule_and_invalid_rows(self, spark):
        import hashlib

        from ecu_sbl_aace_datalake_spark.operators import transform as tf

        rows = [(1, "s0", 40), (2, "s0", 45), (3, "s0", 30),
                (4, "s0", None), (5, "s0", -1),      # unbudgetable: rejected
                (6, "s1", 200), (7, "s1", 10)]       # 200 > budget blocks 6
        df = spark.createDataFrame(rows, "doc_id long, source string, nb long")
        kept = {r.doc_id for r in tf.cap_per_group_bytes(
            df, "source", "nb", 90, "doc_id").collect()}
        # replicate the prefix rule locally
        pri = lambda i: int(hashlib.md5(f"cap{i}".encode()).hexdigest()[:15], 16)
        sizes = {1: 40, 2: 45, 3: 30}
        expect = set()
        cum = 0
        for i in sorted(sizes, key=lambda i: (pri(i), i)):
            cum += sizes[i]
            if cum <= 90:
                expect.add(i)
        # s1: whichever of {6,7} has smaller priority leads the prefix;
        # 200 always overflows — if 6 leads, the inclusive cumsum never
        # returns under budget (prefix rule: no back-fill), else only 7
        s1 = [i for i in sorted((6, 7), key=lambda i: (pri(i), i))]
        cum = 0
        for i in s1:
            cum += {6: 200, 7: 10}[i]
            if cum <= 90:
                expect.add(i)
        assert kept == expect, (kept, expect)

    def test_budget_zero_admits_nothing(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform as tf

        df = spark.createDataFrame([(1, "s0", 1)], "doc_id long, source string, nb long")
        assert tf.cap_per_group_bytes(df, "source", "nb", 0, "doc_id").count() == 0


class TestCentroidQuality:
    def test_scores_and_edge_cases(self, spark):
        import pytest

        from ecu_sbl_aace_datalake_spark.operators import similarity

        rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0]),
                (4, [0.0, 0.0]),            # zero norm -> NULL
                (5, None)]                  # null vector -> excluded
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        ref = spark.createDataFrame([(9, [1.0, 0.0]), (10, [1.0, 0.0])],
                                    "vec_id long, embedding array<double>")
        got = {r.vec_id: r.quality for r in
               similarity.centroid_quality(df, ref).collect()}
        assert got == {1: 1.0, 2: 0.0, 3: -1.0, 4: None}
        with pytest.raises(ValueError, match="empty reference"):
            similarity.centroid_quality(df, df.where("vec_id = 99"))


class TestCcnetBuckets:
    def test_rank_split_and_unscorable(self, spark):
        import pytest

        from ecu_sbl_aace_datalake_spark.operators import textstats

        # 6 scorable docs -> exact thirds; "x" (1 token) is unscorable
        rows = [(1, "the cat sat on the mat"),
                (2, "the cat sat on the mat"),
                (3, "the dog sat on the mat"),
                (4, "zz qq ww ee rr tt"),
                (5, "the cat ran to the mat"),
                (6, "qq zz ee ww tt rr"),
                (7, "x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = textstats.ccnet_buckets(df).collect()
        buckets = {r.doc_id: r.bucket for r in out}
        assert buckets[7] is None
        from collections import Counter

        sizes = Counter(b for i, b in buckets.items() if i != 7)
        assert sizes == {"head": 2, "middle": 2, "tail": 2}
        # gibberish bigrams are rarer -> lower logprob -> tail
        assert buckets[4] == "tail" and buckets[6] == "tail"
        scores = {r.doc_id: r.lm_logprob for r in out}
        # identical docs share a score; the id tiebreak puts both in head
        assert scores[1] == scores[2] and buckets[1] == buckets[2] == "head"
        with pytest.raises(ValueError, match="labels"):
            textstats.ccnet_buckets(df, n_buckets=4)


class TestInterleaveSources:
    def test_stride_proportions_every_prefix(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import packing

        rows = [(i, "a" if i % 3 else "b") for i in range(1, 13)]  # 8 a, 4 b
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = packing.interleave_sources(df, {"a": 2, "b": 1}, "doc_id")
        seq = [r.source for r in out.orderBy("interleave_pos").collect()]
        # 2:1 stride: every prefix of length 3k holds 2k a's and k b's
        for k in (1, 2, 3, 4):
            pre = seq[: 3 * k]
            assert pre.count("a") == 2 * k and pre.count("b") == k, seq
        # positions are contiguous 0..n-1
        pos = sorted(r.interleave_pos for r in out.collect())
        assert pos == list(range(12))

    def test_validation(self, spark):
        import pytest

        from ecu_sbl_aace_datalake_spark.operators import packing

        df = spark.createDataFrame([(1, "a"), (2, "c")], "doc_id long, source string")
        with pytest.raises(ValueError, match="no weight"):
            packing.interleave_sources(df, {"a": 1}, "doc_id").collect()
        with pytest.raises(ValueError, match="positive"):
            packing.interleave_sources(df, {"a": 0, "c": 1}, "doc_id")
        with pytest.raises(ValueError, match="non-empty"):
            packing.interleave_sources(df, {}, "doc_id")


class TestMergeIntoClusters:
    def test_incremental_equals_full_recompute(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import dedup

        base = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (30, 30)],
            "id_a long, id_b long",
        )
        labels = dedup.duplicate_clusters(base)
        # batch: merges {1,2,3} with {10,11} (lowers 10's cluster to 1),
        # links a brand-new node 40 to 41, leaves {20,21} untouched
        batch = spark.createDataFrame(
            [(3, 10), (40, 41)], "id_a long, id_b long"
        )
        merged = {(r.node, r.cluster) for r in
                  dedup.merge_into_clusters(labels, batch).collect()}
        full = {(r.node, r.cluster) for r in dedup.duplicate_clusters(
            base.unionByName(batch)).collect()}
        assert merged == full
        got = dict(merged)
        assert got[10] == 1 and got[11] == 1          # merged, id lowered
        assert got[20] == 20 and got[21] == 20        # untouched passthrough
        assert got[40] == 40 and got[41] == 40        # new component
        assert got[30] == 30                          # affected? no: singleton

    def test_empty_batch_is_identity(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import dedup

        base = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        labels = dedup.duplicate_clusters(base)
        empty = spark.createDataFrame([], "id_a long, id_b long")
        got = {(r.node, r.cluster) for r in
               dedup.merge_into_clusters(labels, empty).collect()}
        assert got == {(r.node, r.cluster) for r in labels.collect()}


class TestQualityMixture:
    def test_head_kept_whole_tail_sampled(self, spark):
        import hashlib

        from ecu_sbl_aace_datalake_spark.operators import textstats
        from ecu_sbl_aace_datalake_spark.operators import transform as tf

        rows = [(i, f"the cat sat on the mat {i % 2}") for i in range(1, 7)] + \
               [(i, f"zz qq ww ee rr tt {i % 2}") for i in range(7, 13)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        bucketed = textstats.ccnet_buckets(df).where(F.col("bucket").isNotNull())
        kept = tf.stratified_sample_by_hash(
            bucketed, "bucket", {"head": 1.0, "middle": 0.5, "tail": 0.0},
            "doc_id",
        )
        by_bucket = {r.doc_id: r.bucket for r in bucketed.collect()}
        kept_ids = {r.doc_id for r in kept.collect()}
        heads = {i for i, b in by_bucket.items() if b == "head"}
        tails = {i for i, b in by_bucket.items() if b == "tail"}
        assert heads <= kept_ids            # fraction 1.0 keeps all
        assert not (tails & kept_ids)       # fraction 0.0 keeps none
        # middle kept set replays the md5 rule exactly
        u = lambda i: int(hashlib.md5(f"sample{i}".encode()).hexdigest()[:8], 16) / 4294967295.0
        mids = {i for i, b in by_bucket.items() if b == "middle"}
        assert (kept_ids & mids) == {i for i in mids if u(i) < 0.5}


class TestEpochPlanning:
    def test_plan_integer_exact_and_materialize(self, spark):
        import hashlib

        from ecu_sbl_aace_datalake_spark.operators import packing

        rows = [(1, "a", 100), (2, "a", 200), (3, "b", 50), (4, "b", 50)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        # Σw = 3; a target = 1000*2//3 = 666 -> 2 full epochs of 300 + 66 rem
        #          b target = 1000*1//3 = 333 -> 3 full epochs of 100 + 33 rem
        plan = {r.source: r for r in packing.epoch_plan(
            df, {"a": 2, "b": 1}, 1000).collect()}
        assert (plan["a"].target_tokens, plan["a"].full_epochs,
                plan["a"].remainder_tokens) == (666, 2, 66)
        assert (plan["b"].target_tokens, plan["b"].full_epochs,
                plan["b"].remainder_tokens) == (333, 3, 33)
        mat = packing.materialize_epochs(
            df, packing.epoch_plan(df, {"a": 2, "b": 1}, 1000), "doc_id"
        ).collect()
        by_src = {}
        for r in mat:
            by_src.setdefault(r.source, []).append((r.doc_id, r.epoch))
        # a: both docs twice (epochs 1,2); rem=66 < min(100,200): no partial
        assert sorted(by_src["a"]) == [(1, 1), (1, 2), (2, 1), (2, 2)]
        # b: both docs 3x; rem=33 < 50: no partial row
        assert sorted(by_src["b"]) == [(3, e) for e in (1, 2, 3)] + [(4, e) for e in (1, 2, 3)]
        # partial pass fires when rem fits a doc: budget 1050 -> a rem 700%300=100
        plan2 = packing.epoch_plan(df, {"a": 2, "b": 1}, 1050)
        mat2 = packing.materialize_epochs(df, plan2, "doc_id")
        a3 = [(r.doc_id, r.epoch) for r in mat2.where("source='a' and epoch=3").collect()]
        pri = lambda i: int(hashlib.md5(f"epoch{i}".encode()).hexdigest()[:15], 16)
        # rem=100: prefix rule over md5 order — doc 1 (100 tok) fits only if
        # it precedes doc 2 (200 tok, never fits alone under 100)
        expect = [(1, 3)] if pri(1) < pri(2) or (pri(1) == pri(2)) else []
        if pri(2) < pri(1):
            expect = []  # doc 2 first: inclusive cumsum 200 > 100 blocks all
        assert a3 == expect, (a3, expect)

    def test_plan_validation(self, spark):
        import pytest

        from ecu_sbl_aace_datalake_spark.operators import packing

        df = spark.createDataFrame([(1, "a", 10)], "doc_id long, source string, n_tokens long")
        with pytest.raises(ValueError, match="weights"):
            packing.epoch_plan(df, {}, 100)
        with pytest.raises(ValueError, match="budget"):
            packing.epoch_plan(df, {"a": 1}, -1)
        # unmapped source fails loudly at evaluation, never NULL-plans
        df2 = spark.createDataFrame(
            [(1, "a", 10), (2, "zz", 10)], "doc_id long, source string, n_tokens long"
        )
        with pytest.raises(Exception, match="no weight for source"):
            packing.epoch_plan(df2, {"a": 1}, 100).collect()


class TestImageDhash:
    @staticmethod
    def _ppm(vals):
        # vals: 8 rows x 9 cols of gray values -> P6 bytes
        hdr = b"P6\n9 8\n255\n"
        body = bytes(v for row in vals for v in row for _ in range(3))
        return hdr + body

    def test_dhash_bits_and_neardup(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.multimodal import (
            image_dhash,
            image_neardup_pairs,
        )

        base = [[(31 * x + 7 * y) % 199 for x in range(9)] for y in range(8)]
        flip = [row[:] for row in base]
        flip[0][0] = (flip[0][0] + 97) % 199   # flips at most bit 0
        far = [[(151 * x * x + 91 * y) % 251 for x in range(9)] for y in range(8)]
        rows = [(1, self._ppm(base)), (2, self._ppm(base)),
                (3, self._ppm(flip)), (4, self._ppm(far)),
                (5, b"not an image")]
        df = spark.createDataFrame(rows, "img_id long, payload binary")
        got = {r.img_id: (r.decoded, r.dhash) for r in image_dhash(df, "payload").collect()}
        assert got[5] == (False, None)
        assert got[1] == got[2] and got[1][0] is True
        # expected hash computed from the same comparisons
        expect = 0
        for y in range(8):
            for x in range(8):
                if base[y][x] > base[y][x + 1]:
                    expect |= 1 << (y * 8 + x)
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert got[1][1] == expect
        # near-dup: identical pair hamming 0; flipped pair <= 1
        pairs = {(r.id_a, r.id_b): r.hamming for r in image_neardup_pairs(
            df, "img_id", "payload", max_hamming=3).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs.get((1, 3), 99) <= 1
        assert (1, 4) not in pairs or pairs[(1, 4)] <= 3  # far may or may not qualify

    def test_band_guarantee_validation(self, spark):
        import pytest

        from ecu_sbl_aace_datalake_spark.operators.multimodal import (
            image_neardup_pairs,
        )

        df = spark.createDataFrame([(1, b"")], "img_id long, payload binary")
        with pytest.raises(ValueError, match="pigeonhole"):
            image_neardup_pairs(df, "img_id", "payload", max_hamming=4, bands=4)
        with pytest.raises(ValueError, match="divide"):
            image_neardup_pairs(df, "img_id", "payload", max_hamming=3, bands=5)


class TestAudioEnvelopeHash:
    @staticmethod
    def _wav(window_amps, per_window=4):
        import struct
        data = b"".join(
            struct.pack("<h", a) for a in window_amps for _ in range(per_window)
        )
        hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
               + b"data" + struct.pack("<I", len(data)))
        return hdr + data

    def test_hash_and_generic_pairs(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.dedup import (
            hamming_neardup_pairs,
        )
        from ecu_sbl_aace_datalake_spark.operators.multimodal import (
            audio_envelope_hash,
        )

        base = [((53 * b) % 997) * 16 for b in range(65)]
        flip = base[:]
        flip[0] = ((53 * 0 + 501) % 997) * 16    # flips at most bit 0
        rows = [(1, self._wav(base)), (2, self._wav(base)),
                (3, self._wav(flip)), (4, b"not audio")]
        df = spark.createDataFrame(rows, "clip_id long, payload binary")
        h = audio_envelope_hash(df, "payload")
        got = {r.clip_id: (r.decoded, r.ahash) for r in h.collect()}
        assert got[4] == (False, None)
        assert got[1] == got[2] and got[1][0] is True
        expect = 0
        for i in range(64):
            if base[i] > base[i + 1]:
                expect |= 1 << i
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert got[1][1] == expect
        pairs = {(r.id_a, r.id_b): r.hamming for r in hamming_neardup_pairs(
            h.where("decoded"), "clip_id", "ahash", max_hamming=3).collect()}
        assert pairs[(1, 2)] == 0 and pairs.get((1, 3), 99) <= 1

    def test_validation(self, spark):
        import pytest

        from ecu_sbl_aace_datalake_spark.operators.multimodal import (
            audio_envelope_hash,
        )

        df = spark.createDataFrame([(1, b"")], "clip_id long, payload binary")
        with pytest.raises(ValueError, match="n_windows"):
            audio_envelope_hash(df, "payload", n_windows=66)


class TestHammingJoinPlan:
    def test_equi_join_only(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.dedup import (
            hamming_neardup_pairs,
        )
        from ecu_sbl_aace_datalake_spark.plans.inspect import PlanAudit

        import pyspark.sql.functions as F

        h = spark.range(1000).withColumn("hash", F.xxhash64("id"))
        a = PlanAudit.of(hamming_neardup_pairs(h, "id", "hash"))
        # the whole point: banded candidates are equi-joins, never a
        # cartesian hash-vs-hash comparison; verify stays JVM-side
        assert a.cartesian_products == 0
        assert a.python_udf_nodes == 0
