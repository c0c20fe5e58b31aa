"""Round-12 optimization regression tests.

Pins the internals changed this round:
- duplicate_clusters' observe()-folded convergence (one job per round)
  must keep labels, rounds and the raise on non-convergence exactly as
  the old separate signature job did;
- the reliable_checkpoint option must produce identical labels through
  fault-tolerant checkpoint();
- ccnet_buckets' narrow ranking restructure must keep rows, columns and
  null-bucket semantics identical;
- association_rules' shared (__b, __i) base must match frequent_pairs run
  directly on the same input;
- the license-ladder keyword prefilter invariant is derived from
  LICENSE_PATTERNS itself (ADVICE r11): every alternation branch of every
  pattern implies at least one _LADDER_KEYWORDS member, checked on a
  GENERATED matching example per branch, not a hand-picked list.
"""

import re

import pytest

from pyspark.sql import functions as F

from ecu_sbl_aace_datalake_spark.operators.dedup import duplicate_clusters


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ecu_sbl_aace_datalake_spark import get_spark

    s = get_spark("test-r12-opt", shuffle_partitions=4)
    s.sparkContext.setCheckpointDir(
        str(tmp_path_factory.mktemp("r12_checkpoints"))
    )
    yield s


class TestObserveFoldedConvergence:
    def test_labels_and_rounds_match_expected(self, spark):
        # a 5-chain + a triangle + duplicated/reversed noise: must
        # converge and label by component min
        rows = [
            (1, 2), (2, 3), (3, 4), (4, 5),
            (10, 11), (11, 12), (12, 10), (12, 10),
            (2, 1),
        ]
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        stats: dict = {}
        out = {
            r.node: r.cluster
            for r in duplicate_clusters(pairs, stats=stats).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}
        # convergence detected (fingerprint equality) within the bound and
        # the final no-change round is counted, as before
        assert 1 <= stats["rounds"] <= 30

    def test_strict_raises_when_not_converged(self, spark):
        # a 16-node path cannot converge in 1 round
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(16)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            duplicate_clusters(pairs, max_iter=1)

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert duplicate_clusters(pairs).count() == 0


class TestReliableCheckpoint:
    ROWS = [(2, 1), (2, 3), (3, 7), (10, 11), (5, 5)]
    EXPECT = {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 5: 5}

    @staticmethod
    def _local_and_reliable(spark, rows):
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        local = {
            r.node: r.cluster for r in duplicate_clusters(pairs).collect()
        }
        reliable = {
            r.node: r.cluster
            for r in duplicate_clusters(
                pairs, reliable_checkpoint=True
            ).collect()
        }
        return local, reliable

    def test_minlabel_reliable_matches_local(self, spark):
        # every node labelled by its component minimum, identically
        # through reliable checkpoint() and local pins
        local, reliable = self._local_and_reliable(spark, self.ROWS)
        assert local == reliable == self.EXPECT

    def test_bigstar_reliable_matches_local(self, spark):
        # a hub whose leaves all exceed it plus a leaf chained off to a
        # smaller id: the large-star step must re-hang the whole star on
        # the new minimum, the same way under both pin modes
        rows = [(50, leaf) for leaf in range(51, 61)] + [(60, 70), (70, 40)]
        local, reliable = self._local_and_reliable(spark, rows)
        expect = {n: 40 for n in [40, 50, 70, *range(51, 61)]}
        assert local == reliable == expect


class TestCcnetNarrowRanking:
    def test_buckets_columns_and_nulls(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import textstats

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog", "a"),
                (2, "the quick brown fox jumps over the dog", "b"),
                (3, "zz", "c"),                       # < 2 tokens: NULL
                (4, "gibberish xq zzk vw qqj pp ab", "d"),
                (5, "the quick brown fox", "e"),
                (6, "lorem ipsum dolor sit amet", "f"),
            ],
            "doc_id long, text string, source string",
        )
        out = textstats.ccnet_buckets(docs, n_buckets=3)
        # payload columns preserved, LM columns appended in order
        assert out.columns == [
            "doc_id", "text", "source", "lm_logprob", "n_bigrams", "bucket"
        ]
        rows = {r.doc_id: r for r in out.collect()}
        assert len(rows) == 6
        # unscorable doc: all three appended columns NULL
        assert rows[3].lm_logprob is None
        assert rows[3].n_bigrams is None
        assert rows[3].bucket is None
        # scored docs: exactly the three labels, split by rank thirds,
        # most fluent (highest lm_logprob) in head
        scored = [r for d, r in rows.items() if d != 3]
        assert all(r.bucket in ("head", "middle", "tail") for r in scored)
        by_score = sorted(
            scored, key=lambda r: (-r.lm_logprob, r.doc_id)
        )
        order = [r.bucket for r in by_score]
        assert order == sorted(
            order, key=["head", "middle", "tail"].index
        )

    def test_bigram_lm_scores_unchanged_contract(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import textstats

        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "x")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in textstats.bigram_lm_scores(docs).collect()}
        assert out[1].n_bigrams == 3
        assert out[1].lm_logprob is not None
        assert out[2].lm_logprob is None and out[2].n_bigrams is None


class TestSharedBasketBase:
    def test_association_rules_matches_direct_frequent_pairs(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import skew

        rows = [
            ("b1", "milk"), ("b1", "bread"), ("b1", "milk"),
            ("b2", "milk"), ("b2", "bread"),
            ("b3", "milk"), ("b3", "eggs"),
            ("b4", None), (None, "milk"),
        ]
        df = spark.createDataFrame(rows, "basket string, item string")
        rules = skew.association_rules(
            df, "basket", "item", min_support=2
        ).collect()
        got = {
            (r.antecedent, r.consequent): (
                r.pair_count, r.support, r.confidence, r.lift
            )
            for r in rules
        }
        # milk & bread co-occur in b1, b2 of 3 baskets; milk in 3, bread 2
        assert got[("milk", "bread")] == (
            2, round(2 / 3, 6), round(2 / 3, 6), round((2 / 3) / (2 / 3), 6)
        )
        assert got[("bread", "milk")] == (2, round(2 / 3, 6), 1.0, 1.0)
        # direct frequent_pairs on the same cleaned input agrees
        fp = skew.frequent_pairs(
            df.where(F.col("item").isNotNull() & F.col("basket").isNotNull()),
            "basket", "item", min_support=2,
        ).collect()
        assert {(r.item_a, r.item_b, r.pair_count) for r in fp} == {
            ("bread", "milk", 2)
        }


class TestLadderKeywordInvariantDerived:
    """ADVICE r11: derive the prefilter-soundness test from
    LICENSE_PATTERNS itself. For every top-level alternation branch of
    every pattern (and the SPDX line), generate a minimal matching string
    from the regex, assert the branch actually matches it, and assert it
    contains >= 1 _LADDER_KEYWORDS member — so any future pattern edit
    that breaks the keyword implication fails here, not silently in the
    compliance gate."""

    @staticmethod
    def _split_top_level(pat: str) -> list:
        parts, depth, cur = [], 0, ""
        i = 0
        while i < len(pat):
            ch = pat[i]
            if ch == "\\":
                cur += pat[i : i + 2]
                i += 2
                continue
            if ch == "[":
                j = pat.index("]", i)
                cur += pat[i : j + 1]
                i = j + 1
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "|" and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                cur += ch
            i += 1
        parts.append(cur)
        return parts

    @staticmethod
    def _example_of(branch: str) -> str:
        """Minimal matching example: drop \\b anchors, take the FIRST
        character of classes, include optional atoms, empty the bounded
        wildcards, recurse into groups."""
        s = branch
        s = re.sub(r"\.\{\d+,\d+\}", "", s)     # .{0,40} -> ''
        s = s.replace(r"\b", "")
        s = re.sub(r"\[([^\]])[^\]]*\]\?", r"\1", s)   # [ab]? -> a
        s = re.sub(r"\[([^\]])[^\]]*\]", r"\1", s)     # [ab]  -> a
        s = re.sub(r"([a-z0-9.+\- ])\?", r"\1", s)     # x?    -> x
        s = re.sub(r"\(([^()]*)\)\?", r"\1", s)        # (g)?  -> g
        s = re.sub(r"\(([^()|]*)\)", r"\1", s)         # (g)   -> g
        s = s.replace(r"\s*", " ").replace(r"\s", " ")
        s = s.replace("\\", "")
        return s

    def test_every_branch_implies_a_keyword(self):
        from ecu_sbl_aace_datalake_spark.operators.compliance import (
            LICENSE_PATTERNS,
            SPDX_RE,
            _LADDER_KEYWORDS,
        )

        checked = 0
        for lic, pat in LICENSE_PATTERNS:
            for branch in self._split_top_level(pat):
                example = self._example_of(branch)
                assert re.search(branch, example), (
                    f"{lic}: generated example {example!r} does not match "
                    f"branch {branch!r} — extend the test generator"
                )
                assert any(kw in example for kw in _LADDER_KEYWORDS), (
                    f"{lic}: branch {branch!r} (example {example!r}) is "
                    "not implied by any _LADDER_KEYWORDS member — the "
                    "prefilter would silently NULL this license"
                )
                checked += 1
        assert checked >= len(LICENSE_PATTERNS)
        # the SPDX line requires its own keyword
        spdx_example = "spdx-license-identifier: mit"
        assert re.search(SPDX_RE, spdx_example)
        assert any(kw in spdx_example for kw in _LADDER_KEYWORDS)

    def test_keyword_free_text_is_null(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.compliance import (
            license_id_col,
        )

        df = spark.createDataFrame(
            [("plain prose with no legal terms at all",), (None,)],
            "text string",
        )
        got = [r.lic for r in df.select(license_id_col("text").alias("lic")).collect()]
        assert got == [None, None]
