"""Round-11 optimization regression tests: the restructured CC internals
(one checkpointed narrow pair base; no intermediate per-round distincts in
big-star) must keep labels EXACTLY as before on the shapes the removed
dedup steps used to normalize — duplicated pair rows, reversed duplicates,
and self-pairs."""

import pytest

from ecu_sbl_aace_datalake_spark.operators.dedup import duplicate_clusters


@pytest.fixture(scope="module")
def spark():
    from ecu_sbl_aace_datalake_spark import get_spark

    s = get_spark("test-r11-opt", shuffle_partitions=4)
    yield s


class TestCCRestructuredInternals:
    def test_duplicated_and_reversed_pairs(self, spark):
        # every edge appears 3x, once reversed — multiplicity must not
        # change labels now that intermediate distincts are gone
        rows = [(2, 1), (2, 1), (1, 2), (2, 3), (2, 3), (3, 7), (10, 11), (11, 10)]
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        expect = {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
        b = {r.node: r.cluster for r in duplicate_clusters(pairs).collect()}
        assert b == expect

    def test_self_pairs_yield_singleton_labels(self, spark):
        # self-pairs enter `nodes` (now derived from the checkpointed base)
        # but not `edges`; the node must still come back self-labeled
        pairs = spark.createDataFrame(
            [(5, 5), (2, 1), (9, 9)], "id_a long, id_b long"
        )
        b = {r.node: r.cluster
             for r in duplicate_clusters(pairs).collect()}
        assert b == {1: 1, 2: 1, 5: 5, 9: 9}

    def test_stats_rounds_still_reported(self, spark):
        stats: dict = {}
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(16)], "id_a long, id_b long"
        )
        out = duplicate_clusters(pairs, stats=stats)
        assert out.select("cluster").distinct().count() == 1
        assert stats["converged"] and stats["rounds"] >= 1


class TestLicenseLadderPrefilter:
    """The instr keyword prefilter added to license_id_col must be implied
    by EVERY ladder branch: each branch example below must still detect,
    and keyword-free text must return NULL exactly as before."""

    BRANCH_EXAMPLES = [
        ("AGPL-3.0", "released under the gnu affero general public license terms"),
        ("AGPL-3.0", "licensed agpl-v3 here"),
        ("LGPL-2.1", "under the gnu lesser general public license only"),
        ("LGPL-2.1", "this uses lgpl code"),
        ("GPL-3.0", "gnu general public license, version 3 applies"),
        ("GPL-3.0", "code is gpl-v3 throughout"),
        ("GPL-2.0", "gnu general public license; as published by the fsf, version 2"),
        ("GPL-2.0", "gplv2 applies"),
        ("Apache-2.0", "apache license, version 2.0 applies"),
        ("Apache-2.0", "under apache-2.0 terms"),
        ("MPL-2.0", "covered by the mozilla public license"),
        ("MPL-2.0", "mpl 2.0 covered file"),
        ("BSD-3-Clause", "bsd 3-clause licensed"),
        ("BSD-3-Clause", "redistribution and use in source and binary forms permitted"),
        ("MIT", "standard mit license text"),
        ("MIT", "permission is hereby granted, free of charge, to any person"),
        ("Unlicense", "this is free and unencumbered software released"),
        ("CC0-1.0", "dedicated via cc0 to the commons"),
        ("CC0-1.0", "public domain dedication applies"),
        ("CC-BY-NC-4.0", "creative commons attribution-noncommercial terms"),
        ("CC-BY-NC-4.0", "shared cc by-nc with attribution"),
        ("CC-BY-SA-4.0", "creative commons attribution sharealike"),
        ("CC-BY-SA-4.0", "licensed cc-by-sa by the author"),
        ("CC-BY-4.0", "creative commons attribution 4.0"),
        ("CC-BY-4.0", "photo licensed cc by the author"),
        ("Proprietary", "copyright 2031, all rights reserved."),
        ("Apache-2.0", "SPDX-License-Identifier: Apache-2.0"),
    ]

    def test_every_branch_still_detects(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.compliance import license_id_col

        rows = [(i, t) for i, (_, t) in enumerate(self.BRANCH_EXAMPLES)]
        df = spark.createDataFrame(rows, "i long, text string").select(
            "i", license_id_col("text").alias("lic")
        )
        got = {r.i: r.lic for r in df.collect()}
        for i, (want, _) in enumerate(self.BRANCH_EXAMPLES):
            assert got[i] == want, (i, self.BRANCH_EXAMPLES[i], got[i])

    def test_keyword_implied_by_every_branch_example(self):
        from ecu_sbl_aace_datalake_spark.operators.compliance import _LADDER_KEYWORDS

        for _, text in self.BRANCH_EXAMPLES:
            assert any(k in text.lower() for k in _LADDER_KEYWORDS), text

    def test_no_keyword_text_and_nulls_stay_null(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.compliance import license_id_col

        rows = [(0, "an ordinary document about shipping priorities"), (1, None)]
        df = spark.createDataFrame(rows, "i long, text string").select(
            "i", license_id_col("text").alias("lic")
        )
        got = {r.i: r.lic for r in df.collect()}
        assert got == {0: None, 1: None}
