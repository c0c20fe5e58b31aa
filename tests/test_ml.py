"""Unit tests for operators/ml.py (regression, AUC, confusion,
correlation) and the round-5 timeseries/dedup additions (ACF, CUSUM,
winnowing fingerprints)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ecu_sbl_aace_datalake_spark.operators import dedup, ml, timeseries


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestLinregSimple:
    def test_exact_line(self, spark):
        df = spark.createDataFrame(
            [(float(x), 2.0 * x + 1.0) for x in range(10)], "x double, y double"
        )
        out = ml.linreg_simple(df, "x", "y").collect()[0]
        assert out["n"] == 10
        assert float(out["slope"]) == 2.0
        assert float(out["intercept"]) == 1.0
        assert float(out["r2"]) == 1.0

    def test_grouped_and_degenerate(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0, 5.0), ("a", 2.0, 7.0), ("b", 3.0, 1.0), ("b", 3.0, 9.0)],
            "g string, x double, y double",
        )
        out = {r["g"]: r for r in ml.linreg_simple(df, "x", "y", by=["g"]).collect()}
        assert float(out["a"]["slope"]) == 2.0
        # constant x: no fit, nulls not infinities
        assert out["b"]["slope"] is None
        assert out["b"]["intercept"] is None

    def test_nulls_dropped(self, spark):
        df = spark.createDataFrame(
            [(1.0, 2.0), (None, 9.0), (2.0, None), (2.0, 4.0)],
            "x double, y double",
        )
        assert ml.linreg_simple(df, "x", "y").collect()[0]["n"] == 2


class TestLinregFit:
    def test_matches_numpy_lstsq(self, spark):
        import numpy as np

        data = [
            (1.0, 2.0, 7.1), (2.0, 1.0, 9.3), (3.0, 4.0, 12.0),
            (4.0, 2.0, 15.2), (5.0, 5.0, 18.9), (6.0, 3.0, 21.1),
        ]
        df = spark.createDataFrame(data, "x1 double, x2 double, y double")
        w = ml.linreg_fit(df, ["x1", "x2"], "y")
        X = np.array([[1.0, r[0], r[1]] for r in data])
        y = np.array([r[2] for r in data])
        ref, *_ = np.linalg.lstsq(X, y, rcond=None)
        assert max(abs(a - b) for a, b in zip(w, ref)) < 1e-9

    def test_frozen_weights_provenance(self, spark):
        """WEIGHTS_PRICE_V1 must be the exact refit at sf0.001 — the
        deterministic-training property the oracle literals rely on."""
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        w = ml.linreg_fit(li, ["l_quantity", "l_discount"], "l_extendedprice")
        assert w == ml.WEIGHTS_PRICE_V1

    def test_exact_data_gives_exact_weights(self, spark):
        """y = 1 + 2·x1 + 3·x2 holds exactly on decimal inputs, so the
        exact solve returns exactly [1, 2, 3] — a float LAPACK solve of
        the same moments does not promise that."""
        from decimal import Decimal

        xs = [("0.5", "1.25"), ("1.75", "0.1"), ("3.2", "2.6"),
              ("4.05", "0.3"), ("5.5", "4.75"), ("6.1", "1.9")]
        data = [
            (Decimal(a), Decimal(b), 1 + 2 * Decimal(a) + 3 * Decimal(b))
            for a, b in xs
        ]
        df = spark.createDataFrame(
            data, "x1 decimal(10,2), x2 decimal(10,2), y decimal(10,2)"
        )
        assert ml.linreg_fit(df, ["x1", "x2"], "y") == [1.0, 2.0, 3.0]

    def test_singular_system_raises(self, spark):
        """A constant feature is collinear with the intercept: the solve
        raises numpy's LinAlgError, as np.linalg.solve does."""
        from numpy.linalg import LinAlgError

        df = spark.createDataFrame(
            [(5.0, float(i), 2.0 * i) for i in range(5)],
            "c double, x double, y double",
        )
        with pytest.raises(LinAlgError):
            ml.linreg_fit(df, ["c", "x"], "y")

    def test_score_weight_guard(self, spark):
        df = spark.createDataFrame([(1.0,)], "x double")
        with pytest.raises(ValueError):
            ml.linreg_score(df, ["x"], [1.0])  # needs intercept + 1

    def test_score_projection(self, spark):
        df = spark.createDataFrame([(2.0, 3.0)], "a double, b double")
        out = ml.linreg_score(df, ["a", "b"], [1.0, 10.0, 100.0]).collect()[0]
        assert out["prediction"] == 1.0 + 20.0 + 300.0


class TestAuc:
    def test_perfect_and_inverted(self, spark):
        df = spark.createDataFrame(
            [(float(i), 1 if i >= 5 else 0) for i in range(10)],
            "s double, lab int",
        )
        assert float(ml.auc_score(df, "s", "lab").collect()[0]["auc"]) == 1.0
        inv = df.withColumn("lab", 1 - F.col("lab"))
        assert float(ml.auc_score(inv, "s", "lab").collect()[0]["auc"]) == 0.0

    def test_ties_midrank(self, spark):
        # scores: pos at 1.0, neg at 1.0 -> AUC must be exactly 0.5
        df = spark.createDataFrame(
            [(1.0, 1), (1.0, 0), (1.0, 1), (1.0, 0)], "s double, lab int"
        )
        assert float(ml.auc_score(df, "s", "lab").collect()[0]["auc"]) == 0.5

    def test_single_class_null(self, spark):
        df = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, lab int")
        row = ml.auc_score(df, "s", "lab").collect()[0]
        assert row["auc"] is None and row["n_neg"] == 0

    def test_hand_value(self, spark):
        # pos scores {3,1}, neg scores {2,0}: pairs won 3>2,3>0,1>0 = 3/4
        df = spark.createDataFrame(
            [(3.0, 1), (1.0, 1), (2.0, 0), (0.0, 0)], "s double, lab int"
        )
        assert float(ml.auc_score(df, "s", "lab").collect()[0]["auc"]) == 0.75

    def test_grouped(self, spark):
        df = spark.createDataFrame(
            [("g1", 3.0, 1), ("g1", 2.0, 0), ("g2", 1.0, 1), ("g2", 2.0, 0)],
            "g string, s double, lab int",
        )
        out = {r["g"]: float(r["auc"]) for r in ml.auc_score(df, "s", "lab", by=["g"]).collect()}
        assert out == {"g1": 1.0, "g2": 0.0}


class TestConfusion:
    def test_hand_counts(self, spark):
        df = spark.createDataFrame(
            [(0.9, 1), (0.8, 0), (0.4, 1), (0.1, 0), (0.6, 1)],
            "s double, lab int",
        )
        r = ml.confusion_metrics(df, "s", "lab", threshold=0.5).collect()[0]
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 1)
        assert float(r["precision"]) == round(2 / 3, 6)
        assert float(r["recall"]) == round(2 / 3, 6)
        assert float(r["f1"]) == round(2 / 3, 6)

    def test_empty_side_nulls(self, spark):
        df = spark.createDataFrame([(0.1, 0), (0.2, 0)], "s double, lab int")
        r = ml.confusion_metrics(df, "s", "lab", threshold=0.5).collect()[0]
        assert r["precision"] is None and r["recall"] is None


class TestCorrelationMatrix:
    def test_known_correlations(self, spark):
        df = spark.createDataFrame(
            [(float(i), 2.0 * i, -3.0 * i, 5.0) for i in range(1, 9)],
            "a double, b double, c double, d double",
        )
        out = {(r["col_x"], r["col_y"]): r["corr"] for r in
               ml.correlation_matrix(df, ["a", "b", "c", "d"]).collect()}
        assert float(out[("a", "b")]) == 1.0
        assert float(out[("a", "c")]) == -1.0
        assert out[("a", "d")] is None  # constant column -> null
        assert len(out) == 6


class TestAutocorrelation:
    def test_alternating_series(self, spark):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        rows_in = [
            ("k", base + datetime.timedelta(minutes=i), i,
             1.0 if i % 2 == 0 else -1.0)
            for i in range(12)
        ]
        df = spark.createDataFrame(
            rows_in, "k string, ts timestamp, eid long, v double"
        )
        out = {r["lag"]: float(r["acf"]) for r in timeseries.autocorrelation(
            df, ["k"], "ts", "v", max_lag=2, tie_col="eid").collect()}
        assert out[1] == -1.0
        assert out[2] == 1.0

    def test_constant_series_null(self, spark):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("k", base + datetime.timedelta(minutes=i), i, 7.0) for i in range(5)],
            "k string, ts timestamp, eid long, v double",
        )
        out = timeseries.autocorrelation(df, ["k"], "ts", "v", max_lag=1, tie_col="eid").collect()
        assert out[0]["acf"] is None and out[0]["n_pairs"] == 4


class TestCusum:
    def test_matches_recursion(self, spark):
        import datetime

        vals = [0.0, 0.5, 3.0, 2.5, -1.0, 4.0, 0.2, -3.0]
        target, k = 1.0, 0.25
        sp = sn = 0.0
        exp_pos, exp_neg = [], []
        for v in vals:
            sp = max(0.0, sp + (v - target - k))
            sn = max(0.0, sn + (target - v - k))
            exp_pos.append(round(sp, 6))
            exp_neg.append(round(sn, 6))
        base = datetime.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("k", base + datetime.timedelta(minutes=i), i, v)
             for i, v in enumerate(vals)],
            "k string, ts timestamp, eid long, v double",
        )
        out = timeseries.cusum_scores(
            df, ["k"], "ts", "v", target=target, slack=k, tie_col="eid"
        ).orderBy("ts").collect()
        got_pos = [float(r["cusum_pos"]) for r in out]
        got_neg = [float(r["cusum_neg"]) for r in out]
        assert got_pos == exp_pos
        assert got_neg == exp_neg

    def test_nonnegative(self, spark):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("k", base + datetime.timedelta(minutes=i), i, float(-i))
             for i in range(20)],
            "k string, ts timestamp, eid long, v double",
        )
        out = timeseries.cusum_scores(df, ["k"], "ts", "v", target=0.0, tie_col="eid")
        mn = out.agg(F.min("cusum_pos"), F.min("cusum_neg")).collect()[0]
        assert float(mn[0]) >= 0.0 and float(mn[1]) >= 0.0


class TestWinnowing:
    def _fps(self, spark, texts, k=5, w=4):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        out = dedup.winnowing_fingerprints(df, "doc_id", "text", k=k, w=w)
        by_doc: dict[int, set[int]] = {}
        for r in out.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        return by_doc

    def test_shared_substring_guarantee(self, spark):
        """Any shared substring of length >= k + w - 1 (= 8 here) must
        yield at least one shared fingerprint hash."""
        shared = "zqxjwvkp"  # 8 chars, appears verbatim in both
        fps = self._fps(
            spark,
            [f"aaa {shared} bbb ccc ddd", f"eee fff {shared} ggg hhh"],
        )
        assert fps[0] & fps[1]

    def test_disjoint_texts_no_overlap(self, spark):
        fps = self._fps(
            spark,
            ["aabbccddeeaabbccdd eeaabb", "zzyyxxwwvvzzyyxxww vvzzyy"],
        )
        # different content -> overwhelmingly disjoint fingerprints
        assert not (fps.get(0, set()) & fps.get(1, set()))

    def test_short_text_empty(self, spark):
        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        assert dedup.winnowing_fingerprints(df, "doc_id", "text", k=5, w=4).count() == 0

    def test_density(self, spark):
        """Winnowing selects ~2/(w+1) of gram positions — sanity-check the
        selection actually thins (strictly fewer fingerprints than grams)."""
        text = "the quick brown fox jumps over the lazy dog " * 5
        fps = self._fps(spark, [text])
        n_grams = len(" ".join(text.split()).strip()) - 4
        assert 0 < len(fps[0]) < n_grams / 2

    def test_param_guard(self, spark):
        df = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dedup.winnowing_fingerprints(df, "doc_id", "text", k=0, w=4)


class TestMutualInformation:
    def test_independent_zero(self, spark):
        # uniform 2x2 joint: p(a,b) = p(a)p(b) exactly -> MI = 0
        df = spark.createDataFrame(
            [("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")] * 3,
            "a string, b string",
        )
        r = ml.mutual_information(df, "a", "b").collect()[0]
        assert float(r["mi"]) == 0.0 and r["n_cells"] == 4

    def test_identical_columns(self, spark):
        import math

        df = spark.createDataFrame(
            [("x", "x"), ("y", "y")] * 5, "a string, b string"
        )
        r = ml.mutual_information(df, "a", "b").collect()[0]
        assert abs(float(r["mi"]) - math.log(2)) < 1e-6


class TestJackknife:
    def test_constant_zero_se(self, spark):
        df = spark.createDataFrame([(i, 5.0) for i in range(100)], "id long, v double")
        r = ml.jackknife_ci(df, "v", hash_col="id").collect()[0]
        assert float(r["se_jack"]) == 0.0 and float(r["mean"]) == 5.0

    def test_se_positive_and_plausible(self, spark):
        import math

        vals = [(i, float(i % 10)) for i in range(1000)]
        df = spark.createDataFrame(vals, "id long, v double")
        r = ml.jackknife_ci(df, "v", hash_col="id").collect()[0]
        se = float(r["se_jack"])
        # sd of 0..9 uniform ~2.87; se of mean ~0.0908 — jackknife should land near
        assert 0.03 < se < 0.3

    def test_grouped_keys(self, spark):
        df = spark.createDataFrame(
            [("a", i, float(i)) for i in range(50)]
            + [("b", i, 1.0) for i in range(50)],
            "g string, id long, v double",
        )
        out = {r["g"]: r for r in ml.jackknife_ci(df, "v", hash_col="id", by=["g"]).collect()}
        assert float(out["b"]["se_jack"]) == 0.0
        assert float(out["a"]["se_jack"]) > 0.0


class TestSeasonalAnomaly:
    def test_hand_z(self, spark):
        import datetime, math

        base = datetime.datetime(2024, 1, 1, 9, 0, 0)
        rows_in = [("k", base + datetime.timedelta(minutes=i), v)
                   for i, v in enumerate([1.0, 1.0, 1.0, 5.0])]
        df = spark.createDataFrame(rows_in, "k string, ts timestamp, v double")
        out = timeseries.seasonal_anomaly(df, ["k"], "ts", "v", season="hour")
        zs = sorted(float(r["z"]) for r in out.collect())
        exp_hi = round(3.0 / math.sqrt(3.0), 6)
        assert zs[-1] == exp_hi
        assert abs(zs[0] + 1.0 / math.sqrt(3.0)) < 1e-6

    def test_single_point_null(self, spark):
        import datetime

        df = spark.createDataFrame(
            [("k", datetime.datetime(2024, 1, 1, 3), 1.0)],
            "k string, ts timestamp, v double",
        )
        assert timeseries.seasonal_anomaly(df, ["k"], "ts", "v").collect()[0]["z"] is None

    def test_bad_season_guard(self, spark):
        df = spark.createDataFrame([("k",)], "k string")
        with pytest.raises(ValueError):
            timeseries.seasonal_anomaly(df, ["k"], "ts", "v", season="year")


class TestWeightedMedian:
    def test_weight_dominance(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 1.0), (100.0, 10.0)], "v double, w double"
        )
        assert transform.weighted_median(df, "v", "w").collect()[0][
            "weighted_median"
        ] == 100.0

    def test_even_unit_weights(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame(
            [(float(v), 1.0) for v in [1, 2, 3, 4]], "v double, w double"
        )
        # cumw*2 >= total first reached at v=2
        assert transform.weighted_median(df, "v", "w").collect()[0][
            "weighted_median"
        ] == 2.0

    def test_zero_weights_excluded(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame(
            [(1.0, 0.0), (2.0, 1.0)], "v double, w double"
        )
        assert transform.weighted_median(df, "v", "w").collect()[0][
            "weighted_median"
        ] == 2.0


class TestWinsorize:
    def test_bounds_clamp(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame(
            [(float(i),) for i in range(1, 101)], "v double"
        )
        out = transform.winsorize(df, "v", lower_q=0.05, upper_q=0.95)
        vals = [r["v_wins"] for r in out.collect()]
        # idx = 1 + 99*0.05 = 5.95 -> 5 + 0.95*(6-5) = 5.95; upper = 95.05
        assert min(vals) == 5.95 and max(vals) == 95.05
        # interior points untouched
        assert 50.0 in vals

    def test_constant_column(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame([(7.0,)] * 10, "v double")
        out = transform.winsorize(df, "v")
        assert all(r["v_wins"] == 7.0 for r in out.collect())


class TestTableDiff:
    def test_statuses(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        a = spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "z")], "k long, val string"
        )
        b = spark.createDataFrame(
            [(2, "y"), (3, "CHANGED"), (4, "new")], "k long, val string"
        )
        out = {r["k"]: r["diff_status"] for r in profile.table_diff(a, b, ["k"]).collect()}
        assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}

    def test_null_vs_empty_distinct(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        a = spark.createDataFrame([(1, None)], "k long, val string")
        b = spark.createDataFrame([(1, "")], "k long, val string")
        assert profile.table_diff(a, b, ["k"]).collect()[0]["diff_status"] == "changed"


class TestBenford:
    def test_digits_and_small_values(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        df = spark.createDataFrame(
            [(123.0,), (0.023,), (9.9,), (1000.0,), (-250.0,), (0.0,), (None,)],
            "v double",
        )
        out = {r["digit"]: r["n_obs"] for r in profile.benford_audit(df, "v").collect()}
        assert out == {1: 2, 2: 2, 9: 1}  # zero/null excluded

    def test_benford_distribution_shares(self, spark):
        import math
        from ecu_sbl_aace_datalake_spark.operators import profile

        df = spark.createDataFrame([(float(v),) for v in range(1, 1000)], "v double")
        rows_out = profile.benford_audit(df, "v").collect()
        r1 = next(r for r in rows_out if r["digit"] == 1)
        assert float(r1["expected"]) == round(math.log10(2), 6)
        assert abs(float(r1["share"]) - 111.0 / 999.0) < 1e-6


class TestRake:
    def test_hand_scores(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import textstats

        df = spark.createDataFrame(
            [(1, "deep learning of deep networks")], "doc_id long, text string"
        )
        out = {r["phrase"]: (r["n_occurrences"], float(r["score"]))
               for r in textstats.rake_keyphrases(df, top=None).collect()}
        # freq: deep 2, learning 1, networks 1; degree: deep 4, learning 2, networks 2
        # word scores: deep 2, learning 2, networks 2 -> both phrases score 4
        assert out == {"deep learning": (1, 4.0), "deep networks": (1, 4.0)}

    def test_max_phrase_len(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import textstats

        df = spark.createDataFrame(
            [(1, "one two three four five")], "doc_id long, text string"
        )
        assert textstats.rake_keyphrases(df, top=None, max_phrase_len=4).count() == 0

    def test_repeated_phrase_counts(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import textstats

        df = spark.createDataFrame(
            [(1, "alpha beta and alpha beta")], "doc_id long, text string"
        )
        out = {r["phrase"]: r["n_occurrences"]
               for r in textstats.rake_keyphrases(df, top=None).collect()}
        assert out["alpha beta"] == 2


class TestFunnelWithin:
    def _events(self, spark, rows_in):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        data = [(u, base + datetime.timedelta(seconds=s), t) for u, s, t in rows_in]
        return spark.createDataFrame(data, "user_id long, ts timestamp, event_type string")

    def test_window_enforced(self, spark):
        from ecu_sbl_aace_datalake_spark.streaming import events as ev

        df = self._events(spark, [
            (1, 0, "a"), (1, 50, "b"),            # converts within 100s
            (2, 0, "a"), (2, 500, "b"),           # too late
        ])
        out = {r["user_id"]: r["stages_reached"]
               for r in ev.funnel_stages(df, ["a", "b"], within_seconds=100).collect()}
        assert out == {1: 2, 2: 1}

    def test_greedy_first_match(self, spark):
        from ecu_sbl_aace_datalake_spark.streaming import events as ev

        # first 'b' (in window) consumed greedily; 'c' measured from it
        df = self._events(spark, [
            (1, 0, "a"), (1, 10, "b"), (1, 300, "b"), (1, 350, "c"),
        ])
        r = ev.funnel_stages(df, ["a", "b", "c"], within_seconds=100).collect()[0]
        # c is 340s after the greedy first b -> funnel stops at 2
        assert r["stages_reached"] == 2

    def test_no_window_matches_plain(self, spark):
        from ecu_sbl_aace_datalake_spark.streaming import events as ev

        df = self._events(spark, [(1, 0, "a"), (1, 10_000_000, "b")])
        plain = ev.funnel_stages(df, ["a", "b"]).collect()[0]["stages_reached"]
        assert plain == 2


class TestTrending:
    def test_ratios(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.streaming import events as ev

        rows_in = []
        for day, n in [(1, 2), (2, 6), (3, 3)]:
            for i in range(n):
                rows_in.append(("x", datetime.datetime(2024, 1, day, i)))
        df = spark.createDataFrame(rows_in, "event_type string, ts timestamp")
        out = {str(r["bucket"]): (r["n"], r["trend_ratio"])
               for r in ev.trending_counts(df).collect()}
        assert out["2024-01-01"] == (2, None)
        assert out["2024-01-02"] == (6, 3.0)
        assert out["2024-01-03"] == (3, 0.5)

    def test_bad_bucket_guard(self, spark):
        from ecu_sbl_aace_datalake_spark.streaming import events as ev

        df = spark.createDataFrame([("x",)], "event_type string")
        with pytest.raises(ValueError):
            ev.trending_counts(df, bucket="month")


class TestQuantileNormalize:
    def test_identical_groups_fixed_point(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        # both groups already share the global distribution -> near-identity
        data = [("a", float(v)) for v in range(1, 11)] + [
            ("b", float(v)) for v in range(1, 11)
        ]
        df = spark.createDataFrame(data, "g string, v double")
        out = transform.quantile_normalize(df, ["g"], "v").collect()
        for r in out:
            assert abs(r["v_qnorm"] - r["v"]) <= 0.51  # within half a step

    def test_shifted_group_aligned(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform
        from pyspark.sql import functions as SF

        # group b = group a + 1000: after normalization both should have
        # the same mean (mapped onto the pooled distribution)
        data = [("a", float(v)) for v in range(1, 51)] + [
            ("b", float(v + 1000)) for v in range(1, 51)
        ]
        df = spark.createDataFrame(data, "g string, v double")
        out = transform.quantile_normalize(df, ["g"], "v")
        means = {
            r["g"]: float(r["m"])
            for r in out.groupBy("g").agg(SF.round(SF.avg("v_qnorm"), 2).alias("m")).collect()
        }
        assert abs(means["a"] - means["b"]) < 1.0

    def test_rowcount_preserved(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        data = [("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 5.0)]
        df = spark.createDataFrame(data, "g string, v double")
        assert transform.quantile_normalize(df, ["g"], "v").count() == 4


class TestCloseness:
    def test_path_graph(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        # path a-b-c-d: from a (3 hops): reached {a,b,c,d}, dists 0+1+2+3
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
        )
        r = {x["seed"]: x for x in graph.closeness_centrality(
            edges, ["a", "b"], max_hops=3).collect()}
        assert r["a"]["n_reached"] == 4 and r["a"]["sum_dist"] == 6
        assert float(r["a"]["closeness"]) == 0.5
        # harmonic from a: 1/1 + 1/2 + 1/3
        assert abs(float(r["a"]["harmonic"]) - (1 + 0.5 + 1 / 3)) < 1e-6
        # from b: dists b0 a1 c1 d2 -> closeness 3/4
        assert float(r["b"]["closeness"]) == 0.75

    def test_hop_bound(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
        )
        r = graph.closeness_centrality(edges, ["a"], max_hops=1).collect()[0]
        assert r["n_reached"] == 2 and r["sum_dist"] == 1

    def test_isolated_seed(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        edges = spark.createDataFrame([("x", "y")], "src string, dst string")
        r = graph.closeness_centrality(edges, ["z"], max_hops=2).collect()[0]
        assert r["n_reached"] == 1 and r["closeness"] is None


class TestPersonalizedPagerank:
    def test_mass_concentrates_on_seeds(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        # star: hub h connected to a,b,c; seed = a
        edges = spark.createDataFrame(
            [("h", "a"), ("h", "b"), ("h", "c")], "src string, dst string"
        )
        pr = {r["node"]: float(r["rank"]) for r in graph.pagerank(
            edges, iterations=10, symmetrize=True, seeds=["a"]).collect()}
        assert pr["a"] > pr["b"] == pr["c"]
        assert pr["h"] > pr["b"]  # hub adjacent to the seed

    def test_seedless_unchanged(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        pr = graph.pagerank(edges, iterations=3, symmetrize=True)
        total = sum(float(r["rank"]) for r in pr.collect())
        assert abs(total - 1.0) < 1e-3


class TestChi2:
    def test_independent_zero(self, spark):
        df = spark.createDataFrame(
            [("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")] * 4,
            "a string, b string",
        )
        r = ml.chi2_independence(df, "a", "b").collect()[0]
        assert float(r["chi2"]) == 0.0 and r["dof"] == 1

    def test_perfect_dependence(self, spark):
        # 2x2 fully dependent: chi2 = n
        df = spark.createDataFrame(
            [("x", "u"), ("y", "v")] * 6, "a string, b string"
        )
        r = ml.chi2_independence(df, "a", "b").collect()[0]
        assert float(r["chi2"]) == float(r["n"]) == 12.0

    def test_unobserved_cell_correction(self, spark):
        """3 cells observed of a 2x2 table: the missing cell's expected
        count must still contribute (chi2 of scipy's full table)."""
        data = [("x", "u")] * 4 + [("x", "v")] * 4 + [("y", "u")] * 4
        df = spark.createDataFrame(data, "a string, b string")
        r = ml.chi2_independence(df, "a", "b").collect()[0]
        # full-table chi2: e = [8*8/12=16/3, 8*4/12=8/3, 4*8/12=8/3, 4*4/12=4/3]
        e = [16 / 3, 8 / 3, 8 / 3, 4 / 3]
        o = [4.0, 4.0, 4.0, 0.0]
        exp = sum((oo - ee) ** 2 / ee for oo, ee in zip(o, e))
        assert abs(float(r["chi2"]) - round(exp, 4)) < 1e-3


class TestConcentration:
    def test_monopoly_vs_uniform(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        df = spark.createDataFrame(
            [("mono", 100.0), ("mono", 0.0), ("mono", 0.0), ("mono", 0.0)]
            + [("unif", 25.0)] * 4,
            "g string, v double",
        )
        out = {r["g"]: r for r in profile.concentration_metrics(df, ["g"], "v").collect()}
        assert float(out["mono"]["hhi"]) == 1.0
        assert float(out["unif"]["hhi"]) == 0.25
        assert float(out["unif"]["gini"]) == 0.0
        # monopoly of 4: gini = (n-1)/n = 0.75
        assert float(out["mono"]["gini"]) == 0.75

    def test_negative_guard(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        df = spark.createDataFrame([("g", -1.0)], "g string, v double")
        with pytest.raises(ValueError):
            profile.concentration_metrics(df, ["g"], "v")


class TestJaroWinkler:
    def test_reference_values(self, spark):
        from ecu_sbl_aace_datalake_spark.operators.dedup import _jaro_winkler_py

        assert _jaro_winkler_py("martha", "marhta") == pytest.approx(0.9611111111)
        assert _jaro_winkler_py("dwayne", "duane") == pytest.approx(0.84)
        assert _jaro_winkler_py("abc", "abc") == 1.0
        assert _jaro_winkler_py("abc", "xyz") == 0.0
        assert _jaro_winkler_py("", "x") == 0.0

    def test_duckdb_parity_random(self, spark):
        import duckdb, random
        from ecu_sbl_aace_datalake_spark.operators.dedup import _jaro_winkler_py

        rng = random.Random(42)
        alpha = "abcdef#0123"
        con = duckdb.connect()
        for _ in range(300):
            a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))
            b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))
            d = con.execute(
                "SELECT jaro_winkler_similarity(?, ?)", [a, b]
            ).fetchone()[0]
            assert round(_jaro_winkler_py(a, b), 9) == round(d, 9), (a, b)

    def test_blocked_pairs(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "martha_x01"), (2, "marhta_x01"), (3, "zzzzzz_x01"),
             (4, "martha_y99")],
            "id long, name string",
        )
        out = dedup.jaro_winkler_pairs(df, "id", "name", threshold=0.9)
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        # 1-2 match within block x01; 4 is in block y99 (never a candidate)
        assert (1, 2) in pairs
        assert all(4 not in p for p in pairs)


class TestKCenter:
    def _emb(self, spark, pts):
        return spark.createDataFrame(
            [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
            "vec_id long, embedding array<float>",
        )

    def test_farthest_point_order(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        # points on a line: 0, 1, 10, 11 -> start id0(x=0), then x=11 (id3),
        # then mind: id1 (1 vs 10->1), id2 (10->min(100,1)=1)... tie by id -> id1
        pts = [[0.0, 0.0], [1.0, 0.0], [10.0, 0.0], [11.0, 0.0]]
        out = {r["rank"]: r["id"] for r in similarity.kcenter_selection(
            self._emb(spark, pts), k=3).collect()}
        assert out[0] == 0 and out[1] == 3
        assert out[2] in (1, 2)  # equal min-dist 1.0; id tie-break -> 1
        assert out[2] == 1

    def test_k_exceeds_points(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        out = similarity.kcenter_selection(
            self._emb(spark, [[0.0], [5.0]]), k=10
        ).collect()
        assert len(out) == 2

    def test_coverage_property(self, spark):
        """Each selected point strictly grows coverage: the selected set
        must be pairwise distinct and k points reduce the max min-dist."""
        from ecu_sbl_aace_datalake_spark.operators import similarity

        pts = [[float(i % 7), float(i // 7)] for i in range(20)]
        out = similarity.kcenter_selection(self._emb(spark, pts), k=6).collect()
        ids = [r["id"] for r in out]
        assert len(set(ids)) == 6


class TestKAnonymity:
    def test_class_sizes(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 1), ("b", 2), ("c", None)],
            "qi1 string, qi2 int",
        )
        out = {r["class_size"]: r for r in profile.k_anonymity(df, ["qi1", "qi2"], k=3).collect()}
        assert out[3]["n_classes"] == 1 and not out[3]["violates"]
        assert out[1]["n_classes"] == 2 and out[1]["violates"]
        assert out[1]["n_rows"] == 2


class TestIncrementalJoin:
    def test_matches_full_recompute(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import joins

        lo = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
        ld = spark.createDataFrame([(3, "c"), (1, "a2")], "k long, lv string")
        ro = spark.createDataFrame([(1, "X"), (3, "Y")], "k long, rv string")
        rd = spark.createDataFrame([(2, "Z"), (3, "Y2")], "k long, rv string")
        prev = lo.join(ro, "k")
        upd = sorted(map(tuple, joins.incremental_join_update(
            prev, lo, ro, ld, rd, on="k").collect()))
        full = sorted(map(tuple, lo.unionByName(ld).join(
            ro.unionByName(rd), "k").collect()))
        assert upd == full


class TestModularity:
    def _mk(self, spark, edge_list, label_map):
        edges = spark.createDataFrame(edge_list, "src string, dst string")
        labels = spark.createDataFrame(
            list(label_map.items()), "node string, label string"
        )
        return edges, labels

    def test_two_cliques(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        # two triangles joined by one edge; perfect 2-community split
        edges = [("a","b"),("b","c"),("a","c"),("x","y"),("y","z"),("x","z"),("c","x")]
        labels = {n: ("L" if n in "abc" else "R") for n in "abcxyz"}
        e, l = self._mk(spark, edges, labels)
        r = graph.modularity(e, l).collect()[0]
        # m=7, e_L=3, e_R=3; d_L = 2+2+3=7, d_R=7
        exp = round((3/7 - (7/14)**2) + (3/7 - (7/14)**2), 6)
        assert float(r["modularity"]) == exp
        assert r["n_edges"] == 7 and r["n_communities"] == 2

    def test_all_one_community_zero(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        edges = [("a","b"),("b","c")]
        e, l = self._mk(spark, edges, {"a":"X","b":"X","c":"X"})
        # single community: Q = e/m - (2m/2m)^2 = 1 - 1 = 0
        assert float(graph.modularity(e, l).collect()[0]["modularity"]) == 0.0

    def test_empty_graph(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import graph

        e, l = self._mk(spark, [("a","a")], {"a":"X"})  # self-loop dropped
        r = graph.modularity(e, l).collect()[0]
        assert r["n_edges"] == 0 and r["modularity"] is None


class TestScd2Lookup:
    def test_point_in_time(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.operators import star

        t = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
        evts = spark.createDataFrame(
            [(1, t(1), 1, "bronze"), (1, t(5), 2, "gold"), (1, t(9), 3, "gold")],
            "user_id long, ts timestamp, event_id long, tier string",
        )
        dim = star.scd2_from_events(
            evts, "user_id", ["tier"], "ts", tiebreak_cols=["event_id"]
        )
        facts = spark.createDataFrame(
            [(1, t(2), 10), (1, t(5), 11), (1, t(30), 12), (2, t(2), 13)],
            "user_id long, ts timestamp, fact_id long",
        )
        out = {r["fact_id"]: r["dim_tier"] for r in star.scd2_lookup(
            facts, dim, "user_id", "ts", ["tier"]).collect()}
        assert out == {10: "bronze", 11: "gold", 12: "gold", 13: None}

    def test_fanout_exactly_one(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.operators import star

        t = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
        evts = spark.createDataFrame(
            [(1, t(1), 1, "a"), (1, t(3), 2, "b"), (1, t(6), 3, "a")],
            "user_id long, ts timestamp, event_id long, v string",
        )
        dim = star.scd2_from_events(
            evts, "user_id", ["v"], "ts", tiebreak_cols=["event_id"]
        )
        facts = spark.createDataFrame(
            [(1, t(d), d) for d in range(1, 10)],
            "user_id long, ts timestamp, fact_id long",
        )
        out = star.scd2_lookup(facts, dim, "user_id", "ts", ["v"])
        assert out.count() == facts.count()


class TestMacroF1:
    def test_perfect_predictions(self, spark):
        df = spark.createDataFrame(
            [("a", "a"), ("b", "b"), ("a", "a")], "pred string, lab string"
        )
        out = {r["class"]: r for r in ml.macro_f1(df, "pred", "lab").collect()}
        assert float(out["a"]["f1"]) == 1.0 and float(out["b"]["f1"]) == 1.0
        assert float(out["__macro__"]["f1"]) == 1.0

    def test_hand_confusion(self, spark):
        # lab a predicted b once: a: tp1 fn1; b: tp1 fp1
        df = spark.createDataFrame(
            [("a", "a"), ("b", "a"), ("b", "b")], "pred string, lab string"
        )
        out = {r["class"]: r for r in ml.macro_f1(df, "pred", "lab").collect()}
        assert (out["a"]["tp"], out["a"]["fp"], out["a"]["fn"]) == (1, 0, 1)
        assert (out["b"]["tp"], out["b"]["fp"], out["b"]["fn"]) == (1, 1, 0)
        assert float(out["a"]["recall"]) == 0.5
        assert float(out["b"]["precision"]) == 0.5

    def test_never_predicted_class(self, spark):
        df = spark.createDataFrame(
            [("a", "a"), ("a", "c")], "pred string, lab string"
        )
        out = {r["class"]: r for r in ml.macro_f1(df, "pred", "lab").collect()}
        assert out["c"]["precision"] is None  # never predicted
        assert float(out["c"]["recall"]) == 0.0


class TestCalibration:
    def test_bins_and_edges(self, spark):
        df = spark.createDataFrame(
            [(0.05, 1), (0.05, 0), (0.95, 1), (1.0, 1), (0.11, 0)],
            "s double, lab int",
        )
        out = {r["bin"]: r for r in ml.calibration_bins(df, "s", "lab").collect()}
        assert out[0]["n"] == 2 and float(out[0]["pos_rate"]) == 0.5
        assert out[9]["n"] == 2  # 0.95 and the exactly-1.0 edge case
        assert out[1]["n"] == 1

    def test_out_of_range_excluded(self, spark):
        df = spark.createDataFrame([(1.5, 1), (-0.1, 0), (0.5, 1)], "s double, lab int")
        rows_out = ml.calibration_bins(df, "s", "lab").collect()
        assert sum(r["n"] for r in rows_out) == 1


class TestStratifiedSplit:
    def test_exact_fractions(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame(
            [("a", i) for i in range(100)] + [("b", i + 1000) for i in range(10)],
            "g string, id long",
        )
        out = transform.stratified_split(df, ["g"], test_frac=0.2, hash_col="id")
        counts = {(r["g"], r["split"]): r["n"] for r in
                  out.groupBy("g", "split").count().withColumnRenamed("count", "n").collect()}
        assert counts[("a", "test")] == 20 and counts[("b", "test")] == 2

    def test_deterministic(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame([("a", i) for i in range(50)], "g string, id long")
        s1 = sorted(map(tuple, transform.stratified_split(df, ["g"], 0.3, "id").collect()))
        s2 = sorted(map(tuple, transform.stratified_split(df, ["g"], 0.3, "id").collect()))
        assert s1 == s2

    def test_guards(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame([("a", 1)], "g string, id long")
        with pytest.raises(ValueError):
            transform.stratified_split(df, ["g"], 1.5, "id")
        with pytest.raises(ValueError):
            transform.stratified_split(df, ["g"], 0.2, None)


class TestCentroidSimilarity:
    def test_known_geometry(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        # group A along +x, group B along +y (orthogonal), C along +x too
        data = (
            [(i, [1.0, 0.0], "A") for i in range(3)]
            + [(10 + i, [0.0, 2.0], "B") for i in range(3)]
            + [(20 + i, [3.0, 0.0], "C") for i in range(3)]
        )
        df = spark.createDataFrame(
            data, "vec_id long, embedding array<float>, label string"
        )
        out = {(r["group_a"], r["group_b"]): float(r["cosine"])
               for r in similarity.centroid_similarity(df, "label").collect()}
        assert out[("A", "B")] == 0.0
        assert out[("A", "C")] == 1.0
        assert out[("B", "C")] == 0.0


class TestSeasonalNaive:
    def test_perfect_weekly_pattern(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.operators import timeseries

        # exact weekly repetition -> zero error
        rows_in = []
        for d in range(21):
            rows_in.append(("k", datetime.datetime(2024, 1, 1 + d), float(d % 7)))
        df = spark.createDataFrame(rows_in, "k string, ts timestamp, v double")
        r = timeseries.seasonal_naive_backtest(df, ["k"], "ts", "v").collect()[0]
        assert float(r["mae"]) == 0.0 and r["n_buckets"] == 14

    def test_constant_shift(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.operators import timeseries

        rows_in = [("k", datetime.datetime(2024, 1, 1 + d), float(d)) for d in range(14)]
        df = spark.createDataFrame(rows_in, "k string, ts timestamp, v double")
        r = timeseries.seasonal_naive_backtest(df, ["k"], "ts", "v").collect()[0]
        # each forecast is 7 low
        assert float(r["mae"]) == 7.0

    def test_bucket_guard(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import timeseries

        df = spark.createDataFrame([("k",)], "k string")
        with pytest.raises(ValueError):
            timeseries.seasonal_naive_backtest(df, ["k"], "ts", "v", bucket="week")


class TestDataContract:
    def test_violations_counted(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        orders = spark.createDataFrame(
            [(1, 10), (1, 10), (2, 99)], "o_orderkey long, o_custkey long"
        )
        li = spark.createDataFrame(
            [(1, 5.0), (7, None)], "l_orderkey long, l_extendedprice double"
        ).withColumn("l_discount", F.lit(0.5))
        cust = spark.createDataFrame([(10,)], "c_custkey long")
        rep = {r["check"]: r for r in profile.data_contract_report(
            profile.contract_checks_star(orders, li, cust)).collect()}
        assert rep["orders_pk_unique"]["n_violations"] == 1
        assert rep["lineitem_fk_orders"]["n_violations"] == 1
        assert rep["orders_fk_customer"]["n_violations"] == 1  # custkey 99
        assert rep["lineitem_price_not_null"]["n_violations"] == 1
        assert rep["lineitem_discount_range"]["passed"]

    def test_empty_checks_guard(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        with pytest.raises(ValueError):
            profile.data_contract_report([])


class TestHierarchicalShares:
    def test_shares_sum_to_one_per_parent(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame(
            [("r1", "n1", 10.0), ("r1", "n2", 30.0), ("r2", "n3", 60.0)],
            "region string, nation string, v double",
        )
        out = transform.hierarchical_shares(df, ["region", "nation"], "v")
        rows_out = {(r["level"], r["region"], r["nation"]): float(r["share"])
                    for r in out.collect()}
        assert rows_out[(0, None, None)] == 1.0
        assert rows_out[(1, "r1", None)] == 0.4
        assert rows_out[(1, "r2", None)] == 0.6
        assert rows_out[(2, "r1", "n1")] == 0.25
        assert rows_out[(2, "r1", "n2")] == 0.75
        assert rows_out[(2, "r2", "n3")] == 1.0


class TestWilson:
    def test_known_interval(self, spark):
        # p=0.5, n=100, z=1.96...: center 0.5, halfwidth ~0.0958
        df = spark.createDataFrame(
            [(1,)] * 50 + [(0,)] * 50, "success int"
        )
        r = ml.wilson_ci(df, "success").collect()[0]
        assert float(r["rate"]) == 0.5
        assert 0.40 < float(r["ci_lo"]) < 0.41
        assert 0.59 < float(r["ci_hi"]) < 0.60

    def test_extreme_rate_stays_in_unit(self, spark):
        df = spark.createDataFrame([(1,)] * 5, "success int")
        r = ml.wilson_ci(df, "success").collect()[0]
        assert float(r["ci_hi"]) <= 1.0 and float(r["ci_lo"]) > 0.0


class TestInterarrival:
    def test_regular_vs_bursty(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.operators import timeseries

        base = datetime.datetime(2024, 1, 1)
        reg = [("reg", base + datetime.timedelta(seconds=10 * i), i) for i in range(10)]
        burst = [("burst", base + datetime.timedelta(seconds=s), 100 + i)
                 for i, s in enumerate([0, 1, 2, 3, 100, 101, 102, 200])]
        df = spark.createDataFrame(reg + burst, "k string, ts timestamp, eid long")
        out = {r["k"]: r for r in timeseries.interarrival_stats(
            df, ["k"], "ts", tie_col="eid").collect()}
        assert float(out["reg"]["cv"]) == 0.0
        assert float(out["reg"]["mean_gap_s"]) == 10.0
        assert float(out["burst"]["cv"]) > 1.0

    def test_single_event_key_dropped(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.operators import timeseries

        df = spark.createDataFrame(
            [("only", datetime.datetime(2024, 1, 1), 1)],
            "k string, ts timestamp, eid long",
        )
        assert timeseries.interarrival_stats(df, ["k"], "ts", tie_col="eid").count() == 0


class TestBitmapIntersections:
    def test_hand_overlap(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import aggstate

        # A={1,2,3}, B={2,3,4}, C={100000} (cross-bucket id)
        rows_in = [("A", 1), ("A", 2), ("A", 3), ("B", 2), ("B", 3),
                   ("B", 4), ("C", 100000)]
        df = spark.createDataFrame(rows_in, "k string, uid long")
        state = aggstate.bitmap_distinct_state(df, ["k"], "uid")
        out = {(r["key_a"], r["key_b"]): r for r in
               aggstate.bitmap_intersection_counts(state, "k").collect()}
        ab = out[("A", "B")]
        assert (ab["n_a"], ab["n_b"], ab["n_union"], ab["n_intersect"]) == (3, 3, 4, 2)
        ac = out[("A", "C")]
        assert ac["n_intersect"] == 0 and ac["n_union"] == 4

    def test_merge_then_intersect(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import aggstate

        d1 = spark.createDataFrame([("A", 1), ("B", 1)], "k string, uid long")
        d2 = spark.createDataFrame([("A", 2), ("B", 3)], "k string, uid long")
        s = aggstate.merge_bitmap_states(
            aggstate.bitmap_distinct_state(d1, ["k"], "uid"),
            aggstate.bitmap_distinct_state(d2, ["k"], "uid"),
            ["k"],
        )
        r = aggstate.bitmap_intersection_counts(s, "k").collect()[0]
        # A={1,2}, B={1,3} -> intersect {1}
        assert r["n_intersect"] == 1 and r["n_union"] == 3


class TestReviewRegressions:
    """Regression tests for the round-5 self-code-review findings."""

    def test_split_exact_at_float_boundary(self, spark):
        # 100 * 0.29 = 28.999999999999996 in doubles; exact cut must be 29
        from ecu_sbl_aace_datalake_spark.operators import transform

        df = spark.createDataFrame([("a", i) for i in range(100)], "g string, id long")
        out = transform.stratified_split(df, ["g"], test_frac=0.29, hash_col="id")
        assert out.where("split = 'test'").count() == 29

    def test_benford_boundary_digit_remap(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import profile

        # 9.999999999999999e-28: log10 rounds up to the next integer, raw
        # digit would be 0 — must be remapped to its true first digit 9
        df = spark.createDataFrame(
            [(9.999999999999999e-28,), (123.0,)], "v double"
        )
        out = {r["digit"]: r["n_obs"] for r in profile.benford_audit(df, "v").collect()}
        assert out == {9: 1, 1: 1}
        assert all(1 <= d <= 9 for d in out)

    def test_seasonal_naive_gap_stays_aligned(self, spark):
        import datetime
        from ecu_sbl_aace_datalake_spark.operators import timeseries

        # weekly-periodic values, but day 10 is MISSING: a row-offset lag
        # would misalign everything after the gap; calendar join must not
        rows_in = [("k", datetime.datetime(2024, 1, 1 + d), float(d % 7))
                   for d in range(21) if d != 10]
        df = spark.createDataFrame(rows_in, "k string, ts timestamp, v double")
        r = timeseries.seasonal_naive_backtest(df, ["k"], "ts", "v").collect()[0]
        assert float(r["mae"]) == 0.0  # perfectly periodic despite the gap
        # day 10 and day 17 (whose lag target is missing) drop out: 14-2
        assert r["n_buckets"] == 12

    def test_jackknife_requires_hash_col(self, spark):
        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError):
            ml.jackknife_ci(df, "v")

    def test_kcenter_string_ids(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import similarity

        df = spark.createDataFrame(
            [("a", [0.0]), ("b", [5.0]), ("c", [9.0])],
            "vec_id string, embedding array<float>",
        )
        out = {r["rank"]: r["id"] for r in similarity.kcenter_selection(df, k=2).collect()}
        assert out == {0: "a", 1: "c"}


class TestRFM:
    def test_scores_and_segment(self, spark):
        from datetime import datetime

        from ecu_sbl_aace_datalake_spark.operators import ml

        rows = []
        # customer i: i orders, last order day i, amount 100*i
        for cust in range(1, 6):
            for j in range(cust):
                rows.append(
                    (cust, datetime(2024, 1, cust), 100.0 * cust)
                )
        df = spark.createDataFrame(
            rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
        )
        got = {r.o_custkey: r for r in ml.rfm_segments(df).collect()}
        # customer 5: most recent, most frequent, biggest spend -> 555
        assert got[5].segment == 555
        assert got[1].segment == 111
        assert got[3].recency_days == 2  # ref = Jan 5
        assert float(got[3].monetary) == 900.0  # 3 orders x 300


class TestPeriodOverPeriod:
    def test_growth_and_null_bases(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import timeseries

        df = spark.createDataFrame(
            [("a", 2020, 100.0), ("a", 2021, 150.0), ("a", 2022, 0.0),
             ("a", 2023, 50.0), ("b", 2020, 10.0)],
            "g string, year int, v double",
        )
        got = {(r.g, r.year): r for r in timeseries.period_over_period(
            df, "year", "v", group_cols=("g",)
        ).collect()}
        assert got[("a", 2020)].growth is None          # no prior
        assert got[("a", 2021)].growth == 0.5
        assert got[("a", 2022)].growth == -1.0
        assert got[("a", 2023)].growth is None          # zero base
        assert got[("b", 2020)].growth is None


class TestRankingMetrics:
    def test_hand_computed(self, spark):
        import math

        from ecu_sbl_aace_datalake_spark.operators import ml

        results = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3),
             (2, 20, 1), (2, 21, 2),
             (3, 30, 1)],
            "query_id long, item_id long, rank long",
        )
        truth = spark.createDataFrame(
            [(1, 11), (1, 12), (1, 99),   # q1: hits at rank 2,3 of 3 rel
             (2, 77)],                    # q2: no hit
            "query_id long, item_id long",
        )
        got = {r.query_id: r for r in ml.ranking_metrics(
            results, truth, k=3
        ).collect()}
        q1 = got[1]
        assert q1.n_relevant == 3 and q1.n_hits == 2
        assert q1.recall_at_k == round(2 / 3, 6)
        assert q1.mrr_at_k == 0.5
        dcg = 1 / math.log2(3) + 1 / math.log2(4)
        idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
        assert abs(q1.ndcg_at_k - dcg / idcg) < 1e-6
        assert got[2].recall_at_k == 0.0 and got[2].mrr_at_k == 0.0
        # q3 has no truth rows -> undefined, not zero
        assert got[3].recall_at_k is None

        summ = ml.ranking_summary(
            ml.ranking_metrics(results, truth, k=3)
        ).collect()[0]
        assert summ.n_queries == 2
        assert summ.mean_recall_at_k == round((round(2/3, 6) + 0.0) / 2, 6)


class TestConformalIntervals:
    def test_coverage_and_qhat(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        # calibration residuals 1..100 -> alpha=0.1: k = ceil(101*0.9) = 91
        cal = spark.createDataFrame(
            [(float(i), 0.0) for i in range(1, 101)], "y double, prediction double"
        )
        test = spark.createDataFrame(
            [(50.0, 0.0), (95.0, 0.0)], "y double, prediction double"
        )
        got = ml.conformal_intervals(cal, test, alpha=0.1).collect()
        by_y = {r.y: r for r in got}
        assert by_y[50.0].lo == -91.0 and by_y[50.0].hi == 91.0
        assert by_y[50.0].covered is True
        assert by_y[95.0].covered is False

    def test_too_small_calibration_yields_null(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        cal = spark.createDataFrame(
            [(1.0, 0.0), (2.0, 0.0)], "y double, prediction double"
        )
        test = spark.createDataFrame([(0.0, 0.0)], "y double, prediction double")
        got = ml.conformal_intervals(cal, test, alpha=0.05).collect()[0]
        assert got.lo is None and got.hi is None and got.covered is None


class TestBHFDR:
    def test_step_up(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        # m=5, q=0.05: thresholds .01 .02 .03 .04 .05
        rows = [("t1", 0.001), ("t2", 0.019), ("t3", 0.031),
                ("t4", 0.2), ("t5", 0.9)]
        df = spark.createDataFrame(rows, "test string, p_value double")
        got = {r.test: r for r in ml.bh_fdr(df, "test").collect()}
        # p_(3)=0.031 > 0.03 but p_(2)=0.019 <= 0.02 -> k=2
        assert got["t1"].rejected and got["t2"].rejected
        assert not got["t3"].rejected and not got["t5"].rejected

    def test_step_up_rescues_interior_miss(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        # p_(2) misses its threshold but p_(3) passes -> ALL of 1..3 reject
        rows = [("a", 0.005), ("b", 0.025), ("c", 0.029), ("d", 0.9)]
        df = spark.createDataFrame(rows, "test string, p_value double")
        got = {r.test: r.rejected for r in ml.bh_fdr(df, "test", q=0.04).collect()}
        assert got == {"a": True, "b": True, "c": True, "d": False}

    def test_nothing_passes(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        df = spark.createDataFrame(
            [("a", 0.5), ("b", 0.9)], "test string, p_value double"
        )
        got = ml.bh_fdr(df, "test").collect()
        assert all(not r.rejected for r in got)


class TestCUPED:
    def test_variance_drops_effect_preserved(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        # y = x + noise-ish + treatment lift: covariate explains most
        # variance; CUPED must cut var sharply and keep the arm delta
        rows = []
        for i in range(400):
            x = float(i % 100)
            lift = 5.0 if i % 2 == 0 else 0.0
            y = x + lift + float((i * 7) % 3)  # deterministic jitter
            rows.append(("A" if i % 2 == 0 else "B", y, x))
        df = spark.createDataFrame(rows, "arm string, y double, x double")
        got = {r.arm: r for r in ml.cuped_summary(df, "y", "x", "arm").collect()}
        raw_delta = got["A"].mean_raw - got["B"].mean_raw
        adj_delta = got["A"].mean_adj - got["B"].mean_adj
        # arms have a 1.0 covariate imbalance (even vs odd x): the raw
        # delta understates the planted 5.0 lift; CUPED recovers it
        assert abs(raw_delta - 4.0) < 0.2
        assert abs(adj_delta - 5.0) < 0.2
        assert got["A"].var_reduction < 0.05      # x explains ~all variance
        assert got["B"].var_adj < got["B"].var_raw

    def test_useless_covariate_is_neutral(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        rows = [("A", float(i % 10), 1.0) for i in range(100)]
        df = spark.createDataFrame(rows, "arm string, y double, x double")
        got = ml.cuped_summary(df, "y", "x", "arm").collect()[0]
        # constant covariate: theta 0 -> adjusted == raw
        assert got.mean_adj == got.mean_raw
        assert got.var_adj == got.var_raw


class TestUpliftDeciles:
    def test_perfect_targeting_front_loads_qini(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        # units 0..199; treated evens. Outcome: treated respond iff
        # id < 100, control never -> score = -id is a PERFECT targeter
        rows = [
            (i, float(-i), i % 2 == 0, (i % 2 == 0) and i < 100)
            for i in range(200)
        ]
        df = spark.createDataFrame(
            rows, "id long, score double, treated boolean, outcome boolean"
        )
        got = ml.uplift_deciles(df, "score", "treated", "outcome", "id",
                                n_bins=10).collect()
        by_bin = {r.bin: r for r in got}
        # bins 1-5 hold ids 0..99: all treated responders live there
        assert by_bin[5].qini == 50.0
        assert by_bin[10].qini == 50.0   # no further gains
        assert by_bin[5].cum_uplift == 1.0
        # integer sanity: each bin has 10 treated / 10 control
        assert all(r.n_treated == 10 and r.n_control == 10 for r in got)

    def test_useless_score_walks_diagonal(self, spark):
        from ecu_sbl_aace_datalake_spark.operators import ml

        # outcome independent of score ordering: treated respond iff
        # id % 4 == 0 (half the treated), constant score rate per bin
        rows = [
            (i, float(i % 10), i % 2 == 0, i % 4 == 0) for i in range(400)
        ]
        df = spark.createDataFrame(
            rows, "id long, score double, treated boolean, outcome boolean"
        )
        got = ml.uplift_deciles(df, "score", "treated", "outcome", "id",
                                n_bins=4).collect()
        qinis = [r.qini for r in sorted(got, key=lambda r: r.bin)]
        # total incremental responders = all 100 treated responders
        # (control never converts), accumulated roughly evenly — the
        # mod-layout correlation keeps per-bin gains within 20-30
        assert qinis[-1] == 100.0
        assert qinis == sorted(qinis)  # never decreasing for this layout
