"""Distributed statistical-learning primitives: regression, ranking
metrics, and correlation — all aggregate-shaped (one shuffle on the
grouping key, map-side partial combine) with bit-deterministic arithmetic
so every result is DuckDB-oracle-able.

Design rules shared by every function here (the same discipline as
``operators/classifier.py``):

- **Exact sums first, floats last.** Raw doubles are cast to
  ``DECIMAL(18,6)`` before any SUM, so the accumulated moments are exact
  and order-independent (a float sum's low bits depend on partition
  order — unacceptable for a correctness-gated engine). The closed-form
  float arithmetic (slope, AUC, correlation) happens once per *group*,
  on the already-reduced moments, in a fixed expression order that an
  oracle replicates IEEE-exactly.
- **No per-row windows where an aggregate works.** AUC is computed from
  per-distinct-score counts (the window runs over distinct scores, not
  rows) — at 100 TB the rank-sum never materializes a global row order.
- **Nothing collects.** Multivariate fits reduce to a d×d moment matrix
  (one aggregate row); only that tiny matrix reaches the driver.

The reference engine has no ML surface (its core is
``/root/reference/ecu/sbl/aace/datalake/common.py`` — IO + star-schema
helpers); this module is extension surface for the LLM-data-pipeline
use cases (quality-score calibration, feature screening, drift).
"""

from __future__ import annotations

from fractions import Fraction
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "linreg_simple",
    "linreg_fit",
    "linreg_score",
    "auc_score",
    "confusion_metrics",
    "correlation_matrix",
    "mutual_information",
    "jackknife_ci",
    "chi2_independence",
    "macro_f1",
    "calibration_bins",
    "wilson_ci",
    "bootstrap_mean_ci",
    "bootstrap_ab_diff_ci",
    "kaplan_meier",
    "two_proportion_ztest",
    "mahalanobis_outliers",
]

_DEC = "decimal(18,6)"

# Frozen OLS weights: linreg_fit(lineitem@sf0.001, ["l_quantity",
# "l_discount"], "l_extendedprice") — [intercept, w_quantity, w_discount].
# Each weight is the correctly rounded exact solution of the normal
# equations (exact decimal moments, exact rational elimination, one
# rounding to double), so it is the same on any CPU and any BLAS;
# tests/test_ml.py re-fits and asserts equality, same pattern as
# classifier.WEIGHTS_QUALITY_V1. Scoring queries embed these as literals
# so the residual analysis is fully SQL-oracle-able.
WEIGHTS_PRICE_V1 = [
    52606.64529631023,
    -20.77891171879111,
    16147.383298783216,
]


def _d(c: Column) -> Column:
    """Exact 6dp fixed-point view of a double column (both engines round
    the same double to the same decimal; ties at the 6dp boundary cannot
    occur for binary doubles)."""
    return c.cast(_DEC)


def linreg_simple(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Optional[Sequence[str]] = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group simple (one-feature) OLS regression in ONE aggregate pass.

    Returns one row per group: ``n, slope, intercept, r2``. The five
    moments (Σx, Σy, Σxx, Σxy, Σyy) accumulate as exact decimals with
    map-side partial aggregation — a single shuffle on the group key, no
    second pass, no windows. The closed forms::

        slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)
        intercept = (Σy − slope·Σx) / n
        r2 = (n·Σxy − Σx·Σy)² / ((n·Σxx − Σx²)(n·Σyy − Σy²))

    run on doubles derived from those exact moments, in this exact
    order, so a SQL oracle reproduces every bit. Degenerate groups
    (constant x) return null slope/intercept/r2 rather than ±inf.
    """
    keys = list(by or [])
    x = _d(F.col(x_col))
    y = _d(F.col(y_col))
    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(x * y).alias("__sxy"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    syy = F.col("__syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.when(var_x != 0.0, cov_n / var_x)
    intercept = F.when(var_x != 0.0, (sy - (cov_n / var_x) * sx) / n)
    r2 = F.when(
        (var_x != 0.0) & (var_y != 0.0), (cov_n * cov_n) / (var_x * var_y)
    )
    return agg.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round(slope, round_to).alias("slope"),
        F.round(intercept, round_to).alias("intercept"),
        F.round(r2, round_to).alias("r2"),
    )


def linreg_fit(
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: str,
    l2: float = 0.0,
) -> List[float]:
    """Multivariate OLS (with intercept) via the normal equations.

    One aggregate computes the (d+1)×(d+1) moment matrix XᵀX and vector
    Xᵀy as exact decimal sums — the ONLY data that reaches the driver —
    then the tiny system is solved by exact rational elimination
    (``fractions.Fraction``) on those exact moments, and each weight is
    rounded to a double once, at the end. ``l2`` adds ridge
    regularization (as its exact value) to the non-intercept diagonal.
    Returns ``[w_intercept, w_f1, ...]``.

    Deterministic end to end: no float arithmetic and no BLAS/LAPACK call
    before the final correctly rounded conversion, so the weights are the
    same on any CPU and any BLAS. Refitting on the same data reproduces
    the same weights bit-for-bit (the provenance property the
    frozen-weight scoring queries rely on, same pattern as
    classifier.WEIGHTS_QUALITY_V1).

    Raises ``numpy.linalg.LinAlgError`` when the system is singular (a
    constant or collinear feature, or no rows), as ``np.linalg.solve``
    would.
    """
    feats = list(feature_cols)
    cols = [F.lit(1.0).cast(_DEC).alias("__x0")] + [
        _d(F.col(c)).alias(f"__x{i+1}") for i, c in enumerate(feats)
    ]
    base = df
    for c in feats + [y_col]:
        base = base.where(F.col(c).isNotNull())
    xy = base.select(*cols, _d(F.col(y_col)).alias("__y"))
    d = len(feats) + 1
    aggs = []
    for i in range(d):
        for j in range(i, d):
            aggs.append(
                F.sum(F.col(f"__x{i}") * F.col(f"__x{j}")).alias(f"m_{i}_{j}")
            )
        aggs.append(F.sum(F.col(f"__x{i}") * F.col("__y")).alias(f"v_{i}"))
    row = xy.agg(*aggs).collect()[0]
    m = [[Fraction(0)] * (d + 1) for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            m[i][j] = m[j][i] = Fraction(row[f"m_{i}_{j}"] or 0)
        m[i][d] = Fraction(row[f"v_{i}"] or 0)
    if l2:
        for i in range(1, d):
            m[i][i] += Fraction(l2)
    return [float(w) for w in _solve_exact(m)]


def _solve_exact(m: List[List[Fraction]]) -> List[Fraction]:
    """Solve the d×(d+1) augmented system ``m`` by Gauss-Jordan
    elimination in exact rationals (any non-zero pivot is exact, so no
    pivoting strategy is needed). Raises ``numpy.linalg.LinAlgError`` on
    a singular matrix, the error ``np.linalg.solve`` raises."""
    from numpy.linalg import LinAlgError

    d = len(m)
    for c in range(d):
        p = next((r for r in range(c, d) if m[r][c]), None)
        if p is None:
            raise LinAlgError("Singular matrix")
        m[c], m[p] = m[p], m[c]
        for r in range(d):
            if r != c and m[r][c]:
                f = m[r][c] / m[c][c]
                m[r] = [a - f * b for a, b in zip(m[r], m[c])]
    return [m[i][d] / m[i][i] for i in range(d)]


def linreg_score(
    df: DataFrame,
    feature_cols: Sequence[str],
    weights: Sequence[float],
    out_col: str = "prediction",
) -> DataFrame:
    """Score rows with fixed OLS weights: ``w0 + Σ wi·xi`` as a pure
    codegen projection (weights become literals — no join, no Python).
    ``weights[0]`` is the intercept, matching :func:`linreg_fit`."""
    feats = list(feature_cols)
    if len(weights) != len(feats) + 1:
        raise ValueError(
            f"need {len(feats) + 1} weights (intercept first), got {len(weights)}"
        )
    pred = F.lit(float(weights[0]))
    for w, c in zip(weights[1:], feats):
        pred = pred + F.lit(float(w)) * F.col(c).cast("double")
    return df.withColumn(out_col, pred)


def auc_score(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: Optional[Sequence[str]] = None,
    round_to: int = 6,
) -> DataFrame:
    """Tie-aware ROC AUC (Mann-Whitney U, midrank form) per group —
    WITHOUT ranking individual rows.

    Scale shape: aggregate to per-(group, distinct score) counts first,
    run the cumulative window over *distinct scores* (thousands, not
    billions), and keep the rank-sum in exact integer arithmetic::

        2·midrank(s) = 2·(# rows with smaller score) + count(s) + 1
        AUC = (Σ_pos 2·midrank − 2·P(P+1)/2) / (2·P·N)

    Every term up to the final division is a BIGINT — no float
    accumulation anywhere, so the result is bit-deterministic and
    oracle-able. Groups lacking both classes return null AUC.
    """
    from pyspark.sql import Window

    keys = list(by or [])
    lab = F.col(label_col).cast("int")
    per_score = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*keys, F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(lab).alias("__pos"),
        )
    )
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
        if keys
        else Window.partitionBy(F.lit(1))
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_score.withColumn(
        "__below", F.coalesce(F.sum("__cnt").over(w), F.lit(0))
    )
    # Σ_pos 2·midrank, exactly: pos·(2·below + cnt + 1)
    agg = ranked.groupBy(*keys).agg(
        F.sum(
            F.col("__pos")
            * (F.lit(2) * F.col("__below") + F.col("__cnt") + F.lit(1))
        ).alias("__s2"),
        F.sum("__pos").alias("__p"),
        F.sum(F.col("__cnt") - F.col("__pos")).alias("__n"),
    )
    p = F.col("__p")
    nn = F.col("__n")
    auc = F.when(
        (p > 0) & (nn > 0),
        (F.col("__s2") - p * (p + 1)).cast("double")
        / (F.lit(2).cast("double") * p.cast("double") * nn.cast("double")),
    )
    return agg.select(
        *keys,
        p.cast("long").alias("n_pos"),
        nn.cast("long").alias("n_neg"),
        F.round(auc, round_to).alias("auc"),
    )


def confusion_metrics(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float,
    by: Optional[Sequence[str]] = None,
    round_to: int = 6,
) -> DataFrame:
    """Binary confusion counts + precision/recall/F1 at a fixed threshold,
    one aggregate pass (four conditional counts). Predicted positive is
    ``score >= threshold``. F1 from exact counts: 2TP/(2TP+FP+FN)."""
    keys = list(by or [])
    lab = F.col(label_col).cast("int") == 1
    pred = F.col(score_col) >= F.lit(float(threshold))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = df.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).groupBy(*keys).agg(
        cnt(pred & lab).alias("tp"),
        cnt(pred & ~lab).alias("fp"),
        cnt(~pred & lab).alias("fn"),
        cnt(~pred & ~lab).alias("tn"),
    )
    tp = F.col("tp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    return agg.select(
        *keys,
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.when(F.col("tp") + F.col("fp") > 0, tp / (tp + fp)), round_to).alias(
            "precision"
        ),
        F.round(F.when(F.col("tp") + F.col("fn") > 0, tp / (tp + fn)), round_to).alias(
            "recall"
        ),
        F.round(
            F.when(
                F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                (F.lit(2.0) * tp) / (F.lit(2.0) * tp + fp + fn),
            ),
            round_to,
        ).alias("f1"),
    )


def correlation_matrix(
    df: DataFrame, cols: Sequence[str], round_to: int = 6
) -> DataFrame:
    """Pairwise Pearson correlations over k numeric columns in ONE
    aggregate pass (k(k+1)/2 exact-decimal product sums + k sums — all
    map-side combined), unpivoted to ``(col_x, col_y, corr)`` rows for
    x < y. The k×k moment row is a single record; the unpivot is a
    driver-free projection over it.

    Unlike ``F.corr`` (float accumulation, partition-order-dependent low
    bits), the decimal moments make this bit-deterministic — the property
    screening/drift queries need to be regression-tested on.
    """
    names = list(cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(names):
        x = _d(F.col(c))
        aggs.append(F.sum(x).alias(f"s_{i}"))
        aggs.append(F.sum(x * x).alias(f"ss_{i}"))
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            aggs.append(
                F.sum(_d(F.col(names[i])) * _d(F.col(names[j]))).alias(f"p_{i}_{j}")
            )
    base = df
    for c in names:
        base = base.where(F.col(c).isNotNull())
    agg = base.agg(*aggs)
    n = F.col("n").cast("double")
    pairs = []
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            sx = F.col(f"s_{i}").cast("double")
            sy = F.col(f"s_{j}").cast("double")
            sxx = F.col(f"ss_{i}").cast("double")
            syy = F.col(f"ss_{j}").cast("double")
            sxy = F.col(f"p_{i}_{j}").cast("double")
            var_x = n * sxx - sx * sx
            var_y = n * syy - sy * sy
            corr = F.when(
                (var_x > 0.0) & (var_y > 0.0),
                (n * sxy - sx * sy) / (F.sqrt(var_x) * F.sqrt(var_y)),
            )
            pairs.append(
                F.struct(
                    F.lit(names[i]).alias("col_x"),
                    F.lit(names[j]).alias("col_y"),
                    F.round(corr, round_to).alias("corr"),
                )
            )
    return (
        agg.select(F.explode(F.array(*pairs)).alias("pair"))
        .select("pair.col_x", "pair.col_y", "pair.corr")
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_to: int = 6,
) -> DataFrame:
    """Mutual information between two categorical columns:
    I(A;B) = Σ_ab p(a,b)·ln( p(a,b) / (p(a)·p(b)) ) — the dependence
    screen for categorical features that :func:`correlation_matrix` is
    for numerics.

    Shape: ONE groupBy on (a,b) produces the joint counts; the marginals
    are window sums over that (tiny) joint table — the raw data is read
    once. Per-cell ln terms are rounded to 12dp and summed as exact
    decimals, so the total is independent of engine float-summation
    order (same discipline as the PMI operator). Returns one row:
    ``(n, n_cells, mi)``.
    """
    from pyspark.sql import Window

    joint = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__nab"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy(F.lit(1))
    cells = (
        joint.withColumn("__na", F.sum("__nab").over(wa))
        .withColumn("__nb", F.sum("__nab").over(wb))
        .withColumn("__n", F.sum("__nab").over(wall))
    )
    nab = F.col("__nab").cast("double")
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    n = F.col("__n").cast("double")
    term = (nab / n) * F.log((nab * n) / (na * nb))
    return (
        cells.withColumn("__t", F.round(term, 12).cast("decimal(28,12)"))
        .groupBy()
        .agg(
            F.max("__n").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.round(F.sum("__t").cast("double"), round_to).alias("mi"),
        )
    )


def jackknife_ci(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 32,
    hash_col: str | None = None,
    by: Optional[Sequence[str]] = None,
    round_to: int = 6,
) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for the mean — the
    distributed-statistics way to put a confidence interval on a 100 TB
    aggregate without resampling the data.

    Rows are assigned to ``n_buckets`` deterministic md5 hash buckets
    (of ``hash_col``, or the value itself); the i-th leave-one-out mean
    is computed from (total sums − bucket sums) — one aggregate over the
    data, then arithmetic over n_buckets tiny rows. The jackknife
    variance over g groups is (g−1)/g · Σ(θ̂ᵢ − mean(θ̂))². Per-replicate
    means are rounded to 12dp and summed as exact decimals so the
    result is engine-order-independent. Returns
    ``(n, mean, se_jack)`` per group.
    """
    from pyspark.sql import Window

    keys = list(by or [])
    if hash_col is None:
        # bucketing by the value itself correlates buckets with the
        # statistic (a 0/1 indicator would collapse to 2 effective
        # groups) — the jackknife needs value-independent buckets
        raise ValueError("pass hash_col: a stable id column independent of the value")
    hsrc = F.col(hash_col)
    bucket = (
        F.conv(F.substring(F.md5(hsrc.cast("string")), 1, 15), 16, 10)
        .cast("long") % n_buckets
    ).alias("__bkt")
    v = F.col(value_col).cast("decimal(18,6)")
    per_bucket = (
        df.where(F.col(value_col).isNotNull())
        .select(*keys, bucket, v.alias("__v"))
        .groupBy(*keys, "__bkt")
        .agg(F.count(F.lit(1)).alias("__c"), F.sum("__v").alias("__s"))
    )
    wk = Window.partitionBy(*[F.col(k) for k in keys]) if keys else Window.partitionBy(F.lit(1))
    tot = (
        per_bucket.withColumn("__n", F.sum("__c").over(wk))
        .withColumn("__t", F.sum("__s").over(wk))
        .withColumn("__g", F.count(F.lit(1)).over(wk))
    )
    # leave-one-out replicate mean, 12dp-rounded for exact summation
    theta = (
        (F.col("__t") - F.col("__s")).cast("double")
        / (F.col("__n") - F.col("__c")).cast("double")
    )
    reps = tot.withColumn("__th", F.round(theta, 12).cast("decimal(28,12)"))
    agg = reps.groupBy(*keys).agg(
        F.max("__n").cast("long").alias("n"),
        F.max("__t").alias("__sum"),
        F.max("__g").cast("long").alias("__gn"),
        F.sum("__th").alias("__th_sum"),
        F.sum(
            (F.col("__th") * F.col("__th")).cast("decimal(38,24)")
        ).alias("__th_sq"),
    )
    g = F.col("__gn").cast("double")
    th_sum = F.col("__th_sum").cast("double")
    th_sq = F.col("__th_sq").cast("double")
    # (g-1)/g * (Σθ² − (Σθ)²/g)
    var_jack = ((g - F.lit(1.0)) / g) * (th_sq - (th_sum * th_sum) / g)
    mean = F.col("__sum").cast("double") / F.col("n").cast("double")
    return agg.select(
        *keys,
        "n",
        F.round(mean, round_to).alias("mean"),
        F.round(F.sqrt(F.greatest(var_jack, F.lit(0.0))), round_to).alias(
            "se_jack"
        ),
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_to: int = 4,
) -> DataFrame:
    """Pearson χ² test of independence between two categoricals — the
    hypothesis-test companion to :func:`mutual_information` (same joint/
    marginal shape: one groupBy on (a,b), window-sum marginals over the
    tiny joint table). Returns ``(n, dof, chi2)`` where
    chi2 = Σ (n_ab − e_ab)²/e_ab with e_ab = n_a·n_b/N over OBSERVED
    cells plus the unobserved-cell correction Σe over missing cells
    (χ² over a full contingency table includes empty cells, whose
    contribution is exactly their expectation — added in closed form as
    N − Σ_observed e_ab, no need to materialize empty cells). Per-cell
    terms round to 8dp and sum as exact decimals.
    """
    from pyspark.sql import Window

    joint = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__nab"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy(F.lit(1))
    cells = (
        joint.withColumn("__na", F.sum("__nab").over(wa))
        .withColumn("__nb", F.sum("__nab").over(wb))
        .withColumn("__n", F.sum("__nab").over(wall))
        .withColumn("__ka", F.size(F.collect_set("__a").over(wall)))
        .withColumn("__kb", F.size(F.collect_set("__b").over(wall)))
    )
    nab = F.col("__nab").cast("double")
    e = (
        F.col("__na").cast("double")
        * F.col("__nb").cast("double")
        / F.col("__n").cast("double")
    )
    term = ((nab - e) * (nab - e)) / e
    return (
        cells.withColumn("__t", F.round(term, 8).cast("decimal(28,8)"))
        .withColumn("__e", F.round(e, 8).cast("decimal(28,8)"))
        .groupBy()
        .agg(
            F.max("__n").cast("long").alias("n"),
            ((F.max("__ka") - 1) * (F.max("__kb") - 1)).cast("long").alias("dof"),
            F.round(
                F.sum("__t").cast("double")
                + (
                    F.max("__n").cast("double")
                    - F.sum("__e").cast("double")
                ),
                round_to,
            ).alias("chi2"),
        )
    )


def macro_f1(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Multiclass classification report: per-class precision/recall/F1
    from exact one-vs-rest counts plus the macro averages — the standard
    eval summary beyond binary :func:`confusion_metrics`.

    One groupBy on (label, pred) builds the confusion matrix; per-class
    TP/FP/FN are window sums over that tiny matrix. Per-class F1 values
    are 8dp-rounded and decimal-summed for the macro mean. Returns one
    row per class (``class``, tp, fp, fn, precision, recall, f1) plus
    one ``__macro__`` row carrying the macro-averaged metrics.
    """
    from pyspark.sql import Window

    cm = (
        df.where(F.col(pred_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(
            F.col(label_col).cast("string").alias("__lab"),
            F.col(pred_col).cast("string").alias("__pred"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    classes = (
        cm.select(F.col("__lab").alias("cls"))
        .unionByName(cm.select(F.col("__pred").alias("cls")))
        .distinct()
    )
    tp = cm.where(F.col("__lab") == F.col("__pred")).select(
        F.col("__lab").alias("cls"), F.col("__n").alias("tp")
    )
    pred_tot = cm.groupBy(F.col("__pred").alias("cls")).agg(
        F.sum("__n").alias("__pt")
    )
    lab_tot = cm.groupBy(F.col("__lab").alias("cls")).agg(
        F.sum("__n").alias("__lt")
    )
    per = (
        classes.join(tp, "cls", "left")
        .join(pred_tot, "cls", "left")
        .join(lab_tot, "cls", "left")
        .na.fill({"tp": 0, "__pt": 0, "__lt": 0})
        .withColumn("fp", (F.col("__pt") - F.col("tp")).cast("long"))
        .withColumn("fn", (F.col("__lt") - F.col("tp")).cast("long"))
    )
    tpd = F.col("tp").cast("double")
    prec = F.when(F.col("__pt") > 0, tpd / F.col("__pt").cast("double"))
    rec = F.when(F.col("__lt") > 0, tpd / F.col("__lt").cast("double"))
    f1 = F.when(
        F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        (F.lit(2.0) * tpd)
        / (F.lit(2.0) * tpd + F.col("fp").cast("double") + F.col("fn").cast("double")),
    )
    scored = per.select(
        F.col("cls").alias("class"),
        F.col("tp").cast("long").alias("tp"),
        "fp",
        "fn",
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(f1, round_to).alias("f1"),
    )
    dec = lambda c: F.round(F.coalesce(F.col(c), F.lit(0.0)), 8).cast(  # noqa: E731
        "decimal(28,8)"
    )
    macro = (
        scored
        .groupBy()
        .agg(
            F.lit("__macro__").alias("class"),
            F.sum("tp").cast("long").alias("tp"),
            F.sum("fp").cast("long").alias("fp"),
            F.sum("fn").cast("long").alias("fn"),
            F.round(
                F.sum(dec("precision")).cast("double") / F.count(F.lit(1)),
                round_to,
            ).alias("precision"),
            F.round(
                F.sum(dec("recall")).cast("double") / F.count(F.lit(1)), round_to
            ).alias("recall"),
            F.round(
                F.sum(dec("f1")).cast("double") / F.count(F.lit(1)), round_to
            ).alias("f1"),
        )
    )
    return scored.unionByName(macro)


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability-diagram bins: scores bucketed into ``n_bins`` equal
    [0,1) intervals, each reporting mean score vs observed positive rate
    — the calibration companion to :func:`auc_score` (a well-calibrated
    scorer's bins lie on the diagonal). One aggregate pass; means from
    exact decimal sums; score exactly 1.0 lands in the top bin.
    """
    s = F.col(score_col).cast("double")
    bucket = F.least(
        F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    base = df.where(
        F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
        & (s >= 0)
        & (s <= 1)
    )
    agg = base.groupBy(bucket.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(s.cast("decimal(18,12)")).alias("__ss"),
        F.sum(F.col(label_col).cast("int")).alias("__pos"),
    )
    return agg.select(
        "bin",
        "n",
        F.round(F.col("__ss").cast("double") / F.col("n").cast("double"), round_to).alias(
            "mean_score"
        ),
        F.round(
            F.col("__pos").cast("double") / F.col("n").cast("double"), round_to
        ).alias("pos_rate"),
    )


def wilson_ci(
    df: DataFrame,
    success_col: str,
    by: Optional[Sequence[str]] = None,
    z: float = 1.959963984540054,
    round_to: int = 6,
) -> DataFrame:
    """Wilson score confidence interval for a per-group proportion —
    the right CI for conversion/error rates (never leaves [0,1], sane at
    small n, unlike the normal approximation). ``success_col`` is a
    0/1 indicator; z defaults to the exact two-sided 95% quantile.

        center = (p̂ + z²/2n) / (1 + z²/n)
        halfwidth = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    One aggregate of exact counts per group; the closed form runs once
    per group in a fixed double expression order (oracle-exact).
    """
    keys = list(by or [])
    agg = df.where(F.col(success_col).isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(success_col).cast("int")).alias("__s"),
    )
    n = F.col("__n").cast("double")
    p = F.col("__s").cast("double") / n
    z_ = F.lit(float(z))
    z2 = z_ * z_
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        z_
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return agg.select(
        *keys,
        F.col("__n").cast("long").alias("n"),
        F.round(p, round_to).alias("rate"),
        F.round(center - half, round_to).alias("ci_lo"),
        F.round(center + half, round_to).alias("ci_hi"),
    )


#: cumulative Poisson(1) pmf at k = 0..8, rounded 12dp — the multiplicity
#: thresholds of the Poisson bootstrap (the ~1e-6 of mass beyond the last
#: threshold draws multiplicity 9). Literals so both engines compare the
#: same numbers.
POISSON1_CUM: list[float] = [
    0.367879441171, 0.735758882343, 0.919698602929, 0.981011843124,
    0.996340153173, 0.999405815182, 0.999916758851, 0.999989750803,
    0.999998874797,
]


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_replicas: int = 32,
    alpha: float = 0.05,
    salt: str = "boot",
    round_to: int = 6,
) -> DataFrame:
    """POISSON bootstrap percentile CI for the mean — the distributed
    bootstrap (each row's multiplicity in replica b is an independent
    Poisson(1) draw, the classic approximation of multinomial resampling
    that needs no global coordination; used for CIs on massive
    aggregates where true resampling is impossible).

    Fully deterministic and oracle-replicable: the draw is the inverse
    CDF of Poisson(1) applied to a uniform derived from an md5 digest
    against the literal :data:`POISSON1_CUM` thresholds; per-replica
    means are exact decimal sums divided once in IEEE doubles; the CI
    bounds are ORDER STATISTICS of the replica means
    (ceil(alpha/2·B)-th and ceil((1-alpha/2)·B)-th smallest — integer
    indexing, no interpolation), so no step depends on float summation
    order.

    Hash amortization (round 7): ONE digest feeds FOUR replicas. The
    32-hex md5 of ``salt || (b div 4) || '_' || id`` is sliced into four
    8-hex (32-bit) uniforms, replica ``b`` taking slice ``b mod 4`` —
    4× fewer md5 evaluations than one digest per (row × replica). The
    2⁻³² tail granularity is ample against the 12-dp Poisson CDF
    thresholds (nearest threshold gap ≫ 2⁻³²), and the slices of an
    md5 output are independently uniform. The digest is materialized
    as a column BETWEEN the two explodes (groups × slices) so Catalyst
    evaluates it once per (row, group), never per (row, replica).

    Cost: one fan-out of ``ceil(B/4)`` digests + ``B`` slices per row
    (two chained explodes of literal sequences — map-side, no shuffle),
    one groupBy(replica) aggregate (B rows), then driver-free arithmetic
    over the tiny replica relation. Returns ONE row
    ``(n, mean, ci_lo, ci_hi, n_replicas)``.
    """
    from pyspark.sql import Window

    n_b = int(n_replicas)
    n_groups = (n_b + 3) // 4
    rows = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(value_col).cast("decimal(28,6)").alias("__x"),
        )
        .select(
            "__id",
            "__x",
            F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("__g"),
        )
        # digest column sits between the two Generates: computed once per
        # (row, group), reused by the four slice rows below
        .withColumn(
            "__d",
            F.md5(
                F.concat(
                    F.lit(salt),
                    F.col("__g").cast("string"),
                    F.lit("_"),
                    F.col("__id").cast("string"),
                )
            ),
        )
        .select(
            "__x",
            "__g",
            "__d",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("__j"),
        )
        .withColumn("__b", F.col("__g") * 4 + F.col("__j"))
        .where(F.col("__b") < F.lit(n_b))
    )
    u = (
        F.conv(
            # expr form: Column pos/len for substring needs pyspark>=4.0;
            # pyproject floors at 3.5, the SQL form works on both
            F.expr("substring(__d, 1 + __j*8, 8)"),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    mult = F.lit(len(POISSON1_CUM)).cast("int")
    for k in range(len(POISSON1_CUM) - 1, -1, -1):
        mult = F.when(u < F.lit(POISSON1_CUM[k]), F.lit(k)).otherwise(mult)
    reps = (
        rows.withColumn("__m", mult)
        .groupBy("__b")
        .agg(
            F.sum(F.col("__m").cast("decimal(10,0)") * F.col("__x")).alias("__s"),
            F.sum("__m").cast("long").alias("__n"),
        )
        .where(F.col("__n") > 0)
        .select(
            (F.col("__s").cast("double") / F.col("__n")).alias("__mean")
        )
    )
    import math

    lo_idx = max(1, math.ceil(alpha / 2 * n_replicas))
    hi_idx = min(n_replicas, math.ceil((1 - alpha / 2) * n_replicas))
    w = Window.orderBy(F.col("__mean").asc())
    ranked = reps.withColumn("__r", F.row_number().over(w))
    bounds = ranked.groupBy().agg(
        F.max(F.when(F.col("__r") == lo_idx, F.col("__mean"))).alias("__lo"),
        F.max(F.when(F.col("__r") == hi_idx, F.col("__mean"))).alias("__hi"),
    )
    stats = df.where(F.col(value_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("__sum"),
    )
    return (
        stats.crossJoin(F.broadcast(bounds))
        .select(
            "n",
            F.round(F.col("__sum").cast("double") / F.col("n"), round_to).alias(
                "mean"
            ),
            F.round("__lo", round_to).alias("ci_lo"),
            F.round("__hi", round_to).alias("ci_hi"),
            F.lit(int(n_replicas)).cast("int").alias("n_replicas"),
        )
    )


def bootstrap_ab_diff_ci(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    group_a,
    group_b,
    n_replicas: int = 32,
    alpha: float = 0.05,
    salt: str = "bootab",
    round_to: int = 6,
) -> DataFrame:
    """Poisson-bootstrap percentile CI for the DIFFERENCE OF MEANS between
    two groups — the A/B-test companion of :func:`bootstrap_mean_ci`:
    each replica resamples BOTH groups independently (multiplicities are
    the same md5-sliced Poisson(1) draws) and the CI bounds are integer
    order statistics of the replica ``mean_A − mean_B`` values. A CI
    excluding 0 is the standard distribution-free significance read.

    Inherits the round-7 hash amortization: one md5 digest per (row ×
    4 replicas), four 8-hex uniform slices per digest, materialized
    between two explodes so the digest is computed once per group of
    four. Fully deterministic; the oracle replays the resampling.

    Returns ONE row ``(n_a, n_b, mean_a, mean_b, diff, ci_lo, ci_hi,
    n_replicas)``.
    """
    from pyspark.sql import Window

    n_b_rep = int(n_replicas)
    n_groups = (n_b_rep + 3) // 4
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("decimal(28,6)").alias("__x"),
        F.when(F.col(group_col) == group_a, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("__grp"),
    )
    rows = (
        base.select(
            "__id", "__x", "__grp",
            F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("__g"),
        )
        .withColumn(
            "__d",
            F.md5(
                F.concat(
                    F.lit(salt),
                    F.col("__g").cast("string"),
                    F.lit("_"),
                    F.col("__id").cast("string"),
                )
            ),
        )
        .select(
            "__x", "__grp", "__g", "__d",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("__j"),
        )
        .withColumn("__b", F.col("__g") * 4 + F.col("__j"))
        .where(F.col("__b") < F.lit(n_b_rep))
    )
    u = (
        F.conv(
            # expr form: Column pos/len for substring needs pyspark>=4.0;
            # pyproject floors at 3.5, the SQL form works on both
            F.expr("substring(__d, 1 + __j*8, 8)"),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    mult = F.lit(len(POISSON1_CUM)).cast("int")
    for k in range(len(POISSON1_CUM) - 1, -1, -1):
        mult = F.when(u < F.lit(POISSON1_CUM[k]), F.lit(k)).otherwise(mult)
    reps = (
        rows.withColumn("__m", mult)
        .groupBy("__b", "__grp")
        .agg(
            F.sum(F.col("__m").cast("decimal(10,0)") * F.col("__x")).alias("__s"),
            F.sum("__m").cast("long").alias("__n"),
        )
        .where(F.col("__n") > 0)
        .groupBy("__b")
        .agg(
            F.max(
                F.when(F.col("__grp") == "a", F.col("__s").cast("double") / F.col("__n"))
            ).alias("__ma"),
            F.max(
                F.when(F.col("__grp") == "b", F.col("__s").cast("double") / F.col("__n"))
            ).alias("__mb"),
        )
        .where(F.col("__ma").isNotNull() & F.col("__mb").isNotNull())
        .select((F.col("__ma") - F.col("__mb")).alias("__diff"))
    )
    import math

    lo_idx = max(1, math.ceil(alpha / 2 * n_b_rep))
    hi_idx = min(n_b_rep, math.ceil((1 - alpha / 2) * n_b_rep))
    w = Window.orderBy(F.col("__diff").asc())
    ranked = reps.withColumn("__r", F.row_number().over(w))
    bounds = ranked.groupBy().agg(
        F.max(F.when(F.col("__r") == lo_idx, F.col("__diff"))).alias("__lo"),
        F.max(F.when(F.col("__r") == hi_idx, F.col("__diff"))).alias("__hi"),
    )
    stats = base.groupBy().agg(
        F.sum(F.when(F.col("__grp") == "a", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__grp") == "b", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__grp") == "a", F.col("__x"))).alias("__sa"),
        F.sum(F.when(F.col("__grp") == "b", F.col("__x"))).alias("__sb"),
    )
    mean_a = F.col("__sa").cast("double") / F.col("n_a")
    mean_b = F.col("__sb").cast("double") / F.col("n_b")
    return (
        stats.crossJoin(F.broadcast(bounds))
        .select(
            "n_a",
            "n_b",
            F.round(mean_a, round_to).alias("mean_a"),
            F.round(mean_b, round_to).alias("mean_b"),
            F.round(mean_a - mean_b, round_to).alias("diff"),
            F.round("__lo", round_to).alias("ci_lo"),
            F.round("__hi", round_to).alias("ci_hi"),
            F.lit(n_b_rep).cast("int").alias("n_replicas"),
        )
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Kaplan-Meier survival estimator over (duration, event) pairs —
    ``event=1`` observed, ``event=0`` right-censored: the standard
    time-to-event curve (churn, time-to-conversion, failure analysis)
    that a naive mean-of-observed silently biases.

    ``S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)`` over distinct event times, with
    ``nᵢ`` the at-risk count (everyone whose duration ≥ tᵢ; censored
    subjects leave the risk set after their time, the whole point of
    KM). Shape: ONE distinct-time aggregate + one ordered window over
    the (tiny, distinct-times-sized) relation — rows never sort
    globally.

    Engine-stable product: each factor's ``ln(1 − d/n)`` is computed in
    doubles, ROUNDED TO 12dp, decimal-summed cumulatively (exact,
    order-free given the window order), and exponentiated once per
    output row — the same log-domain determinism recipe as the LM
    scores. Emits one row per distinct EVENT time:
    ``(t, n_risk, n_events, n_censored, survival)``.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(duration_col).cast("double").alias("__t"),
        F.col(event_col).cast("int").alias("__e"),
    ).where(F.col(duration_col).isNotNull())
    per_t = base.groupBy("__t").agg(
        F.sum("__e").cast("long").alias("__d"),
        F.sum(F.lit(1) - F.col("__e")).cast("long").alias("__c"),
    )
    w_all = Window.orderBy("__t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    total = per_t.select(F.sum(F.col("__d") + F.col("__c"))).collect()[0][0]
    at_risk = F.lit(int(total)) - F.coalesce(
        F.sum(F.col("__d") + F.col("__c")).over(w_all), F.lit(0)
    )
    # d = n (the whole risk set dies) sends ln(1-d/n) to -inf — keep that
    # factor OUT of the log-sum and instead latch survival to exactly 0
    # from that time onward via a cumulative flag
    factor_ln = F.when(
        F.col("__d") < F.col("__n"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("__d").cast("double") / F.col("__n").cast("double")
            ),
            12,
        ).cast("decimal(28,12)"),
    ).otherwise(F.lit("0").cast("decimal(28,12)"))
    hit_zero = F.max(
        F.when(F.col("__d") >= F.col("__n"), 1).otherwise(0)
    ).over(w_cum)
    out = (
        per_t.withColumn("__n", at_risk.cast("long"))
        .where(F.col("__d") > 0)
        .withColumn("__lnf", factor_ln)
        .withColumn("__lns", F.sum("__lnf").over(w_cum))
        .withColumn("__z", hit_zero)
        .select(
            F.col("__t").alias("t"),
            F.col("__n").alias("n_risk"),
            F.col("__d").alias("n_events"),
            F.col("__c").alias("n_censored"),
            F.when(F.col("__z") > 0, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("__lns").cast("double")), round_to))
            .alias("survival"),
        )
    )
    return out


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> DataFrame:
    """Two-proportion z-test (pooled standard error) — the classical A/B
    conversion-rate significance test, complementing the
    distribution-free :func:`bootstrap_ab_diff_ci`::

        z = (p̂_a − p̂_b) / √( p̂(1−p̂) · (1/n_a + 1/n_b) )

    with ``p̂`` the pooled rate. ONE aggregate of exact integer counts;
    the closed form runs once in fixed double order (oracle-exact).
    Returns ``(n_a, n_b, rate_a, rate_b, z, significant)`` with the
    two-sided 5% decision (|z| > 1.96).
    """
    base = df.where(
        F.col(success_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    )
    is_a = F.col(group_col) == group_a
    agg = base.groupBy().agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, F.col(success_col).cast("int")).otherwise(0))
        .cast("long")
        .alias("__sa"),
        F.sum(F.when(~is_a, F.col(success_col).cast("int")).otherwise(0))
        .cast("long")
        .alias("__sb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("__sa").cast("double") / na
    pb = F.col("__sb").cast("double") / nb
    pool = (F.col("__sa") + F.col("__sb")).cast("double") / (na + nb)
    se = F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = F.when(se > 0.0, (pa - pb) / se)
    return agg.select(
        "n_a",
        "n_b",
        F.round(pa, round_to).alias("rate_a"),
        F.round(pb, round_to).alias("rate_b"),
        F.round(z, round_to).alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def mahalanobis_outliers(
    df: DataFrame,
    cols: Sequence[str],
    id_col: str,
    top: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Multivariate outliers by squared Mahalanobis distance
    ``d² = (x−μ)ᵀ Σ⁻¹ (x−μ)`` against the population covariance of
    EXACTLY three columns — the correlation-aware generalization of
    per-column z-scores (a row can be unremarkable per column yet far
    off the joint ellipsoid).

    Fully declarative and oracle-exact: the nine covariance moments
    accumulate as exact decimals in ONE aggregate; Σ⁻¹ comes from the
    CLOSED-FORM 3×3 adjugate/determinant (no LAPACK — the same fixed
    double expressions run in any SQL engine); the 1-row stats relation
    broadcasts into the row scan, and d² is one fixed-order expression
    per row. Returns the ``top`` rows by (d² desc, id asc):
    ``(id_col, d2)``.
    """
    if len(cols) != 3:
        raise ValueError("mahalanobis_outliers is specialized to 3 columns")
    c1, c2, c3 = cols
    base = df.where(
        F.col(c1).isNotNull() & F.col(c2).isNotNull() & F.col(c3).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(c1).cast("double").alias("__x1"),
        F.col(c2).cast("double").alias("__x2"),
        F.col(c3).cast("double").alias("__x3"),
    )
    d1, d2_, d3 = (_d(F.col(f"__x{i}")) for i in (1, 2, 3))
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d1).alias("__s1"),
        F.sum(d2_).alias("__s2"),
        F.sum(d3).alias("__s3"),
        F.sum(d1 * d1).alias("__s11"),
        F.sum(d2_ * d2_).alias("__s22"),
        F.sum(d3 * d3).alias("__s33"),
        F.sum(d1 * d2_).alias("__s12"),
        F.sum(d1 * d3).alias("__s13"),
        F.sum(d2_ * d3).alias("__s23"),
    )
    n = F.col("__n").cast("double")
    mu = {i: F.col(f"__s{i}").cast("double") / n for i in (1, 2, 3)}
    cov = {}
    for (i, j) in ((1, 1), (2, 2), (3, 3), (1, 2), (1, 3), (2, 3)):
        sij = F.col(f"__s{i}{j}").cast("double")
        cov[(i, j)] = sij / n - mu[i] * mu[j]
    a, b_, c_ = cov[(1, 1)], cov[(1, 2)], cov[(1, 3)]
    d_, e_, f_ = cov[(2, 2)], cov[(2, 3)], cov[(3, 3)]
    det = (
        a * (d_ * f_ - e_ * e_)
        - b_ * (b_ * f_ - e_ * c_)
        + c_ * (b_ * e_ - d_ * c_)
    )
    # adjugate (symmetric): inv = adj / det
    i11 = (d_ * f_ - e_ * e_)
    i12 = -(b_ * f_ - e_ * c_)
    i13 = (b_ * e_ - d_ * c_)
    i22 = (a * f_ - c_ * c_)
    i23 = -(a * e_ - b_ * c_)
    i33 = (a * d_ - b_ * b_)
    st = stats.select(
        mu[1].alias("m1"), mu[2].alias("m2"), mu[3].alias("m3"),
        (i11 / det).alias("i11"), (i12 / det).alias("i12"),
        (i13 / det).alias("i13"), (i22 / det).alias("i22"),
        (i23 / det).alias("i23"), (i33 / det).alias("i33"),
    )
    joined = base.crossJoin(F.broadcast(st))
    v1 = F.col("__x1") - F.col("m1")
    v2 = F.col("__x2") - F.col("m2")
    v3 = F.col("__x3") - F.col("m3")
    d2 = (
        v1 * (v1 * F.col("i11") + v2 * F.col("i12") + v3 * F.col("i13"))
        + v2 * (v1 * F.col("i12") + v2 * F.col("i22") + v3 * F.col("i23"))
        + v3 * (v1 * F.col("i13") + v2 * F.col("i23") + v3 * F.col("i33"))
    )
    return (
        joined.select(F.col("__id").alias(id_col), F.round(d2, round_to).alias("d2"))
        .orderBy(F.col("d2").desc(), F.col(id_col).asc())
        .limit(int(top))
    )


def rfm_segments(
    df: DataFrame,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_bins: int = 5,
    ref_date=None,
) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary, the
    classic CRM scoring): one aggregate per customer, then ``ntile``
    scores 1..n_bins per dimension where HIGHER is better (most recent,
    most frequent, highest spend all score n_bins), combined into a
    3-digit segment code.

    Determinism contract: monetary sums as exact DECIMAL(18,2); every
    ntile ordering carries the customer id as the tie-break, so scores
    are partitioning-independent and SQL-replicable. ``ref_date``
    defaults to the dataset's max date (one 1-row broadcast).

    Scale: the customer aggregate is the only data-sized shuffle. The
    ntile windows are global over the POST-AGGREGATION relation (one row
    per customer) — dimension-sized by construction; for customer
    dimensions beyond window reach, swap ntile for approx_percentile
    cutpoints (same scores up to quantile error, documented tradeoff).
    """
    from pyspark.sql.window import Window

    per = df.groupBy(customer_col).agg(
        F.max(date_col).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(amount_col).cast("decimal(18,2)")).alias("monetary"),
    )
    if ref_date is None:
        ref = df.agg(F.max(date_col).alias("__ref"))
        per = per.crossJoin(F.broadcast(ref))
    else:
        per = per.withColumn("__ref", F.lit(ref_date).cast("timestamp"))
    per = per.withColumn(
        "recency_days", F.datediff(F.col("__ref"), F.col("__last"))
    )
    cust = F.col(customer_col)
    w_r = Window.orderBy(F.desc("recency_days"), cust.asc())
    w_f = Window.orderBy(F.asc("frequency"), cust.asc())
    w_m = Window.orderBy(F.asc("monetary"), cust.asc())
    return (
        per.withColumn("r_score", F.ntile(n_bins).over(w_r))
        .withColumn("f_score", F.ntile(n_bins).over(w_f))
        .withColumn("m_score", F.ntile(n_bins).over(w_m))
        .select(
            cust,
            "recency_days",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100 + F.col("f_score") * 10
                + F.col("m_score")
            ).alias("segment"),
        )
    )


def ranking_metrics(
    results: DataFrame,
    truth: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    item_col: str = "item_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query ranking-evaluation metrics — recall@k, MRR@k, NDCG@k
    (binary relevance) — for grading any retrieval surface in this
    engine (cosine/IVF/PQ/BQ top-k, BM25, hybrid RRF) against a ground
    truth relation.

    ``results``: (query, item, rank) — ranks 1-based, as every topk
    operator here emits. ``truth``: (query, item) relevant pairs.

    Per query: ``recall = |relevant ∩ top-k| / n_rel``;
    ``mrr = 1/first relevant rank`` (0 when none retrieved);
    ``ndcg = Σ 1/log2(rank+1) over relevant retrieved / IDCG(min(n_rel,
    k))``. Queries with no truth rows emit NULL metrics (undefined, not
    zero); queries present in ``truth`` but with ZERO retrieved rows
    (e.g. an ANN index returned nothing) still emit a row with
    recall/MRR/NDCG = 0 — the base query set is the UNION of both
    sides' query ids, so a silent retrieval failure deflates the macro
    average instead of vanishing from it. One join + two aggregates,
    all on the query key; metrics round to 6dp. Feed
    :func:`ranking_summary` for macro averages.
    """
    n_rel = truth.groupBy(query_col).agg(F.count(F.lit(1)).alias("__nrel"))
    topk = results.where(F.col(rank_col) <= k)
    hits = topk.join(truth, [query_col, item_col]).groupBy(query_col).agg(
        F.count(F.lit(1)).alias("__hits"),
        F.min(rank_col).alias("__first"),
        F.sum(
            F.lit(1.0) / F.log2(F.col(rank_col).cast("double") + 1.0)
        ).alias("__dcg"),
    )
    base = (
        results.select(query_col)
        .union(truth.select(query_col))
        .distinct()
        .join(n_rel, query_col, "left")
        .join(hits, query_col, "left")
    )
    m = F.least(F.coalesce(F.col("__nrel"), F.lit(0)), F.lit(k))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1.0),
    )
    defined = F.coalesce(F.col("__nrel"), F.lit(0)) > 0
    return base.select(
        query_col,
        F.coalesce(F.col("__nrel"), F.lit(0)).alias("n_relevant"),
        F.coalesce(F.col("__hits"), F.lit(0)).alias("n_hits"),
        F.when(
            defined,
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__nrel"), 6
            ),
        ).alias("recall_at_k"),
        F.when(
            defined,
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("__first").cast("double"), F.lit(0.0)
                ),
                6,
            ),
        ).alias("mrr_at_k"),
        F.when(
            defined,
            F.round(F.coalesce(F.col("__dcg"), F.lit(0.0)) / idcg, 6),
        ).alias("ndcg_at_k"),
    )


def ranking_summary(per_query: DataFrame) -> DataFrame:
    """Macro averages over :func:`ranking_metrics` output (defined
    queries only): per-query metrics are rounded values, summed as exact
    9dp decimals with a single end-division — partitioning-independent
    and SQL-replicable."""
    defined = per_query.where(F.col("recall_at_k").isNotNull())

    def dmean(c):
        return F.round(
            F.sum(F.round(F.col(c), 9).cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias(f"mean_{c}")

    return defined.agg(
        F.count(F.lit(1)).alias("n_queries"),
        dmean("recall_at_k"),
        dmean("mrr_at_k"),
        dmean("ndcg_at_k"),
    )


def conformal_intervals(
    calibration: DataFrame,
    test: DataFrame,
    pred_col: str = "prediction",
    truth_col: str = "y",
    alpha: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al. 2018):
    the ``ceil((n+1)(1−α))``-th smallest absolute calibration residual
    becomes the half-width ``q̂``, and ``[ŷ − q̂, ŷ + q̂]`` covers the
    truth with probability ≥ 1−α for ANY underlying model — the
    distribution-free uncertainty wrapper for every scoring operator
    here (:func:`linreg_score`, the quality classifier, …).

    Exact order statistic, not an approximate quantile: residuals are
    rounded to ``round_to`` then ranked (value, then arbitrary-but-
    deterministic among equals — equal values give the same q̂). When
    ``ceil((n+1)(1−α)) > n`` (calibration too small for the requested
    coverage) q̂ is NULL and the intervals are NULL — the honest
    "cannot certify" answer, not a clamped max.

    Scale: the rank runs over the CALIBRATION set only (split-conformal
    keeps it a held-out slice — thousands of rows, not the corpus); the
    test side gets one 1-row broadcast. Returns ``test`` + ``lo`` /
    ``hi`` (+ ``covered`` when the test side carries ``truth_col``).
    """
    from pyspark.sql.window import Window

    res = calibration.select(
        F.round(
            F.abs(
                F.col(truth_col).cast("double")
                - F.col(pred_col).cast("double")
            ),
            round_to,
        ).alias("__r")
    ).where(F.col("__r").isNotNull())
    w = Window.orderBy("__r")
    ranked = res.withColumn("__rn", F.row_number().over(w))
    n_k = res.agg(
        F.count(F.lit(1)).alias("__n"),
        F.ceil(
            (F.count(F.lit(1)) + 1) * F.lit(float(1.0 - alpha))
        ).cast("long").alias("__k"),
    )
    qhat = (
        ranked.crossJoin(F.broadcast(n_k))
        .where(F.col("__rn") == F.col("__k"))
        .select(F.col("__r").alias("__qhat"))
    )
    # too-small calibration: no row matches __k > n -> empty qhat; keep
    # NULL intervals via a left join against a literal single row
    one = test.sparkSession.range(1).select(F.lit(1).alias("__one"))
    qrow = one.join(
        F.broadcast(qhat.withColumn("__one", F.lit(1))), "__one", "left"
    ).select("__qhat")
    out = test.crossJoin(F.broadcast(qrow))
    p = F.col(pred_col).cast("double")
    out = out.withColumn(
        "lo", F.round(p - F.col("__qhat"), round_to)
    ).withColumn("hi", F.round(p + F.col("__qhat"), round_to))
    if truth_col in test.columns:
        t = F.col(truth_col).cast("double")
        out = out.withColumn(
            "covered", (t >= F.col("lo")) & (t <= F.col("hi"))
        )
    return out.drop("__qhat")


def bh_fdr(
    df: DataFrame,
    test_col: str,
    p_col: str = "p_value",
    q: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR correction over a battery of
    hypothesis tests: rank p-values ascending, find the LARGEST rank k
    with ``p_(k) ≤ (k/m)·q``, reject hypotheses 1..k — controls the
    expected false-discovery rate at ``q`` under independence, the
    standard fix for "we ran 40 A/B metrics and 3 hit 0.05".

    Runs over the post-aggregation tests relation (one row per test —
    bounded by the metric battery, never data-sized): one rank window,
    one max over the passing ranks. NULL p-values are excluded.

    Returns ``(test, p, rank, bh_threshold, rejected)``.
    """
    from pyspark.sql.window import Window

    base = df.where(F.col(p_col).isNotNull()).select(
        F.col(test_col), F.col(p_col).cast("double").alias("__p")
    )
    w = Window.orderBy(F.asc("__p"), F.asc(test_col))
    ranked = (
        base.withColumn("rank", F.row_number().over(w))
        .withColumn("__m", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "__thr",
            F.col("rank").cast("double") / F.col("__m") * F.lit(float(q)),
        )
        .withColumn("bh_threshold", F.round(F.col("__thr"), round_to))
    )
    # Rejection compares against the EXACT (k/m)·q line — rounding
    # bh_threshold first can flip a p-value within ~5e-7 of the
    # boundary; the rounded value is display-only.
    kmax = ranked.where(F.col("__p") <= F.col("__thr")).agg(
        F.max("rank").alias("__kmax")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            test_col,
            F.round(F.col("__p"), round_to).alias("p"),
            F.col("rank").cast("long").alias("rank"),
            "bh_threshold",
            F.coalesce(
                F.col("rank") <= F.col("__kmax"), F.lit(False)
            ).alias("rejected"),
        )
    )


def cuped_summary(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    group_col: str,
    scale: int = 3,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM'13): adjust an
    experiment metric by a pre-period covariate,
    ``y' = y − θ(x − x̄)`` with ``θ = cov(x,y)/var(x)`` POOLED across
    groups — the industry-standard trick that cuts A/B variance by the
    covariate's R² without biasing the treatment effect (θ and x̄ are
    global, so both arms shift identically).

    Everything reduces to ONE aggregate per group of exact
    scaled-integer cross sums (Σx, Σy, Σxy, Σx², Σy² — the
    :func:`~.aggstate.moments_state` determinism contract, values
    bounded by ``|v|·10^scale`` with Σ(v·10^scale)² < 10³⁸) plus a
    1-row broadcast for θ; per-group adjusted means and variances come
    from the same sums in closed form — no second pass over rows.

    Returns per group: ``(group, n, mean_raw, mean_adj, var_raw,
    var_adj, var_reduction)`` — ``var_reduction = var_adj/var_raw``
    (≈ 1 − corr², the health check that the covariate helped).
    """
    u = float(10 ** scale)
    ix = F.round(F.col(covariate_col).cast("double") * F.lit(u)).cast(
        "decimal(19,0)"
    )
    iy = F.round(F.col(metric_col).cast("double") * F.lit(u)).cast(
        "decimal(19,0)"
    )
    per = (
        df.where(
            F.col(metric_col).isNotNull() & F.col(covariate_col).isNotNull()
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(ix.cast("decimal(38,0)")).alias("__sx"),
            F.sum(iy.cast("decimal(38,0)")).alias("__sy"),
            F.sum((ix * iy).cast("decimal(38,0)")).alias("__sxy"),
            F.sum((ix * ix).cast("decimal(38,0)")).alias("__sxx"),
            F.sum((iy * iy).cast("decimal(38,0)")).alias("__syy"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("__tn"),
        F.sum("__sx").alias("__tx"),
        F.sum("__sy").alias("__ty"),
        F.sum("__sxy").alias("__txy"),
        F.sum("__sxx").alias("__txx"),
    )
    tn = F.col("__tn").cast("double")
    txm = F.col("__tx").cast("double") / u / tn
    tym = F.col("__ty").cast("double") / u / tn
    cov = F.col("__txy").cast("double") / (u * u) / tn - txm * tym
    varx = F.col("__txx").cast("double") / (u * u) / tn - txm * txm
    theta = F.when(varx > 0, cov / varx).otherwise(F.lit(0.0))
    glob = tot.select(
        theta.alias("__theta"), txm.alias("__xbar")
    )
    j = per.crossJoin(F.broadcast(glob))
    n = F.col("n").cast("double")
    mx = F.col("__sx").cast("double") / u / n
    my = F.col("__sy").cast("double") / u / n
    vy = F.col("__syy").cast("double") / (u * u) / n - my * my
    vx = F.col("__sxx").cast("double") / (u * u) / n - mx * mx
    cxy = F.col("__sxy").cast("double") / (u * u) / n - mx * my
    th = F.col("__theta")
    mean_adj = my - th * (mx - F.col("__xbar"))
    var_adj = vy - 2 * th * cxy + th * th * vx
    return j.select(
        group_col,
        "n",
        F.round(my, 6).alias("mean_raw"),
        F.round(mean_adj, 6).alias("mean_adj"),
        F.round(vy, 6).alias("var_raw"),
        F.round(var_adj, 6).alias("var_adj"),
        F.when(vy > 0, F.round(var_adj / vy, 6)).alias("var_reduction"),
    )


def uplift_deciles(
    df: DataFrame,
    score_col: str,
    treated_col: str,
    outcome_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Uplift evaluation table (Radcliffe's Qini): rank the population
    by a targeting score (best first), split into ``n_bins`` equal
    bins, and report per-bin + cumulative treatment/control response —
    ``qini(k) = R_t(k) − R_c(k)·N_t(k)/N_c(k)`` (incremental responders
    vs a scaled control) and the cumulative uplift
    ``R_t/N_t − R_c/N_c``. A good uplift model front-loads qini; a
    useless one walks the diagonal.

    Determinism: bins via ntile over (score desc, id asc) on the
    POST-scoring population relation (one row per unit — same posture
    as :func:`rfm_segments`: swap in approx-quantile cutpoints beyond
    window reach); counts are exact integers, ratios computed once at
    the end, 6dp.

    Returns per bin: ``(bin, n_treated, n_control, resp_treated,
    resp_control, cum_uplift, qini)``.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col),
        F.col(score_col).alias("__s"),
        F.col(treated_col).cast("int").alias("__t"),
        F.col(outcome_col).cast("int").alias("__y"),
    ).where(F.col("__t").isNotNull() & F.col("__y").isNotNull())
    w = Window.orderBy(F.desc("__s"), F.asc(id_col))
    binned = base.withColumn("bin", F.ntile(n_bins).over(w))
    per = binned.groupBy("bin").agg(
        F.sum("__t").alias("n_treated"),
        F.sum(1 - F.col("__t")).alias("n_control"),
        F.sum(F.col("__t") * F.col("__y")).alias("resp_treated"),
        F.sum((1 - F.col("__t")) * F.col("__y")).alias("resp_control"),
    )
    cw = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per.withColumn("__Nt", F.sum("n_treated").over(cw))
        .withColumn("__Nc", F.sum("n_control").over(cw))
        .withColumn("__Rt", F.sum("resp_treated").over(cw))
        .withColumn("__Rc", F.sum("resp_control").over(cw))
    )
    nt = F.col("__Nt").cast("double")
    nc = F.col("__Nc").cast("double")
    uplift = F.when(
        (F.col("__Nt") > 0) & (F.col("__Nc") > 0),
        F.round(F.col("__Rt") / nt - F.col("__Rc") / nc, 6),
    )
    qini = F.when(
        F.col("__Nc") > 0,
        F.round(F.col("__Rt") - F.col("__Rc") * nt / nc, 6),
    )
    return cum.select(
        "bin",
        "n_treated",
        "n_control",
        "resp_treated",
        "resp_control",
        uplift.alias("cum_uplift"),
        qini.alias("qini"),
    ).orderBy("bin")


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability table for a probabilistic classifier (round 9): bin
    predictions into ``n_bins`` equal-width score bins and compare each
    bin's mean predicted score (confidence) with its observed positive
    rate (accuracy) — the per-bin |gap| is what Expected Calibration
    Error averages. A quality classifier that gates documents at a
    fixed threshold is only as good as its calibration NEAR that
    threshold; an over-confident bin right of the cut silently admits
    junk at a higher rate than the score claims.

    Scores are expected in ``[0, 1]``; out-of-range scores clamp into
    the edge bins symmetrically (score 1.0 and above → bin
    ``n_bins−1``, below 0 → bin 0) so no negative bin ids or phantom
    rows appear. Scores are summed as exact DECIMAL(18,6) with one
    end-division per bin (house determinism contract); NULL
    scores/labels are excluded. One aggregate on the bin key — bin
    cardinality bounded by ``n_bins``.

    Returns ``(bin, bin_lo, n, mean_score, frac_pos, abs_gap)``.
    """
    s = F.col(score_col).cast("double")
    lab = F.col(label_col).cast("int")
    b = F.greatest(
        F.least(
            F.floor(s * F.lit(float(n_bins))).cast("int"),
            F.lit(n_bins - 1),
        ),
        F.lit(0),
    )
    base = df.where(s.isNotNull() & lab.isNotNull()).select(
        b.alias("bin"),
        F.col(score_col).cast("decimal(18,6)").alias("__s"),
        lab.alias("__l"),
    )
    agg = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__s").alias("__sum"),
        F.sum("__l").alias("__pos"),
    )
    conf = F.col("__sum").cast("double") / F.col("n")
    acc = F.col("__pos").cast("double") / F.col("n")
    gap = F.abs(
        (F.col("__sum") - F.col("__pos")).cast("double")
    ) / F.col("n")
    return agg.select(
        "bin",
        F.round(F.col("bin") / F.lit(float(n_bins)), 6).alias("bin_lo"),
        "n",
        F.round(conf, round_to).alias("mean_score"),
        F.round(acc, round_to).alias("frac_pos"),
        F.round(gap, round_to).alias("abs_gap"),
    ).orderBy("bin")


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> float:
    """Scalar ECE = Σ_b (n_b/N)·|conf_b − acc_b| over
    :func:`calibration_report`'s bins — a driver-side convenience for
    gating model promotion (report queries should use the per-bin
    relation)."""
    rows = calibration_report(df, score_col, label_col, n_bins).collect()
    n_total = sum(r.n for r in rows)
    if n_total == 0:
        return float("nan")
    return sum(r.n * r.abs_gap for r in rows) / n_total


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's κ agreement between two categorical raters (round 9):
    observed agreement corrected for chance,
    ``κ = (p_o − p_e)/(1 − p_e)`` with ``p_e = Σ_c p_A(c)·p_B(c)``. The
    gate-audit statistic: run it between the heuristic quality gate and
    the trained classifier gate — κ ≈ 1 means the model only re-learned
    the heuristic (no point deploying it), κ near 0 means the two gates
    disagree beyond chance and the composed pipeline is genuinely
    stricter. Rows where either rater is NULL are excluded.

    Two bounded aggregates (per-category margins) + one total — all
    category-cardinality sized. Returns ONE row
    ``(n, p_observed, p_expected, kappa)``; κ NULL when p_e = 1
    (both raters constant — agreement is all chance).
    """
    a, bcol = F.col(rater_a).cast("string"), F.col(rater_b).cast("string")
    base = df.where(a.isNotNull() & bcol.isNotNull()).select(
        a.alias("__a"), bcol.alias("__b")
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__a") == F.col("__b")).cast("long")).alias("__agree"),
    )
    ma = base.groupBy(F.col("__a").alias("__c")).agg(
        F.count(F.lit(1)).alias("__ca")
    )
    mb = base.groupBy(F.col("__b").alias("__c")).agg(
        F.count(F.lit(1)).alias("__cb")
    )
    # margins multiply as DOUBLE: long __ca*__cb (and n*n) wraps/errors
    # past n ~ 3.04e9 (n^2 > 2^63) — the 100 TB contract forbids that,
    # and the 6dp-rounded probability doesn't need integer exactness
    pe_sum = (
        ma.join(mb, "__c")
        .agg(
            F.sum(
                F.col("__ca").cast("double") * F.col("__cb").cast("double")
            ).alias("__pe_num")
        )
    )
    po = F.col("__agree").cast("double") / F.col("n")
    pe = F.col("__pe_num") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
    return (
        tot.crossJoin(F.broadcast(pe_sum))
        .select(
            "n",
            F.round(po, round_to).alias("p_observed"),
            F.round(pe, round_to).alias("p_expected"),
            F.round(kappa, round_to).alias("kappa"),
        )
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Gate-threshold tuning table (round 10, VERDICT r9 item #10): for
    every candidate threshold ``t = b/n_bins``, the admission outcome
    of gating at ``score >= t`` — documents admitted, admitted
    fraction, precision (observed positive rate among admitted, i.e.
    1 − junk-admission rate), recall of positives, and F1. This is the
    decision table :func:`calibration_report` feeds: calibration tells
    you whether the scores MEAN what they say; the sweep tells you
    where to CUT for a target junk rate or coverage.

    Same clamped equal-width binning as :func:`calibration_report`
    (scores expected in [0,1]; out-of-range clamp to edge bins), so a
    document admitted at threshold ``b/n_bins`` is exactly one whose
    bin ≥ b. One ``n_bins``-row aggregate + a cumulative window DOWN
    the bins (top-bin-first running sums) + a 1-row total broadcast —
    nothing scales with the corpus beyond the first aggregate.

    Returns ``(threshold, n_admitted, frac_admitted, precision,
    recall, f1)`` — one row per candidate threshold, 0/n_bins …
    (n_bins−1)/n_bins; precision/f1 NULL when nothing is admitted,
    recall NULL when there are no positives.
    """
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    lab = F.col(label_col).cast("int")
    b = F.greatest(
        F.least(
            F.floor(s * F.lit(float(n_bins))).cast("int"),
            F.lit(n_bins - 1),
        ),
        F.lit(0),
    )
    base = df.where(s.isNotNull() & lab.isNotNull()).select(
        b.alias("__b"), lab.alias("__l")
    )
    per_bin = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__l").alias("__pos")
    )
    # densify: bins with no docs must still yield a threshold row
    spark = df.sparkSession
    bins = spark.range(int(n_bins)).select(F.col("id").cast("int").alias("__b"))
    per_bin = bins.join(per_bin, "__b", "left").select(
        "__b",
        F.coalesce(F.col("__n"), F.lit(0)).alias("__n"),
        F.coalesce(F.col("__pos"), F.lit(0)).alias("__pos"),
    )
    w = Window.orderBy(F.desc("__b")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("__tn"), F.sum("__l").alias("__tpos")
    )
    cum = per_bin.select(
        "__b",
        F.sum("__n").over(w).alias("__adm"),
        F.sum("__pos").over(w).alias("__adm_pos"),
    )
    adm = F.col("__adm").cast("double")
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("__b") / F.lit(float(n_bins)), round_to).alias(
                "threshold"
            ),
            F.col("__adm").alias("n_admitted"),
            F.round(
                F.when(F.col("__tn") > 0, adm / F.col("__tn")).otherwise(0.0),
                round_to,
            ).alias("frac_admitted"),
            F.round(
                F.when(F.col("__adm") > 0, F.col("__adm_pos") / adm),
                round_to,
            ).alias("precision"),
            F.round(
                F.when(
                    F.col("__tpos") > 0, F.col("__adm_pos") / F.col("__tpos")
                ),
                round_to,
            ).alias("recall"),
            F.round(
                F.when(
                    (F.col("__adm") > 0)
                    & (F.col("__tpos") > 0)
                    & (F.col("__adm_pos") > 0),
                    2.0
                    * F.col("__adm_pos")
                    / (F.col("__adm") + F.col("__tpos")),
                ),
                round_to,
            ).alias("f1"),
        )
        .orderBy("threshold")
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between two groups
    (round 10): the nonparametric A/B location test that completes the
    KS / chi² / z-test battery — rank-based, so heavy-tailed metrics
    (revenue, latency) don't need trimming before comparison.

    Rank arithmetic is INTEGER-EXACT: the pooled midranks are computed
    per DISTINCT VALUE (2·midrank = 2·cum_count_before + tie_count + 1,
    always an integer), so the rank sum never depends on row order or
    float summation; only the final z divides as double. Tie-corrected
    variance ``σ² = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n·(n−1)))``. One
    value-level aggregate (cardinality = distinct values) + one ordered
    window over it + a 1-row reduce — nothing scales with row count
    past the first aggregate.

    Returns ONE row ``(n_a, n_b, u_a, u_b, z, cliffs_delta)``: ``u_a``
    counts pairs where a's value beats b's (ties half), ``z`` is the
    tie-corrected normal approximation (NULL when either group is empty
    or all values tie), and ``cliffs_delta = (u_a − u_b)/(n_a·n_b)`` is
    the ordinal effect size in [−1, 1] — the magnitude companion to the
    significance statistic (|δ| ≳ 0.33 is conventionally "medium").
    Two-sided p comes from |z| against the caller's normal table
    — no erf builtin exists in either engine, so the statistic is the
    contract.
    """
    from pyspark.sql.window import Window

    g = F.col(group_col).cast("string")
    val = F.col(value_col).cast("double")
    base = df.where(
        val.isNotNull() & g.isin(str(group_a), str(group_b))
    ).select(
        val.alias("__v"),
        (g == str(group_a)).cast("long").alias("__ia"),
    )
    per_val = base.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__t"), F.sum("__ia").alias("__ta")
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_val.withColumn(
        "__cum", F.sum("__t").over(w)
    ).select(
        "__v", "__t", "__ta",
        # 2*midrank of every row tied at this value (integer-exact)
        (2 * (F.col("__cum") - F.col("__t")) + F.col("__t") + 1).alias("__r2"),
    )
    agg = ranked.agg(
        F.sum(F.col("__ta") * F.col("__r2")).alias("__r2a"),
        F.sum("__ta").alias("__na"),
        F.sum(F.col("__t") - F.col("__ta")).alias("__nb"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__ties"),
    )
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    n = na + nb
    # U_a = R_a − n_a(n_a+1)/2, with R_a = __r2a/2 (exact halves)
    ua = F.col("__r2a").cast("double") / 2 - na * (na + 1) / 2
    ub = na * nb - ua
    var = (
        na * nb / 12.0
        * ((n + 1) - F.col("__ties").cast("double") / (n * (n - 1)))
    )
    z = F.when(
        (F.col("__na") > 0) & (F.col("__nb") > 0) & (var > 0),
        (ua - na * nb / 2) / F.sqrt(var),
    )
    delta = F.when((F.col("__na") > 0) & (F.col("__nb") > 0),
                   (ua - ub) / (na * nb))
    return agg.select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        F.round(ua, round_to).alias("u_a"),
        F.round(ub, round_to).alias("u_b"),
        F.round(z, round_to).alias("z"),
        F.round(delta, round_to).alias("cliffs_delta"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Kruskal–Wallis H test across k groups (round 10): the k-sample
    extension of :func:`mann_whitney_u` — one rank-based location test
    over every group at once instead of k² pairwise comparisons.
    ``H = 12/(n(n+1))·Σ_g R_g²/n_g − 3(n+1)``, tie-corrected
    ``H_c = H / (1 − Σ(t³−t)/(n³−n))``; compare against χ²(k−1).

    Same INTEGER-EXACT pooled-midrank machinery as Mann–Whitney
    (2·midrank per distinct value), so rank sums are independent of row
    order; the H arithmetic runs in double AFTER the exact integer rank
    sums (margins multiply as double — the kappa overflow lesson). Two
    bounded aggregates (per (value, group), then per group) + one
    ordered window over distinct values + two 1-row scalar broadcasts.

    Returns one row PER GROUP ``(group, n, mean_rank)`` with the shared
    scalars ``(h, h_corrected, df)`` repeated — the per-group mean
    ranks are the post-hoc reading that says WHICH groups differ.
    ``h_corrected`` is NULL when all values tie.
    """
    from pyspark.sql.window import Window

    g = F.col(group_col).cast("string")
    val = F.col(value_col).cast("double")
    base = df.where(val.isNotNull() & g.isNotNull()).select(
        g.alias("__g"), val.alias("__v")
    )
    pv = base.groupBy("__v", "__g").agg(F.count(F.lit(1)).alias("__tg"))
    tot_v = pv.groupBy("__v").agg(F.sum("__tg").alias("__t"))
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r2v = tot_v.withColumn("__cum", F.sum("__t").over(w)).select(
        "__v",
        (2 * (F.col("__cum") - F.col("__t")) + F.col("__t") + 1).alias("__r2"),
    )
    per_g = (
        pv.join(r2v, "__v")
        .groupBy("__g")
        .agg(
            F.sum(F.col("__tg") * F.col("__r2")).alias("__r2g"),
            F.sum("__tg").alias("__ng"),
        )
    )
    glob = tot_v.agg(
        F.sum("__t").alias("__n"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__ties"),
        F.count(F.lit(1)).alias("__k_vals"),
    )
    rg = F.col("__r2g").cast("double") / 2
    sum_term = per_g.agg(
        F.sum(rg * rg / F.col("__ng").cast("double")).alias("__s"),
        F.count(F.lit(1)).alias("__k"),
    )
    n = F.col("__n").cast("double")
    h = 12.0 / (n * (n + 1)) * F.col("__s") - 3.0 * (n + 1)
    tie_den = 1.0 - F.col("__ties").cast("double") / (n * n * n - n)
    hc = F.when(tie_den > 0, h / tie_den)
    return (
        per_g.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(sum_term))
        .select(
            F.col("__g").alias(group_col),
            F.col("__ng").alias("n"),
            F.round(rg / F.col("__ng").cast("double"), round_to).alias(
                "mean_rank"
            ),
            F.round(h, round_to).alias("h"),
            F.round(hc, round_to).alias("h_corrected"),
            (F.col("__k") - 1).cast("int").alias("df"),
        )
        .orderBy(group_col)
    )


def dunns_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after :func:`kruskal_wallis`
    (round 11, VERDICT r10 item #10b): WHICH groups differ, once the
    omnibus H says some do. For every unordered group pair,
    ``z = (R̄_a − R̄_b) / sqrt(σ² (1/n_a + 1/n_b))`` with the pooled
    tie-corrected variance ``σ² = (N(N+1) − Σ(t³−t)/(N−1)) / 12`` over
    the SAME integer-exact pooled midranks the omnibus test uses, and
    the k(k−1)/2 p-values are jointly controlled by composing
    :func:`bh_fdr` (Benjamini–Hochberg step-up at ``q``) — the standard
    Dunn (1964) + BH post-hoc battery.

    Two-sided p from |z| via the Zelen–Severo / Abramowitz–Stegun
    26.2.17 polynomial (|ε| < 7.5e-8; both engines evaluate the
    identical exp-based formula — same precedent as the KS battery's
    exp p-values; neither engine has erf).

    Scale: the same two bounded aggregates + one distinct-value window
    as :func:`kruskal_wallis`, then a k×k self-join of the k-row
    per-group relation and bh_fdr's rank window — nothing after the
    first aggregate scales with row count.

    Returns one row per pair ``(group_a, group_b, n_a, n_b,
    mean_rank_a, mean_rank_b, z, p, rank, bh_threshold, rejected)``,
    ordered by p then pair.
    """
    from pyspark.sql.window import Window

    g = F.col(group_col).cast("string")
    val = F.col(value_col).cast("double")
    base = df.where(val.isNotNull() & g.isNotNull()).select(
        g.alias("__g"), val.alias("__v")
    )
    pv = base.groupBy("__v", "__g").agg(F.count(F.lit(1)).alias("__tg"))
    tot_v = pv.groupBy("__v").agg(F.sum("__tg").alias("__t"))
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r2v = tot_v.withColumn("__cum", F.sum("__t").over(w)).select(
        "__v", "__t",
        (2 * (F.col("__cum") - F.col("__t")) + F.col("__t") + 1).alias(
            "__r2"
        ),
    )
    per_g = (
        pv.join(r2v.select("__v", "__r2"), "__v")
        .groupBy("__g")
        .agg(
            F.sum(F.col("__tg") * F.col("__r2")).alias("__r2g"),
            F.sum("__tg").alias("__ng"),
        )
    )
    glob = tot_v.agg(
        F.sum("__t").alias("__n"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__ties"),
    )
    a, b = per_g.alias("a"), per_g.alias("b")
    pairs = (
        a.join(b, F.col("a.__g") < F.col("b.__g"))
        .crossJoin(F.broadcast(glob))
    )
    n = F.col("__n").cast("double")
    sigma2 = (
        n * (n + 1)
        - F.col("__ties").cast("double") / (n - 1)
    ) / 12.0
    na, nb = F.col("a.__ng").cast("double"), F.col("b.__ng").cast("double")
    mra = F.col("a.__r2g").cast("double") / (2 * na)
    mrb = F.col("b.__r2g").cast("double") / (2 * nb)
    zden = F.sqrt(sigma2 * (1.0 / na + 1.0 / nb))
    z = F.when(zden > 0, (mra - mrb) / zden)
    zabs = F.abs(z)
    # A&S 26.2.17 upper tail: 1 − Φ(z) = φ(z)·(b1 t + … + b5 t⁵)
    t = 1.0 / (1.0 + 0.2316419 * zabs)
    poly = t * (
        0.319381530
        + t * (
            -0.356563782
            + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
        )
    )
    pdf = F.exp(-zabs * zabs / 2.0) / F.lit(2.5066282746310002)
    p = F.least(2.0 * pdf * poly, F.lit(1.0))
    scored = pairs.select(
        F.col("a.__g").alias("group_a"),
        F.col("b.__g").alias("group_b"),
        F.col("a.__ng").cast("long").alias("n_a"),
        F.col("b.__ng").cast("long").alias("n_b"),
        F.round(mra, round_to).alias("mean_rank_a"),
        F.round(mrb, round_to).alias("mean_rank_b"),
        F.round(z, round_to).alias("z"),
        p.alias("p_value"),
        F.concat_ws("|", F.col("a.__g"), F.col("b.__g")).alias("__test"),
    )
    flags = bh_fdr(
        scored.select("__test", "p_value"), "__test",
        p_col="p_value", q=q, round_to=round_to,
    )
    return (
        scored.drop("p_value")
        .join(flags, scored["__test"] == flags["__test"])
        .select(
            "group_a", "group_b", "n_a", "n_b",
            "mean_rank_a", "mean_rank_b", "z",
            "p", "rank", "bh_threshold", "rejected",
        )
        .orderBy("rank")
    )
