"""Deduplication operators — exact and near-duplicate, designed for 100 TB.

North-star extension (SURVEY.md §2.13; not in the reference, which has no
dedup surface). All algorithms are expressed as DataFrame plans so Catalyst
handles pushdown/AQE; nothing collects to the driver.

Scale design:
- Exact dedup is a hash-shuffle on the key — unavoidable single shuffle;
  keep-first semantics use one window, no self-join.
- MinHash-LSH: cost is O(n · k) hashing + one shuffle per band join key.
  Candidate pairs come from band-bucket equality (groupBy/join on
  ``(band_id, band_hash)``), NEVER an O(n²) cross join. Bucket skew (a
  degenerate band hash shared by millions of docs) is handled by capping
  bucket size before pair expansion.
- SimHash: 64-bit signature per doc via weighted bit-vote; near-dups found
  by banding the signature into 4×16-bit keys (Hamming-distance blocking).
- All text hashing uses ``xxhash64``/``hash`` (JVM built-ins) — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import CacheScope, persist_in


def exact_dedup(
    df: DataFrame,
    keys: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep-first exact dedup: one row per distinct ``keys``, first by
    ``tiebreak`` order. Single shuffle on the key columns.

    With no tiebreak this is ``dropDuplicates(keys)`` (arbitrary survivor);
    with a tiebreak it's deterministic via row_number() — required for
    oracle-comparable results.
    """
    if not tiebreak:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in tiebreak])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition BEFORE compute-heavy per-row work when the scan has too
    few partitions (e.g. one small parquet file → the whole shingle+minhash
    computation would run in a single task). At real scale the scan already
    has thousands of partitions and this is a no-op."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _normalized_tokens(text_col: str) -> F.Column:
    """Lowercase, strip non-alphanumerics to spaces, split on whitespace."""
    cleaned = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " ")
    return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")


def shingles(df: DataFrame, text_col: str, n: int = 3, out_col: str = "shingles") -> DataFrame:
    """Word n-gram shingle sets (distinct) per document — pure built-in
    expressions (transform over a sequence of offsets), JVM-side. The
    token array is let-bound through a single-element-array lambda so
    CollapseProject cannot inline the tokenizer into every slice (see
    :func:`shingle_hashes` — same fix, same bit-identical values)."""
    toks = _normalized_tokens(text_col)

    def _shingles_of(tk):
        n_sh = F.size(tk) - F.lit(n - 1)
        # guard, don't clamp: sequence(0, -1) is DESCENDING in Spark
        # ([0,-1]), which would feed slice() a 0 start — short docs get
        # an empty set
        return F.when(
            n_sh > 0,
            F.transform(
                F.sequence(F.lit(0), n_sh - 1),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    sh = F.element_at(F.transform(F.array(toks), _shingles_of), 1)
    return df.withColumn(out_col, F.array_distinct(sh))


def _salts(num_hashes: int, seed: int = 1) -> list[int]:
    """Deterministic per-hash-function salts (distinct positive int32s,
    golden-ratio stepped). Each salt defines one member of the MinHash
    family via ``xxhash64(base_hash, salt_i)``."""
    return [
        (seed * 0x9E3779B9 + i * 0x85EBCA6B) & 0x7FFFFFFF for i in range(num_hashes)
    ]


def shingle_hashes(
    df: DataFrame, text_col: str, n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Distinct word-n-gram shingle HASHES (array<long>) — the cheap form
    of :func:`shingles` when downstream only needs set operations (MinHash,
    Jaccard intersections): each token is hashed once, each shingle hash
    combines n token hashes with multi-arg xxhash64. Skips building shingle
    strings entirely (no concat; ~5x faster than the string form measured
    on the fixture corpus). Hash collisions are negligible at 64 bits.

    The token-hash array is LET-BOUND through a single-element-array
    ``transform`` lambda (round 7): CollapseProject inlines plain column
    references, so the earlier ``withColumn`` form re-evaluated the FULL
    tokenize+hash pipeline inside every ``element_at`` — n references per
    shingle position × ~(tokens−n) positions ≈ 350 copies per row at
    n=8, measured 43 s for one 5000-doc pass at sf0.1. A lambda VARIABLE
    cannot be inlined, so the bound form evaluates tokenization once per
    row (same pass: 0.6 s). Values are bit-identical — pure plan shape.
    """
    toks = _normalized_tokens(text_col)
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def _shingles_of(th):
        n_sh = F.size(th) - F.lit(n - 1)
        # guard, don't clamp: sequence(1, 0) is DESCENDING in Spark
        # ([1,0]), and element_at(.., 0) throws INVALID_INDEX_OF_ZERO —
        # docs shorter than n tokens must yield an empty shingle set
        return F.when(
            n_sh > 0,
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.xxhash64(
                    *[F.element_at(th, i + k) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))

    sh = F.element_at(
        F.transform(F.array(tok_hashes), _shingles_of), 1
    )
    return df.withColumn(out_col, F.array_distinct(sh))


def minhash_signatures(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_hashes: int = 64,
    out_col: str = "minhash",
    seed: int = 1,
) -> DataFrame:
    """MinHash signature in ONE pass over the shingle set.

    Each shingle (string or long) is xxhash64-ed exactly once to a 64-bit
    base hash; per-function values are ``xxhash64(base_hash, salt_i)`` —
    a fixed-width (16-byte input) JVM hash per function, so the expensive
    variable-length string hashing happens once, not ``num_hashes`` times
    (a naive per-function string re-hash measured ~6s/5k docs).

    ANSI-safe BY CONSTRUCTION: the previous affine mixing (``a_i*h + b_i``
    mod 2^64) relied on intentional long wraparound, which Spark 4's
    default ANSI mode rejects with ARITHMETIC_OVERFLOW on any session this
    engine didn't configure. xxhash64 is bit-mixing only — no overflowable
    arithmetic — so signatures work under ANSI-on and ANSI-off alike.

    Empty shingle sets get a null signature (excluded from candidate
    generation downstream).
    """
    salt_arr = F.array(*[F.lit(s) for s in _salts(num_hashes, seed)])
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    base_hashes = F.transform(F.col(shingle_col), lambda s: F.xxhash64(s))
    sig = F.aggregate(
        base_hashes,
        init,
        lambda acc, h: F.zip_with(
            acc, salt_arr, lambda m, salt: F.least(m, F.xxhash64(h, salt))
        ),
    )
    return df.withColumn(
        out_col, F.when(F.size(shingle_col) > 0, sig).otherwise(F.lit(None))
    )


def _band_table(
    df: DataFrame, id_col: str, sig_col: str, bands: int, num_hashes: int
) -> DataFrame:
    """(id, band_id, band_hash) rows: the signature split into ``bands``
    bands, each hashed with multi-arg xxhash64 over its element_at slots
    (no string concat, no size() calls)."""
    rpb = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(
                *[F.element_at(F.col(sig_col), b * rpb + i + 1) for i in range(rpb)]
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return df.select(
        id_col, F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    num_hashes: int = 64,
    max_bucket: int = 200,
    barrier: bool = True,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands, hash each band,
    docs sharing any ``(band_id, band_hash)`` bucket become candidate pairs.

    Returns distinct pairs ``(id_a, id_b)`` with ``id_a < id_b``. Pair
    expansion is a self-join per bucket via collect_list + explode of
    combinations, capped at ``max_bucket`` ids per bucket to bound the
    quadratic blow-up on degenerate buckets (scale guard: at 100 TB a hot
    bucket would otherwise produce trillions of pairs).

    Plan shape matters here: the signature projection is followed by a
    ``repartition`` exchange BEFORE the banding projection. Without the
    barrier, Catalyst's CollapseProject inlines the (expensive) 64-minhash
    expression into every one of the ~``bands`` references the banding
    expression makes — a measured 20x slowdown. With the barrier the
    signature is computed exactly once per row. Band hashes are multi-arg
    ``xxhash64`` over element_at slots (no string concat, no size() calls).
    Pass ``barrier=False`` when the input signature column is already
    materialized (cached/persisted) — the cache boundary blocks the inline
    and the extra exchange would be pure overhead.
    """
    sig_mat = df.select(id_col, sig_col).where(F.col(sig_col).isNotNull())
    if barrier:
        sig_mat = sig_mat.repartition(df.sparkSession.sparkContext.defaultParallelism)
    banded = _band_table(sig_mat, id_col, sig_col, bands, num_hashes)
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, max_bucket).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = (
        buckets.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    threshold: float = 0.7,
) -> DataFrame:
    """Verify candidate pairs with exact Jaccard over shingle sets.

    Joins the (small relative to corpus) candidate-pair table back to
    shingle sets twice; Jaccard via array_intersect/array_union sizes.
    Returns ``(id_a, id_b, jaccard)`` for pairs >= threshold.
    """
    a = shingled.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_plan(
    threshold: float,
    target_recall: float = 0.95,
    max_hashes: int = 256,
    fp_similarity: float | None = None,
    min_rows: int = 2,
    max_fp: float | None = None,
) -> dict:
    """Choose the MinHash-LSH banding (round 11, VERDICT r10 item #3):
    the smallest signature (``num_hashes = bands × rows``) whose
    candidate-recall curve ``P(candidate | s) = 1 − (1 − s^rows)^bands``
    reaches ``target_recall`` at ``s = threshold``, tie-broken toward
    the LOWEST false-positive rate at a clearly-below-threshold
    similarity (default ``threshold / 2``). The minhash stage is the
    dominant cost of a curation pipeline (~50% of prepare_corpus wall,
    linear in num_hashes), and the fixed 64-hash/16-band default
    over-pays at most thresholds — e.g. at threshold 0.5 a 32-hash
    16×2 plan already has recall 0.990 with HALF the signature cost.

    Pure arithmetic — runs on the driver at plan time, nothing
    distributed. Raises when ``target_recall`` is unreachable within
    ``max_hashes`` (pathological threshold/recall combinations deserve
    a loud error, not a silently under-recalling plan).

    ``min_rows`` (default 2) floors the band width: a 1-row band
    buckets documents on a RAW single minhash value, whose collision
    probability is the similarity itself — 1 − (1 − s)^b candidates at
    every s, mega-buckets and near-quadratic verify volume at corpus
    scale. Any single-row plan that looks cheapest by signature size
    pays it all back (and more) in the candidate join, so the planner
    refuses it unless explicitly allowed. ``max_fp`` optionally makes
    the low-similarity candidate rate a hard constraint instead of a
    tie-break (expensive to satisfy for low thresholds — the S-curve's
    width shrinks only as rows grows, which multiplies bands for the
    same recall).

    Returns ``{"bands", "rows", "num_hashes", "recall_at_threshold",
    "fp_at_low", "low_similarity"}`` — pass directly as the ``plan=``
    of :func:`minhash_dedup` / :func:`minhash_dedup_transitive` /
    :func:`persist_dup_clusters` or ``neardup_plan=`` of
    :func:`~.pipeline.prepare_corpus`.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not (0.0 < target_recall < 1.0):
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}"
        )
    s_lo = threshold / 2.0 if fp_similarity is None else fp_similarity

    def curve(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s ** r) ** b

    for num_hashes in range(2, max_hashes + 1):
        best = None
        for rows in range(min_rows, num_hashes + 1):
            if num_hashes % rows:
                continue
            bands = num_hashes // rows
            rec = curve(threshold, bands, rows)
            if rec < target_recall:
                continue
            fp = curve(s_lo, bands, rows)
            if max_fp is not None and fp > max_fp:
                continue
            if best is None or fp < best[0]:
                best = (fp, bands, rows, rec)
        if best is not None:
            fp, bands, rows, rec = best
            return {
                "bands": bands,
                "rows": rows,
                "num_hashes": num_hashes,
                "recall_at_threshold": round(rec, 6),
                "fp_at_low": round(fp, 6),
                "low_similarity": round(s_lo, 6),
            }
    raise ValueError(
        f"no (bands, rows) plan with <= {max_hashes} hashes reaches "
        f"recall {target_recall} at threshold {threshold}"
    )


def _minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    scope: CacheScope | None,
    plan: dict | None,
    seed: int = 1,
) -> DataFrame:
    """Verified near-dup pairs ``(id_a, id_b, jaccard)`` of ``df``:
    shingle → sign → band → candidate pairs → exact Jaccard verify.
    ``plan`` (a :func:`lsh_plan` dict) overrides ``num_hashes``/``bands``.

    The ``(id, shingles, minhash)`` relation is persisted in ``scope``
    (``df.persist()`` when ``scope`` is None) ONCE: it feeds the banding
    branch and both sides of the Jaccard join-back (3 recomputes
    otherwise), and the cache boundary blocks CollapseProject from
    inlining the signature expression into the banding references, so
    the band stage needs no exchange barrier. Shingle HASHES, not
    strings: set semantics only, ~5x cheaper to build."""
    if plan is not None:
        num_hashes, bands = plan["num_hashes"], plan["bands"]
    sh = persist_in(
        scope,
        minhash_signatures(
            shingle_hashes(ensure_parallelism(df), text_col, n=n),
            num_hashes=num_hashes,
            seed=seed,
        ).select(id_col, "shingles", "minhash"),
    )
    pairs = lsh_candidate_pairs(
        sh, id_col, bands=bands, num_hashes=num_hashes, barrier=False
    )
    return jaccard_verify(pairs, sh, id_col, threshold=threshold)


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    scope: CacheScope | None = None,
    plan: dict | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup removal: shingle → sign → band →
    candidate pairs → Jaccard verify → single-hop survivors.

    Survivor rule: within each verified near-dup pair, the smaller id wins;
    a doc is dropped if it appears as the larger id of any verified pair
    (single-hop, which matches common LSH dedup practice, and needs no
    iterative rounds). :func:`minhash_dedup_transitive` keeps one doc per
    connected component instead.

    ``plan=`` (a :func:`lsh_plan` dict) overrides ``num_hashes``/
    ``bands`` with the recall-targeted banding; the exact-Jaccard
    verify step makes any plan CORRECT — the plan only moves the
    band-stage recall/cost point.
    """
    verified = _minhash_verified_pairs(
        df, id_col, text_col, n, num_hashes, bands, threshold, scope, plan
    )
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_dedup_transitive(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    scope: CacheScope | None = None,
    plan: dict | None = None,
) -> DataFrame:
    """:func:`minhash_dedup` with FULL transitive-closure survivor
    semantics: verified near-dup pairs feed connected components
    (:func:`duplicate_clusters`), and only each cluster's minimum id
    survives. Where the single-hop rule can drop a doc via an
    already-dropped middleman yet keep two docs that are only connected
    THROUGH it, the cluster rule keeps exactly one representative per
    connected group — the Lee-et-al./SlimPajama convention.

    Costs a big-star CC (O(log² n) rounds, one job each) over the
    (sparse) verified pair relation on top of minhash_dedup's pipeline;
    pair volume, not corpus volume, drives the extra work. ``plan=`` (a
    :func:`lsh_plan` dict) overrides ``num_hashes``/``bands``."""
    verified = _minhash_verified_pairs(
        df, id_col, text_col, n, num_hashes, bands, threshold, scope, plan
    )
    return dedup_by_clusters(df, id_col, duplicate_clusters(verified))


def _pin(df: DataFrame, reliable: bool) -> DataFrame:
    """Materialize ``df`` and truncate its lineage. ``reliable=False``
    (default) uses ``localCheckpoint`` — executor-local blocks, cheapest,
    but NOT fault-tolerant: losing an executor mid-job on a real cluster
    fails the job with no replay path (guide §5). ``reliable=True`` uses
    ``checkpoint()`` to the SparkContext checkpoint dir (caller must have
    called ``sc.setCheckpointDir``), surviving executor loss — the right
    posture for multi-hour 100 TB CC runs; costs a write+read of the
    pinned relation per round."""
    return df.checkpoint() if reliable else df.localCheckpoint()


def _fingerprint(u: str, v: str) -> tuple:
    """Aggregate columns ``(n, h)``: row count and the sum of
    ``xxhash64(u, v)`` over the rows, an order-insensitive fingerprint of
    a pair relation. The hashes are summed as ``decimal(28,0)`` (a
    ``decimal(38,0)`` sum): a long sum wraps past 2^63, which an ANSI
    session rejects with ARITHMETIC_OVERFLOW, and the decimal keeps all 64
    bits of every hash for up to ~10^19 rows."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(u, v).cast("decimal(28,0)")), F.lit(0)
        ).alias("h"),
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iter: int = 30,
    stats: dict | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Transitive near-dup clusters from a pair relation: connected
    components via alternating large-star / small-star (Kiveris et al.,
    *Connected Components in MapReduce and Beyond*, SoCC'14).

    The rounds rewrite the EDGE set in place, reshaping it toward one star
    per component, so the working set decays as components collapse:

    - large-star: every node hands its LARGER neighbors to the minimum of
      its neighborhood (incl. itself) — keeps components connected while
      replacing long chains with pointers toward small ids.
    - small-star: every node points its smaller-or-equal neighbors (and
      itself) at the neighborhood minimum — flattens what large-star left.

    Both steps are groupBy-join pairs on node id; provably converge in
    O(log² n) rounds (O(log n) observed). At convergence every edge is
    ``(node → component-min)``.

    Convergence is detected by the edge set's (count, hash-sum)
    fingerprint (:func:`_fingerprint`) repeating between two rounds, so a
    fingerprint collision (~2^-64 per round) would stop the loop early.
    Each round is ONE job: the fingerprint is an ``Observation`` on the
    round's checkpoint. A run that has not converged after ``max_iter``
    rounds raises ``RuntimeError`` — a silently over-split clustering
    would let duplicates survive dedup undetected. ``stats`` (a dict)
    receives ``rounds`` and ``converged``, also when the run raises.

    ``reliable_checkpoint=True`` swaps every lineage pin (pair base,
    per-round edge set, final labels) from executor-local
    ``localCheckpoint`` to fault-tolerant ``checkpoint()`` — see
    :func:`_pin`; required posture for multi-hour 100 TB runs (an
    executor loss mid-loop otherwise fails the whole job). Construction
    is EAGER either way: building the plan runs the CC rounds.

    Returns ``(node, cluster)`` where cluster = min node id of the
    component. Every node appearing in ``pairs`` gets a label (a node
    whose only pairs are self-pairs labels itself); nodes not in any pair
    are absent (they're their own singleton clusters by definition).
    """
    from pyspark.sql import Observation

    # Materialize the NARROW pair projection once (round 11, guide §1.2/§2.4):
    # `nodes` and `edges` both consume `pairs`, and when the caller hands an
    # unpersisted relation (the common shape: jaccard_verify over an LSH
    # band join) each consumer re-ran the entire verify pipeline. One
    # localCheckpoint of the distinct (u, v) base makes both derivations
    # checkpoint-local scans.
    base = _pin(
        pairs.select(F.col(id_col_a).alias("u"), F.col(id_col_b).alias("v"))
        .distinct(),
        reliable_checkpoint,
    )
    nodes = base.select(F.col("u").alias("node")).union(
        base.select(F.col("v").alias("node"))
    ).distinct()
    edges = base.where(F.col("u") != F.col("v"))

    sig = tuple(edges.agg(*_fingerprint("u", "v")).first())
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star ----------------------------------------------
        und = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # No intermediate .distinct() on large/directed (round 11, guide
        # §2.4 — remove shuffles outright): small-star's per-node min is
        # multiplicity-blind and the round's FINAL distinct restores set
        # semantics, so each round's edge SET (and therefore the
        # convergence signature and the final labels) is bit-identical
        # while two full-relation shuffles per round disappear.
        large = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # ---- small-star ----------------------------------------------
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smins = directed.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            directed.join(smins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # Fold the convergence signature into the checkpoint job itself
        # (round 11, guide §1.5/§2.4): observation metrics fire on the
        # eager localCheckpoint action, so each round runs ONE job, not a
        # checkpoint + a separate signature aggregate.
        obs = Observation()
        edges = _pin(small.observe(obs, *_fingerprint("u", "v")), reliable_checkpoint)
        got = obs.get
        new_sig = (got["n"], got["h"])
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    # converged: edges are (node -> root); add the roots themselves, plus
    # self-labels for nodes whose only pairs were self-pairs
    labeled = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("cluster"))
        .union(
            edges.select(F.col("v").alias("node"), F.col("v").alias("cluster"))
        )
        .distinct()
    )
    singletons = nodes.join(labeled, "node", "left_anti").select(
        "node", F.col("node").alias("cluster")
    )
    return _pin(labeled.union(singletons), reliable_checkpoint)


def merge_into_clusters(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iter: int = 20,
    scope: CacheScope | None = None,
) -> DataFrame:
    """INCREMENTAL connected-component maintenance: fold a batch of new
    near-dup pairs into an existing ``(node, cluster)`` labeling without
    re-clustering the corpus — the 100 TB answer to "a new crawl shard
    arrived" (re-running CC over the full pair history per batch is the
    thing this avoids).

    Correctness leans on the contraction property: an existing labeling
    is a CONTRACTION of the historical pair graph, so running CC over
    (node→cluster label edges of the AFFECTED components) ∪ (new pairs)
    yields exactly the labels a full recompute over history ∪ new pairs
    would — components untouched by the batch pass through unchanged
    (their labels never enter the subgraph). Affected = components
    containing any endpoint of a new pair, found with two semi-joins.

    Cost: two semi-joins on the labeling + big-star CC over the
    (affected ∪ new) subgraph — O(Δ + touched components), never
    O(corpus). Cluster ids remain the component-minimum node id (a merge
    can LOWER a surviving component's id — same convention as a full
    recompute). Returns the complete new ``(node, cluster)`` relation.

    EAGER for scope-less callers: the labels localCheckpoint (and the
    big-star rounds it feeds) run jobs at construction time.
    """
    # labels is consumed four times (two semi-joins, the anti-join, and
    # the subgraph edges); scope-less callers get a localCheckpoint
    # (round 11, guide §2.4) so an expensive labeling lineage (e.g. a
    # fresh big-star run) is materialized once, not four times
    labels = (
        persist_in(scope, labels) if scope is not None else labels.localCheckpoint()
    )
    batch_nodes = (
        new_pairs.select(F.col(id_col_a).alias("node"))
        .union(new_pairs.select(F.col(id_col_b).alias("node")))
        .distinct()
    )
    aff_clusters = (
        labels.join(batch_nodes, "node", "left_semi")
        .select("cluster")
        .distinct()
    )
    aff = labels.join(aff_clusters, "cluster", "left_semi")
    sub_edges = (
        aff.select(F.col("node").alias(id_col_a), F.col("cluster").alias(id_col_b))
        .where(F.col(id_col_a) != F.col(id_col_b))
        .unionByName(new_pairs.select(id_col_a, id_col_b))
    )
    # re-add affected singletons (node == cluster rows carry no edge) via
    # self-pairs so every affected node keeps a label even if the batch
    # didn't link it
    sub_edges = sub_edges.unionByName(
        aff.select(F.col("node").alias(id_col_a), F.col("node").alias(id_col_b))
    )
    relabeled = duplicate_clusters(
        sub_edges, id_col_a=id_col_a, id_col_b=id_col_b, max_iter=max_iter
    )
    untouched = labels.join(aff_clusters, "cluster", "left_anti")
    return untouched.select("node", "cluster").unionByName(
        relabeled.select("node", "cluster")
    )


def dedup_by_clusters(df: DataFrame, id_col: str, clusters: DataFrame) -> DataFrame:
    """Keep one representative (the min-id cluster label) per duplicate
    cluster; rows not in any cluster pass through."""
    losers = clusters.where(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 8,
    max_bucket: int = 500,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table random-hyperplane
    LSH self-join for candidates, exact cosine verification.

    Candidate generation mirrors :func:`similarity.lsh_topk` but
    corpus-vs-corpus: rows sharing a bucket in ANY of ``tables`` hash
    tables pair up (bucket size capped — at 100 TB a degenerate bucket
    would otherwise go quadratic). High thresholds (0.9+) are exactly the
    regime where hyperplane LSH recall is strongest (near-parallel vectors
    agree on almost every hyperplane).

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b``, cosine >=
    threshold.
    """
    from .similarity import _as_double, dot, l2_norm_sq, lsh_bucket, random_hyperplanes

    buckets = []
    for t in range(tables):
        planes = random_hyperplanes(dim, bits, 42 + 1000 * t)
        buckets.append(
            F.struct(F.lit(t).alias("t"), lsh_bucket(F.col(vec_col), planes).alias("b"))
        )
    banded = df.select(
        id_col, F.explode(F.array(*buckets)).alias("__tb")
    ).select(id_col, "__tb")
    grouped = (
        banded.groupBy("__tb")
        .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, max_bucket).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = (
        grouped.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    a = df.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("__va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("__vb")
    )
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine",
            dot(F.col("__va"), F.col("__vb"))
            / (F.sqrt(l2_norm_sq(F.col("__va"))) * F.sqrt(l2_norm_sq(F.col("__vb")))),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
    return scored


def embedding_neardup_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
) -> DataFrame:
    """End-to-end embedding dedup: near-dup pairs → transitive clusters →
    keep the min-id representative per cluster."""
    pairs = embedding_neardup_pairs(df, id_col, vec_col, dim, threshold)
    clusters = duplicate_clusters(pairs)
    return dedup_by_clusters(df, id_col, clusters)


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash",
    bits: int = 64,
    algo: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash: per token, xxhash64 → each bit votes ±1; signature bit
    b is 1 iff the vote sum is positive. All built-in array expressions.

    Near-dup candidates: docs whose signatures match on any 16-bit band
    (use :func:`simhash_bands`).

    ``algo="md5"`` swaps the token hash for the low 60 bits of md5 (still
    a JVM codegen expression — md5 → conv base16→10 → long), which a SQL
    oracle can replicate (`CAST('0x'||substr(md5(t),1,15) AS BIGINT)`);
    use ``bits<=60`` with it. xxhash64 stays the fast default (~3x).
    """
    if algo == "md5":
        if bits > 60:
            raise ValueError("md5 token hash carries 60 usable bits")
        token_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")  # noqa: E731
    elif algo == "xxhash64":
        # single-arg lambda: F.transform inspects arity and xxhash64's
        # varargs signature is rejected as a higher-order function
        token_hash = lambda t: F.xxhash64(t)  # noqa: E731
    else:
        raise ValueError(f"unknown algo {algo!r}")
    toks = _normalized_tokens(text_col)
    df = df.withColumn("__hashes", F.transform(toks, token_hash))
    # ONE fused fold over the token hashes with an array-of-counts
    # accumulator (the ±1 vote sum reduces to set-bit counting: bit b is
    # 1 iff 2·Σ((h>>b)&1) > T). Higher-order folds run interpreted, so
    # fold-frame count dominates: 64 per-bit folds each re-walking the
    # token array cost ~1.85× this single pass (measured at sf0.1:
    # 2.9 s → 1.6 s). shiftright/shiftleft go through call_function —
    # the Python DSL wrappers demand literal shift amounts, but the
    # underlying SQL expressions take any column, including a lambda
    # variable. Arithmetic shift sign-extends, so (h>>b)&1 extracts bit
    # b correctly for negative xxhash64 values too, and shiftleft(1L,63)
    # wraps to the signed top bit exactly like the old -(1<<63) literal.
    n_tok = F.size(F.col("__hashes"))
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    counts = F.aggregate(
        F.col("__hashes"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda c, i: c
            + F.call_function("shiftright", h, i)
            .bitwiseAND(F.lit(1))
            .cast("int"),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            counts,
            idx,
            lambda c, i: F.when(
                c * 2 > n_tok,
                F.call_function("shiftleft", F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )
    # null text → null token array → null fold; the per-bit folds used
    # to yield 0 there, keep that contract
    return df.withColumn(
        out_col, F.coalesce(sig, F.lit(0).cast("long"))
    ).drop("__hashes")


def simhash_bands(df: DataFrame, id_col: str, sig_col: str = "simhash") -> DataFrame:
    """Explode a 64-bit simhash into 4×16-bit band keys for blocking:
    two docs within Hamming distance 3 share at least one band."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col(sig_col), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_key"),
            )
            for b in range(4)
        ]
    )
    return df.select(id_col, sig_col, F.explode(bands).alias("band")).select(
        id_col, sig_col, "band.band_id", "band.band_key"
    )


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Drop rows of ``new_df`` whose text content already exists in
    ``corpus_df`` — the incremental-ingest dedup step: each new batch is
    checked against the accumulated dataset, not against itself.

    Matching is by md5 of the (optionally whitespace-trimmed) content, so the
    join carries one 32-char key per row instead of full documents. Executes
    as a LEFT ANTI join — shuffle on the hash only; with AQE the corpus side
    broadcasts when the *distinct hash set* is small. At 100 TB the corpus
    hash column is the thing to persist (a slim `content_hashes` table
    bucketed by hash) so each incremental batch joins against ~3% of the
    corpus bytes rather than re-hashing it.
    """
    content = F.trim(F.col(text_col)) if normalize else F.col(text_col)
    h = F.md5(content)
    corpus_hashes = corpus_df.select(h.alias("__h")).distinct()
    return (
        new_df.withColumn("__h", h)
        .join(corpus_hashes, "__h", "left_anti")
        .drop("__h")
    )


def neardup_pairs_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    scope: CacheScope | None = None,
    plan: dict | None = None,
) -> DataFrame:
    """Verified near-dup pairs between a NEW batch and an existing corpus:
    ``(new_id, corpus_id, jaccard)`` for every new row whose n-shingle
    Jaccard with some corpus row reaches ``threshold``. The incremental
    complement of the self-join MinHash pipeline — a new batch is checked
    against the accumulated dataset without re-pairing the corpus with
    itself.

    Plan: both sides shingle-hash → minhash → band; the candidate join is
    new-bands ⋈ corpus-bands on (band_id, band_hash), so per-batch cost is
    |new|·bands plus matched-bucket expansion — independent of corpus
    self-pair count. Candidates are verified with EXACT Jaccard over the
    shingle-hash sets. At 100 TB persist the corpus band table and
    shingle-hash table bucketed by band_hash: each batch becomes a
    bucket-pruned hash join instead of a corpus re-scan/re-hash.
    ``plan=`` (a :func:`lsh_plan` dict) overrides ``num_hashes``/``bands``.
    """
    if plan is not None:
        num_hashes, bands = plan["num_hashes"], plan["bands"]

    def prep(df: DataFrame) -> DataFrame:
        return persist_in(
            scope,
            minhash_signatures(
                shingle_hashes(df, text_col, n=n), num_hashes=num_hashes
            ).select(id_col, "shingles", "minhash"),
        )

    new_sh, cor_sh = prep(new_df), prep(corpus_df)
    new_bands = _band_table(
        new_sh.where(F.col("minhash").isNotNull()), id_col, "minhash", bands, num_hashes
    ).withColumnRenamed(id_col, "new_id")
    cor_bands = _band_table(
        cor_sh.where(F.col("minhash").isNotNull()), id_col, "minhash", bands, num_hashes
    ).withColumnRenamed(id_col, "corpus_id")
    cands = (
        new_bands.join(cor_bands, ["band_id", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = new_sh.select(F.col(id_col).alias("new_id"), F.col("shingles").alias("__sh_n"))
    b = cor_sh.select(
        F.col(id_col).alias("corpus_id"), F.col("shingles").alias("__sh_c")
    )
    return (
        cands.join(a, "new_id")
        .join(b, "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_n", "__sh_c"))
            / F.size(F.array_union("__sh_n", "__sh_c")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )


def neardup_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    scope: CacheScope | None = None,
    plan: dict | None = None,
) -> DataFrame:
    """Rows of ``new_df`` surviving incremental near-dup dedup: drop every
    new row with a verified corpus near-duplicate (see
    :func:`neardup_pairs_against_corpus`), keep the rest. Pass ``scope``
    from long-lived callers (streaming sinks) so the persisted signature
    tables can be released after each batch materializes."""
    victims = neardup_pairs_against_corpus(
        new_df, corpus_df, id_col, text_col, n, num_hashes, bands, threshold,
        scope=scope, plan=plan,
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(victims, id_col, "left_anti")


def _flat_band_key(band_df: DataFrame, id_col: str, out_id: str) -> DataFrame:
    """Collapse (band_id, band_hash) into one join key: ``band_key =
    xxhash64(band_id, band_hash)``. A single-column key lets the persisted
    corpus band table be BUCKETED on exactly the probe join key, so the
    probe join reuses the on-disk clustering (bucketing on a column subset
    of a composite key can leave the two sides incompatibly partitioned)."""
    return band_df.select(
        F.col(id_col).alias(out_id),
        F.xxhash64("band_id", "band_hash").alias("band_key"),
    )


def persist_neardup_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    band_table: str = "neardup_bands",
    shingle_table: str = "neardup_shingles",
    n_buckets: int = 32,
    seed: int = 1,
    reuse_if_exists: bool = False,
) -> dict:
    """Materialize the CORPUS side of incremental near-dup detection on
    disk, so per-batch probes stop re-reading and re-hashing the corpus
    (the production form of :func:`neardup_pairs_against_corpus`, same
    pattern as the persisted BM25/IVF indexes):

    - ``band_table``  — (corpus_id, band_key) BUCKETED BY band_key: the
      candidate join clusters on the bucket layout, no corpus-side shuffle.
    - ``shingle_table`` — (corpus_id, shingles) bucketed by corpus_id for
      the exact-Jaccard verify join-back.

    Shingling/minhashing the corpus happens ONCE here, at index-build time;
    afterwards each batch costs |batch| hashing + a bucket-pruned join.
    Rebuild-free appends: new accepted batches can append their own bands/
    shingles to the same tables (hash-bucket layout is append-stable).

    Returns the index parameters; :func:`neardup_pairs_against_index` must
    be called with the SAME (n, num_hashes, bands, seed) — enforced via the
    returned dict.

    ``reuse_if_exists=True`` skips the build when BOTH tables are already
    registered in this session's catalog — the steady-state path (an index
    is built once, then probed by every batch). The caller owns naming:
    encode the corpus identity in the table names so a reused index can
    never refer to a different corpus.
    """
    spark = corpus_df.sparkSession
    from ..sources.io import write_bucketed_table

    params = {
        "n": n, "num_hashes": num_hashes, "bands": bands, "seed": seed,
        "band_table": band_table, "shingle_table": shingle_table,
        "n_buckets": n_buckets,
    }
    if (
        reuse_if_exists
        and spark.catalog.tableExists(band_table)
        and spark.catalog.tableExists(shingle_table)
    ):
        return params

    scope = CacheScope()
    sh = persist_in(
        scope,
        minhash_signatures(
            shingle_hashes(corpus_df, text_col, n=n),
            num_hashes=num_hashes,
            seed=seed,
        ).select(id_col, "shingles", "minhash"),
    )
    try:
        band = _flat_band_key(
            _band_table(
                sh.where(F.col("minhash").isNotNull()),
                id_col, "minhash", bands, num_hashes,
            ),
            id_col,
            "corpus_id",
        )
        write_bucketed_table(
            spark, band_table, band, "band_key", n_buckets, sort_cols="band_key"
        )
        write_bucketed_table(
            spark,
            shingle_table,
            sh.select(F.col(id_col).alias("corpus_id"), "shingles"),
            "corpus_id",
            n_buckets,
        )
    finally:
        scope.unpersist()
    return params


def neardup_pairs_against_index(
    new_df: DataFrame,
    id_col: str,
    index: dict,
    text_col: str = "text",
    threshold: float = 0.7,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Verified near-dup pairs (new_id, corpus_id, jaccard) of a NEW batch
    against a :func:`persist_neardup_index` corpus index.

    Plan: only the BATCH is shingled/minhashed/banded; candidates come from
    an equi-join of the batch's band keys against the bucketed corpus band
    table (corpus side: bucket-local read, NO exchange — plan-tested), and
    the exact-Jaccard verify joins the bucketed corpus shingle table on
    corpus_id. Per-batch cost therefore tracks the batch size; the corpus
    contributes only the matched buckets' rows.
    """
    spark = new_df.sparkSession
    n, num_hashes = index["n"], index["num_hashes"]
    bands, seed = index["bands"], index["seed"]
    new_sh = persist_in(
        scope,
        minhash_signatures(
            shingle_hashes(new_df, text_col, n=n),
            num_hashes=num_hashes,
            seed=seed,
        ).select(id_col, "shingles", "minhash"),
    )
    new_bands = _flat_band_key(
        _band_table(
            new_sh.where(F.col("minhash").isNotNull()),
            id_col, "minhash", bands, num_hashes,
        ),
        id_col,
        "new_id",
    )
    cor_bands = spark.table(index["band_table"])
    cands = (
        new_bands.join(cor_bands, "band_key")
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = new_sh.select(F.col(id_col).alias("new_id"), F.col("shingles").alias("__sh_n"))
    b = spark.table(index["shingle_table"]).select(
        "corpus_id", F.col("shingles").alias("__sh_c")
    )
    return (
        cands.join(a, "new_id")
        .join(b, "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_n", "__sh_c"))
            / F.size(F.array_union("__sh_n", "__sh_c")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )


def incremental_minhash_losers(
    df: DataFrame,
    id_col: str,
    index: dict,
    text_col: str = "text",
    threshold: float = 0.7,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-dup LOSER ids of a new batch for an INCREMENTAL corpus build
    (round 10, VERDICT r9 item #7): a batch doc loses when it
    verified-pairs with (a) ANY doc in the :func:`persist_neardup_index`
    corpus — the bucket-local probe — or (b) a smaller-id doc in the
    batch ITSELF — a batch-sized banded self-join. Both dirty sets
    derive from the SAME pre-filter batch relation, so a batch doc
    pairing only with an already-dropped batch doc is still dropped,
    exactly as the full-corpus single-hop rule would drop it.

    ONE signature build (persisted, shared by the probe banding, the
    self banding, and both verify join-backs); the corpus contributes
    only matched band buckets — per-batch cost tracks the batch, not
    the corpus.

    The CONTRACT is **corpus-always-wins, regardless of id order**: a
    batch doc that near-dups ANY indexed corpus doc loses, even when
    its id sorts BEFORE the corpus doc's (a full :func:`minhash_dedup`
    rebuild's smaller-id-wins rule would instead keep that batch doc
    and drop the corpus one). The corpus side of the index is already
    admitted and immutable here, so re-litigating it is wrong by design
    — that is what an incremental ingest means. Only within the batch
    itself does the usual smaller-id-wins rule apply. When batch ids
    all sort after corpus ids (the incremental-ingest id convention),
    the two rules coincide and the composition equals
    :func:`minhash_dedup` over corpus ∪ batch restricted to the batch.

    Returns distinct loser ids (one ``id_col`` column) for a single
    anti-join by the caller (the :func:`~.pipeline.prepare_corpus`
    ``neardup_index=`` stage).
    """
    spark = df.sparkSession
    n, num_hashes = index["n"], index["num_hashes"]
    bands, seed = index["bands"], index["seed"]
    sh = persist_in(
        scope,
        minhash_signatures(
            shingle_hashes(ensure_parallelism(df), text_col, n=n),
            num_hashes=num_hashes,
            seed=seed,
        ).select(id_col, "shingles", "minhash"),
    )
    new_bands = _flat_band_key(
        _band_table(
            sh.where(F.col("minhash").isNotNull()),
            id_col, "minhash", bands, num_hashes,
        ),
        id_col,
        "new_id",
    )
    cands = (
        new_bands.join(spark.table(index["band_table"]), "band_key")
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = sh.select(
        F.col(id_col).alias("new_id"), F.col("shingles").alias("__sh_n")
    )
    b = spark.table(index["shingle_table"]).select(
        "corpus_id", F.col("shingles").alias("__sh_c")
    )
    idx_losers = (
        cands.join(a, "new_id")
        .join(b, "corpus_id")
        .where(
            F.size(F.array_intersect("__sh_n", "__sh_c"))
            / F.size(F.array_union("__sh_n", "__sh_c"))
            >= threshold
        )
        .select(F.col("new_id").alias(id_col))
    )
    self_pairs = lsh_candidate_pairs(
        sh, id_col, bands=bands, num_hashes=num_hashes, barrier=False
    )
    self_losers = jaccard_verify(
        self_pairs, sh, id_col, threshold=threshold
    ).select(F.col("id_b").alias(id_col))
    return idx_losers.unionByName(self_losers).distinct()


def append_neardup_index(
    accepted_df: DataFrame,
    id_col: str,
    index: dict,
    text_col: str = "text",
    scope: CacheScope | None = None,
) -> None:
    """Append an ACCEPTED batch's bands + shingles to a persisted near-dup
    index, so the index keeps covering the growing corpus without a
    rebuild. Hash-bucket layouts are append-stable: new files land in the
    bucket their keys hash to, and subsequent probes keep joining
    bucket-locally. (Corpus-global stats don't exist here, unlike BM25's
    idf — the index is exactly as rebuild-free as the data structure.)"""
    sh = persist_in(
        scope,
        minhash_signatures(
            shingle_hashes(accepted_df, text_col, n=index["n"]),
            num_hashes=index["num_hashes"],
            seed=index["seed"],
        ).select(id_col, "shingles", "minhash"),
    )
    band = _flat_band_key(
        _band_table(
            sh.where(F.col("minhash").isNotNull()),
            id_col, "minhash", index["bands"], index["num_hashes"],
        ),
        id_col,
        "corpus_id",
    )
    nb = index["n_buckets"]
    # Same one-file-per-bucket repartition as write_bucketed_table: an
    # append otherwise adds (input partitions × touched buckets) files.
    (
        band.repartition(nb, F.col("band_key"))
        .write.format("parquet").mode("append")
        .bucketBy(nb, "band_key").sortBy("band_key")
        .saveAsTable(index["band_table"])
    )
    (
        sh.select(F.col(id_col).alias("corpus_id"), "shingles")
        .repartition(nb, F.col("corpus_id"))
        .write.format("parquet").mode("append")
        .bucketBy(nb, "corpus_id")
        .saveAsTable(index["shingle_table"])
    )


def persist_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 1,
    cluster_table: str = "dup_clusters",
    pair_table: str | None = "dup_pairs",
    n_buckets: int = 32,
    reuse_if_exists: bool = False,
    plan: dict | None = None,
) -> dict:
    """Materialize the near-dup CLUSTER LABELING once (round 11, VERDICT
    r10 item #1): the minhash → band → verify → big-star-CC sub-plan is
    the single most REUSED relation in a curation stack —
    :func:`dup_weighted_sample`, :func:`dedup_by_clusters_prefer`,
    :func:`cluster_aware_split`, cluster-size rollups and
    :func:`cross_source_dup_matrix` all consume it, and rebuilding it
    per consumer multiplies the most expensive stage of the pipeline by
    the number of dashboards reading it. Build it ONCE here, bucketed,
    and pass ``spark.table(index["cluster_table"])`` as each consumer's
    ``clusters=``.

    - ``cluster_table`` — ``(node, cluster)`` BUCKETED BY ``node``: every
      consumer joins it to the corpus on the id, so the labeling side of
      that join never shuffles again.
    - ``pair_table`` — ``(id_a, id_b, jaccard)`` verified pairs BUCKETED
      BY ``id_a`` (``None`` skips it): the raw-pair consumers
      (:func:`cross_source_dup_matrix`, pair-level diagnostics) read
      this instead of re-running verify.

    Maintenance: :func:`append_dup_clusters` folds a new batch's
    verified pairs in via :func:`merge_into_clusters` —
    O(Δ + touched components), never a corpus re-cluster.

    ``reuse_if_exists=True`` skips the build when the tables already
    exist (steady state). The caller owns naming — encode corpus
    identity in the table names. Returns the index parameters dict the
    loaders and the appender take.
    """
    spark = df.sparkSession
    from ..sources.io import write_bucketed_table

    if plan is not None:
        num_hashes, bands = plan["num_hashes"], plan["bands"]
    params = {
        "n": n, "num_hashes": num_hashes, "bands": bands,
        "threshold": threshold, "seed": seed,
        "cluster_table": cluster_table, "pair_table": pair_table,
        "n_buckets": n_buckets,
    }
    if (
        reuse_if_exists
        and spark.catalog.tableExists(cluster_table)
        and (pair_table is None or spark.catalog.tableExists(pair_table))
    ):
        return params

    scope = CacheScope()
    try:
        verified = persist_in(
            scope,
            _minhash_verified_pairs(
                df, id_col, text_col, n, num_hashes, bands, threshold,
                scope, None, seed,
            ),
        )
        labels = duplicate_clusters(verified)
        write_bucketed_table(
            spark, cluster_table, labels, "node", n_buckets,
            sort_cols="node",
        )
        if pair_table is not None:
            write_bucketed_table(
                spark, pair_table, verified, "id_a", n_buckets,
            )
    finally:
        scope.unpersist()
    return params


def load_dup_clusters(spark, index: dict) -> DataFrame:
    """The persisted ``(node, cluster)`` labeling of
    :func:`persist_dup_clusters` — pass as any consumer's ``clusters=``."""
    return spark.table(index["cluster_table"])


def load_dup_pairs(spark, index: dict) -> DataFrame:
    """The persisted ``(id_a, id_b, jaccard)`` verified pairs of
    :func:`persist_dup_clusters` (requires ``pair_table`` was kept)."""
    if not index.get("pair_table"):
        raise ValueError(
            "persist_dup_clusters was built with pair_table=None; "
            "rebuild with a pair_table to load verified pairs"
        )
    return spark.table(index["pair_table"])


def append_dup_clusters(new_pairs: DataFrame, index: dict) -> None:
    """Fold a batch of NEW verified near-dup pairs into the persisted
    labeling of :func:`persist_dup_clusters` without re-clustering the
    corpus: :func:`merge_into_clusters` relabels only the affected
    components (O(Δ + touched), contraction-exact vs a full recompute),
    then the bucketed ``cluster_table`` is rewritten from a
    ``localCheckpoint`` of the merge (the checkpoint breaks the
    read-while-overwrite cycle — the merge reads the table being
    replaced). New pairs append to ``pair_table`` bucket-locally, so
    the pair history stays complete for pair-level consumers.

    The labeling rewrite is O(|labeling|), not O(corpus): only docs
    with at least one near-dup carry a row. At 100 TB scale with a
    labeling too large to rewrite per batch, partition ``cluster_table``
    by a stable hash of ``cluster`` and rewrite only affected
    partitions — the merge already tells you which clusters moved.
    """
    spark = new_pairs.sparkSession
    from ..sources.io import write_bucketed_table

    scope = CacheScope()
    try:
        labels = spark.table(index["cluster_table"])
        merged = merge_into_clusters(
            labels, new_pairs, scope=scope
        ).localCheckpoint()
    finally:
        scope.unpersist()
    nb = index["n_buckets"]
    write_bucketed_table(
        spark, index["cluster_table"], merged, "node", nb, sort_cols="node"
    )
    if index.get("pair_table"):
        (
            new_pairs.select("id_a", "id_b", "jaccard")
            .repartition(nb, F.col("id_a"))
            .write.format("parquet").mode("append")
            .bucketBy(nb, "id_a")
            .saveAsTable(index["pair_table"])
        )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    out_col: str | None = None,
    sep: str = r"\n\s*\n",
    joiner: str = "\n\n",
    normalize: bool = True,
) -> DataFrame:
    """CORPUS-WIDE duplicated-paragraph removal (the RefinedWeb/CCNet LLM
    pre-training step): boilerplate paragraphs repeated across documents —
    headers, footers, license blocks — are kept only at their FIRST
    occurrence (ordered by ``(id, position)``) and dropped everywhere else;
    each document is reassembled from its surviving paragraphs in order.

    ``normalize`` matches paragraphs on whitespace-collapsed lowercase md5
    (formatting noise doesn't defeat the dedup). Documents whose every
    paragraph was seen earlier come back with an empty string (callers
    typically drop them).

    Scale: one posexplode (no shuffle), ONE shuffle on the paragraph hash
    for the global keep-first window, one groupBy(id) to reassemble —
    paragraph text itself rides the shuffles, so at 100 TB the hash shuffle
    carries the corpus bytes once (unavoidable: the survivors' text is
    needed for reassembly). Returns the input columns with ``out_col``
    (default: replace ``text_col``) plus ``n_paras_kept``/``n_paras_total``.
    """
    out_col = out_col or text_col
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).where(F.trim("para") != "")
    norm = (
        F.lower(F.trim(F.regexp_replace("para", r"\s+", " ")))
        if normalize
        else F.col("para")
    )
    paras = paras.withColumn("__k", F.md5(norm))
    w = Window.partitionBy("__k").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    kept = (
        paras.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__k")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            joiner,
        ).alias("__out"),
        F.count("*").alias("n_paras_kept"),
    )
    totals = paras.groupBy(id_col).agg(F.count("*").alias("n_paras_total"))
    return (
        df.drop(out_col)
        .join(reassembled, id_col, "left")
        .join(totals, id_col, "left")
        .withColumn(out_col, F.coalesce("__out", F.lit("")))
        .withColumn("n_paras_kept", F.coalesce("n_paras_kept", F.lit(0)))
        .withColumn("n_paras_total", F.coalesce("n_paras_total", F.lit(0)))
        .drop("__out")
    )


def contamination_flags(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Test-set DECONTAMINATION flags: which corpus documents share at
    least ``min_hits`` distinct word ``n``-grams with a benchmark/eval set
    (the standard pre-training hygiene step — GPT-3 style 8-gram overlap).

    Plan: both sides hash their n-grams (no n-gram strings materialized);
    the benchmark's distinct n-gram hash set — small by definition — is
    broadcast, so the check is a map-side semi-join over the corpus with a
    single groupBy(id) to count distinct hits. Set
    ``broadcast_benchmark=False`` for giant benchmark suites (falls back
    to a hash join on the n-gram hash).

    Returns ``(id_col, n_hits, contaminated)`` for EVERY input row
    (n_hits=0 → clean), so callers can audit matches before dropping.
    """
    doc_grams = shingle_hashes(df, text_col, n=n, out_col="__g").select(
        id_col, F.explode("__g").alias("__s")
    )
    bench_grams = (
        shingle_hashes(benchmark_df, bench_text_col, n=n, out_col="__g")
        .select(F.explode("__g").alias("__s"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        doc_grams.join(bench_grams, "__s")
        .groupBy(id_col)
        .agg(F.count_distinct("__s").alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Drop corpus rows flagged by :func:`contamination_flags` — the
    enforcement form of test-set decontamination."""
    dirty = (
        contamination_flags(
            df, benchmark_df, id_col, text_col, bench_text_col, n, min_hits
        )
        .where(F.col("contaminated"))
        .select(id_col)
    )
    return df.join(dirty, id_col, "left_anti")


def decontaminate_neardup(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    scope: CacheScope | None = None,
) -> DataFrame:
    """FUZZY test-set decontamination (round 6): drop corpus rows whose
    word-``n``-gram Jaccard against ANY benchmark document reaches
    ``threshold`` — the near-dup complement of the exact-8-gram
    :func:`decontaminate` (RefinedWeb/FineWeb run both: exact n-gram hits
    catch verbatim leakage, MinHash catches lightly-paraphrased leakage
    the exact pass misses).

    Scale shape: the corpus is shingled/signed/banded ONCE (same cached
    projection as minhash_dedup); the benchmark side is small by
    definition, so its band table BROADCASTS into the candidate join and
    its shingle sets broadcast into the exact-Jaccard verify — the corpus
    never self-joins and never shuffles for the probe. Default banding is
    32 bands x 2 rows, making recall at the 0.5 threshold structural
    (P(miss) ~= 1e-4), the same argument as the minhash_neardup_pairs
    oracle.
    """
    dirty = neardup_contamination_ids(
        df, benchmark_df, id_col, text_col, bench_text_col,
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        scope=scope,
    )
    return df.join(dirty, id_col, "left_anti")


def neardup_contamination_ids(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    scope: CacheScope | None = None,
) -> DataFrame:
    """FLAG form of :func:`decontaminate_neardup`: the distinct ``id_col``
    values whose word-``n``-gram Jaccard against any benchmark document
    reaches ``threshold`` — lets a caller union dirty-id sets from several
    doors (exact + fuzzy) and pay ONE anti-join over a pinned corpus
    instead of chaining filters that each re-evaluate the corpus lineage
    (pipeline.prepare_corpus does exactly that)."""
    corp = persist_in(
        scope,
        minhash_signatures(
            shingle_hashes(ensure_parallelism(df), text_col, n=n),
            num_hashes=num_hashes,
        ).select(id_col, "shingles", "minhash"),
    )
    bench = minhash_signatures(
        shingle_hashes(
            benchmark_df.select(F.col(bench_text_col).alias("__btext")),
            "__btext",
            n=n,
        ),
        num_hashes=num_hashes,
    ).select(
        F.xxhash64("__btext").alias("__bid"),
        F.col("shingles").alias("__bsh"),
        "minhash",
    )
    cbands = _band_table(corp, id_col, "minhash", bands, num_hashes)
    bbands = _band_table(
        bench.select("__bid", "minhash"), "__bid", "minhash", bands, num_hashes
    )
    cands = (
        cbands.join(F.broadcast(bbands), ["band_id", "band_hash"])
        .select(id_col, "__bid")
        .distinct()
    )
    verified = (
        cands.join(corp.select(id_col, "shingles"), id_col)
        .join(F.broadcast(bench.select("__bid", "__bsh")), "__bid")
        .withColumn(
            "__j",
            F.size(F.array_intersect("shingles", "__bsh"))
            / F.size(F.array_union("shingles", "__bsh")),
        )
        .where(F.col("__j") >= float(threshold))
        .select(id_col)
        .distinct()
    )
    return verified


def er_candidate_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_len: int = 3,
    max_edit: int = 2,
    max_block: int = 200,
) -> DataFrame:
    """Entity-resolution candidate matching: BLOCKING + bounded pairwise
    edit distance — the fuzzy-key dedup family (person/org name matching),
    complementing the content-hash and MinHash families.

    Names are normalized (lowercase, non-alphanumeric stripped, whitespace
    collapsed); records sharing a PREFIX or SUFFIX block key of
    ``block_len`` chars become candidates (two keys so a single edit at
    either end can't hide a match); candidates are verified with
    ``levenshtein(norm_a, norm_b) <= max_edit``. Never all-pairs: pair
    expansion is per block, capped at ``max_block`` ids (same skew guard as
    the LSH buckets). Returns ``(id_a, id_b, name_a, name_b, edit_dist)``
    with ``id_a < id_b``, deduplicated across the two block keys.
    """
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col(name_col)), r"[^a-z0-9 ]", "")),
        r"\s+",
        " ",
    )
    base = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name"),
        norm.alias("__norm"),
    ).where(F.length("__norm") >= block_len)
    keys = base.select(
        "__id", "__norm", "__name",
        F.explode(
            F.array(
                F.concat(F.lit("p:"), F.substring("__norm", 1, block_len)),
                F.concat(F.lit("s:"), F.substring("__norm", -block_len, block_len)),
            )
        ).alias("__bk"),
    )
    buckets = (
        keys.groupBy("__bk")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("__id", "__norm", "__name"))),
                1,
                max_block,
            ).alias("rs")
        )
        .where(F.size("rs") > 1)
    )
    pairs = (
        buckets.select(F.explode("rs").alias("a"), F.col("rs"))
        .select("a", F.explode("rs").alias("b"))
        .where(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
            F.col("a.__name").alias("name_a"), F.col("b.__name").alias("name_b"),
            F.col("a.__norm").alias("__na"), F.col("b.__norm").alias("__nb"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("edit_dist", F.levenshtein("__na", "__nb"))
        .where(F.col("edit_dist") <= max_edit)
        .select("id_a", "id_b", "name_a", "name_b", "edit_dist")
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication metric (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every document, the
    fraction of its ``n``-token windows (stride 1, occurrences not
    distinct) that appear at least ``min_count`` times ACROSS THE CORPUS —
    near 0 for original text, near 1 for documents that are stitched
    boilerplate. The distributed stand-in for suffix-array substring
    dedup: windows are hashed (multi-arg xxhash64 over token hashes, no
    strings materialized), counted corpus-wide, and joined back.

    Scale: the window table is ~|corpus tokens| rows of (id, hash) — one
    count shuffle + one join back, both on the hash; linear, no all-pairs.
    Docs shorter than ``n`` tokens get 0 spans and null ``dup_span_frac``.

    Returns the input plus ``n_spans``, ``n_dup_spans``, ``dup_span_frac``
    (rounded 4dp).
    """
    toks = _normalized_tokens(text_col)
    th = F.transform(toks, lambda t: F.xxhash64(t))

    def _spans_of(thb):
        # let-bound token-hash array (see shingle_hashes): a plain column
        # reference here would let CollapseProject inline the tokenizer
        # into every element_at — n copies per span position
        n_sp = F.size(thb) - F.lit(n - 1)
        return F.when(
            n_sp > 0,
            F.transform(
                F.sequence(F.lit(1), n_sp),
                lambda i: F.xxhash64(
                    *[F.element_at(thb, i + k) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))

    span_arr = F.element_at(F.transform(F.array(th), _spans_of), 1)
    spans = df.select(F.col(id_col), F.explode(span_arr).alias("__s"))
    counts = spans.groupBy("__s").agg(F.count("*").alias("__c"))
    per_doc = (
        spans.join(counts, "__s")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("__c") >= min_count, 1).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("n_spans", F.coalesce("n_spans", F.lit(0)).cast("long"))
        .withColumn("n_dup_spans", F.coalesce("n_dup_spans", F.lit(0)).cast("long"))
        .withColumn(
            "dup_span_frac",
            F.when(
                F.col("n_spans") > 0,
                F.round(F.col("n_dup_spans") / F.col("n_spans"), 4),
            ),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 10,
    out_col: str = "deduped_text",
) -> DataFrame:
    """Exact-substring duplicate REMOVAL — the second half of Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" that
    :func:`duplicate_span_stats` only measures: every ``n``-token window
    that occurs more than once corpus-wide keeps exactly its FIRST
    occurrence (global order ``(id, position)``); all later occurrences
    have their n token positions cut, and each document is reassembled
    from its surviving tokens in order (space-joined, normalized tokens —
    this is a training-corpus transform, not a display edit).

    The distributed stand-in for the paper's suffix-array pass: stride-1
    windows hash with nested xxhash64 over token hashes (no strings
    shuffled), a single count+min aggregate per span hash finds the first
    occurrence, and a positional anti-join cuts covered tokens. All four
    shuffles are linear in corpus token count — no all-pairs anywhere.

    Overlap semantics: a token is cut when ANY non-first duplicate window
    covers it, so abutting duplicated spans merge into one cut (the
    paper's behavior) and a cut may bite into an overlapping kept span.

    Returns ``id_col``, surviving-token counts and ``out_col`` (empty
    string when nothing survives — callers typically drop those rows).
    """
    toks = _normalized_tokens(text_col)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    hashed = df.select(
        F.col(id_col),
        F.col(text_col),
        toks.alias("__tk"),
    )

    def _spans_of(thb):
        # let-bound token-hash array (see shingle_hashes): a plain column
        # reference here would let CollapseProject inline the tokenizer
        # into every element_at — n copies per span position
        n_sp = F.size(thb) - F.lit(n - 1)
        return F.when(
            n_sp > 0,
            F.transform(
                F.sequence(F.lit(1), n_sp),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(
                        *[F.element_at(thb, i + k) for k in range(n)]
                    ).alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,h:long>>"))

    span_arr = F.element_at(F.transform(F.array(th), _spans_of), 1)
    spans = df.select(
        F.col(id_col), F.explode(span_arr).alias("__sp")
    ).select(id_col, F.col("__sp.pos").alias("__pos"), F.col("__sp.h").alias("__h"))
    firsts = spans.groupBy("__h").agg(
        F.count("*").alias("__c"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))).alias(
            "__first"
        ),
    )
    removed = (
        spans.join(firsts, "__h")
        .where(
            (F.col("__c") >= 2)
            & ~(
                (F.col(id_col) == F.col("__first.i"))
                & (F.col("__pos") == F.col("__first.p"))
            )
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.lit(n - 1))
            ).alias("__kill"),
        )
        .distinct()
    )
    tokens = hashed.select(
        id_col, F.posexplode("__tk").alias("__p0", "__w")
    ).select(id_col, (F.col("__p0") + 1).alias("__pos"), "__w")
    kept = tokens.join(
        removed,
        (tokens[id_col] == removed[id_col]) & (tokens.__pos == removed.__kill),
        "left_anti",
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count("*").alias("n_tokens_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__w"))),
                lambda s: s["__w"],
            ),
        ).alias(out_col),
    )
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .withColumn("n_tokens_kept", F.coalesce("n_tokens_kept", F.lit(0)).cast("long"))
        .withColumn(out_col, F.coalesce(out_col, F.lit("")))
    )


def setsim_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    SSJoin; Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06).

    Returns every pair ``(id_a, id_b, jaccard)`` with
    ``jaccard(tokens(a), tokens(b)) >= threshold`` — same results as a
    brute-force all-pairs scan, but candidate generation only joins on
    *prefix* tokens: with tokens globally ordered rarest-first, a set of
    size ``s`` needs only its first ``s - ceil(t*s) + 1`` tokens indexed;
    any pair meeting the threshold provably shares a prefix token (the
    smallest common token falls inside both prefixes, using
    ``|x| >= t*|y|`` which every qualifying pair satisfies).

    100 TB shape: candidate volume is driven by rare-token collisions,
    not corpus x corpus — the document-frequency ordering puts the most
    selective tokens in the prefix, the length filter
    (``t*s_a <= s_b <= s_a/t``) prunes at join time, and PPJoin's
    positional filter (Xiao et al. WWW'08) drops matches whose overlap
    upper bound ``1 + min(s_a - p_a, s_b - p_b)`` cannot reach the
    required ``t/(1+t) * (s_a+s_b)``; exactness holds because the
    smallest common token of any qualifying pair sits in both prefixes
    and satisfies the bound. Contrast ``lsh_candidate_pairs``
    (probabilistic recall) and ``q_ngram_jaccard_pairs`` (exact but
    joins on EVERY shingle): this is exact AND joins only on prefixes.

    ``shingle_n=None`` uses distinct word tokens; an int uses word
    n-gram shingles (same normalization as the MinHash family).
    """
    df = ensure_parallelism(df)
    if shingle_n is None:
        sets0 = df.select(
            F.col(id_col), F.array_distinct(_normalized_tokens(text_col)).alias("__tk")
        )
    else:
        sets0 = shingles(df, text_col, n=shingle_n, out_col="__tk").select(id_col, "__tk")
    sets0 = sets0.where(F.size("__tk") > 0)
    ex = sets0.select(id_col, F.explode("__tk").alias("__t"))
    dfreq = ex.groupBy("__t").agg(F.count("*").alias("__df"))
    # rarest-first global order, token string as tie-break; per-doc sort is
    # an array_sort over (df, token) structs — no window, one groupBy
    sorted_sets = (
        ex.join(dfreq, "__t")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__t"))),
                lambda s: s["__t"],
            ).alias("__tk")
        )
        .withColumn("__sz", F.size("__tk"))
        # -1e-9: float ceil(t*s) must never exceed the true integer ceiling
        # (0.7*20 = 14.000000000000002 -> ceil 15 would SHORTEN the prefix
        # and silently drop pairs); erring longer is always safe
        .withColumn(
            "__plen",
            (F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9)) + 1).cast("int"),
        )
    )
    # consumed three times (prefix explode + both verify sides) — persist
    # so tokenize/df-count/sort run once, not per consumer
    sorted_sets = persist_in(scope, sorted_sets)
    # posexplode: __p is the 1-based position of the prefix token within
    # the FULL sorted set (slice starts at element 1), feeding the
    # positional filter below
    prefix = sorted_sets.select(
        id_col, "__sz", F.posexplode(F.slice("__tk", 1, F.col("__plen"))).alias("__p0", "__t")
    ).select(id_col, "__sz", (F.col("__p0") + 1).alias("__p"), "__t")
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sa"), F.col("__p").alias("__pa"), "__t"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__sb"), F.col("__p").alias("__pb"), "__t"
    )
    # overlap needed for J >= t; -1e-9 keeps the float comparison from
    # excluding exact-boundary pairs
    min_overlap = F.lit(threshold / (1.0 + threshold)) * (F.col("__sa") + F.col("__sb")) - F.lit(1e-9)
    cand = (
        a.join(b, "__t")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__sb") >= F.lit(threshold) * F.col("__sa") - F.lit(1e-9))
            & (F.col("__sa") >= F.lit(threshold) * F.col("__sb") - F.lit(1e-9))
            # positional filter: valid overlap upper bound at the smallest
            # common token; a true pair always survives via that token
            & (F.lit(1) + F.least(F.col("__sa") - F.col("__pa"), F.col("__sb") - F.col("__pb"))
               >= min_overlap)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(
        cand, sorted_sets.select(id_col, F.col("__tk").alias("shingles")),
        id_col, "shingles", threshold,
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int | None = 3,
    scope: CacheScope | None = None,
) -> DataFrame:
    """EXACT asymmetric containment join: every ordered pair
    ``(id_a, id_b, containment)`` with
    ``|tokens(a) ∩ tokens(b)| / |tokens(a)| >= threshold`` and
    ``id_a != id_b`` — catches documents SUBSUMED by a longer one
    (quotes, excerpts, page-of-a-book), which symmetric Jaccard misses
    because the union is dominated by the big document.

    Prefix filtering is one-sided (Chaudhuri et al., SSJoin): only the
    CONTAINED side restricts to its rarest-first prefix of length
    ``|a| - ceil(t*|a|) + 1`` (if none of those tokens hits B, common
    tokens <= ceil(t|a|)-1 < t|a| — impossible); the containing side
    indexes all tokens. Candidate cost is prefix(a) x df(token), never
    corpus x corpus. Exact verification closes the loop.
    """
    df = ensure_parallelism(df)
    if shingle_n is None:
        sets0 = df.select(
            F.col(id_col), F.array_distinct(_normalized_tokens(text_col)).alias("__tk")
        )
    else:
        sets0 = shingles(df, text_col, n=shingle_n, out_col="__tk").select(id_col, "__tk")
    sets0 = sets0.where(F.size("__tk") > 0)
    ex = sets0.select(id_col, F.explode("__tk").alias("__t"))
    dfreq = ex.groupBy("__t").agg(F.count("*").alias("__df"))
    sorted_sets = (
        ex.join(dfreq, "__t")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__t"))),
                lambda s: s["__t"],
            ).alias("__tk")
        )
        .withColumn("__sz", F.size("__tk"))
        .withColumn(
            "__plen",
            (F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9)) + 1).cast("int"),
        )
    )
    sorted_sets = persist_in(scope, sorted_sets)
    a = sorted_sets.select(
        F.col(id_col).alias("id_a"),
        F.col("__sz").alias("__sa"),
        F.explode(F.slice("__tk", 1, F.col("__plen"))).alias("__t"),
    )
    # containing side indexes ALL tokens — no symmetric-prefix guarantee
    b = sorted_sets.select(
        F.col(id_col).alias("id_b"), F.explode("__tk").alias("__t")
    )
    cand = (
        a.join(b, "__t")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "__sa")
        .distinct()
    )
    ta = sorted_sets.select(F.col(id_col).alias("id_a"), F.col("__tk").alias("__ka"))
    tb = sorted_sets.select(F.col(id_col).alias("id_b"), F.col("__tk").alias("__kb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "containment",
            F.round(F.size(F.array_intersect("__ka", "__kb")) / F.col("__sa"), 6),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def corpus_overlap_stats(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram COVERAGE of corpus B in corpus A: for each B
    document, what fraction of its distinct word n-grams also appear
    anywhere in A — the corpus-overlap audit behind dataset-mixing and
    leakage reports (a coarser, quantitative cousin of the 8-gram
    decontamination flag).

    A's side collapses to a DISTINCT n-gram hash set first (bounded by
    vocabulary, not corpus size) and the check is a semi-join-shaped
    aggregate: B's exploded grams LEFT JOIN A's set, one groupBy(id).
    No n-gram strings shuffle — only 64-bit hashes. Output:
    ``(id_col, n_grams, n_shared, coverage)`` for every B doc with >= 1
    n-gram; coverage rounded 6dp.
    """
    a_set = (
        shingle_hashes(df_a, text_col, n=n, out_col="__g")
        .select(F.explode("__g").alias("__s"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    b_grams = (
        shingle_hashes(df_b, text_col, n=n, out_col="__g")
        .select(id_col, F.explode(F.array_distinct("__g")).alias("__s"))
    )
    return (
        b_grams.join(a_set, "__s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_shared"),
        )
        .withColumn(
            "coverage", F.round(F.col("n_shared") / F.col("n_grams"), 6)
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter membership index: fixed-size broadcast prefilter
# --------------------------------------------------------------------------

def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Build a Bloom filter over the distinct values of long column
    ``key_col`` as a DataFrame of ``(bucket long, word long)`` — bucket
    ``b`` holds bits ``[64*b, 64*b+63]`` of an ``m_bits``-wide bitset.

    The point at 100 TB: a benchmark/blocklist key set can be billions of
    rows (too big to broadcast), but its Bloom image is FIXED SIZE —
    ``m_bits/64`` rows (= ``m_bits/8`` bytes) no matter how many keys went
    in — so the membership test stays a map-side broadcast join. Bit
    positions are ``xxhash64(key, seed_i) mod m_bits`` (k independent
    seeds); buckets are bit_or-merged, so two Bloom images with the same
    (m_bits, k) merge by unioning the tables and re-aggregating — the
    standard mergeable-sketch property.

    Pure built-in expressions (explode + shift/mask + bit_or aggregate):
    no UDF, no driver collect.
    """
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(
        F.array(*[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
            for i in range(k)
        ])
    ).alias("__pos")
    return (
        keys.select(F.col(key_col)).distinct()
        .select(pos)
        .select(
            F.shiftright("__pos", 6).alias("bucket"),
            # shiftleft's bit-count arg is Column-typed only in SQL form
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias("__bit"),
        )
        .groupBy("bucket")
        .agg(F.bit_or("__bit").alias("word"))
    )


def bloom_prefilter(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Keep only probe rows whose ``key_col`` MIGHT be in the Bloom set
    (no false negatives; false-positive rate ~ (1-e^{-kn/m})^k). Purely
    MAP-SIDE: the fixed-size bloom table is broadcast k times — one
    left broadcast-hash join per hash function, each immediately followed
    by its bit-test filter, so misses are pruned after the first probe and
    the probe side never shuffles. Row multiplicity is preserved.
    """
    out = probes
    for i in range(k):
        pos = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        out = out.withColumn("__pos", pos)
        side = F.broadcast(
            bloom.select(
                F.col("bucket").alias("__bbk"), F.col("word").alias("__bw")
            )
        )
        out = (
            out.join(side, F.shiftright("__pos", 6) == F.col("__bbk"), "left")
            .where(
                F.expr(
                    "shiftright(COALESCE(__bw, CAST(0 AS BIGINT)),"
                    " CAST(__pos % 64 AS INT)) & 1"
                )
                == 1
            )
            .drop("__pos", "__bbk", "__bw")
        )
    return out


def bloom_contamination_flags(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Exact test-set decontamination with a Bloom PREFILTER: same output
    as :func:`contamination_flags` (bit-for-bit — the Bloom has no false
    negatives and survivors are exactly re-verified), but the corpus-side
    scan is filtered by a FIXED-SIZE broadcast instead of the full
    benchmark n-gram set.

    Why this exists: `contamination_flags` broadcasts the benchmark's
    distinct n-gram hashes — fine for one eval suite, not for a
    billion-gram blocklist. Here the corpus's exploded grams first pass a
    ``m_bits/8``-byte Bloom image (map-side, fixed size regardless of
    benchmark size), and only the tiny surviving fraction reaches the
    exact verification join, which can then afford to be a shuffle join.
    """
    doc_grams = shingle_hashes(df, text_col, n=n, out_col="__g").select(
        id_col, F.explode("__g").alias("__s")
    )
    bench_grams = (
        shingle_hashes(benchmark_df, bench_text_col, n=n, out_col="__g")
        .select(F.explode("__g").alias("__s"))
        .distinct()
    )
    bloom = bloom_build(bench_grams, "__s", m_bits=m_bits, k=k)
    candidates = bloom_prefilter(doc_grams, bloom, "__s", m_bits=m_bits, k=k)
    hits = (
        candidates.join(bench_grams, "__s")  # exact verify: kills false positives
        .groupBy(id_col)
        .agg(F.count_distinct("__s").alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char k-gram of the
    whitespace-normalized text, slide a window of ``w`` consecutive
    k-gram hashes, select the minimum hash per window (ties broken by
    the leftmost position via a composite key, so selection is
    deterministic), and dedupe the selections. The guarantee: any shared
    substring of length >= k + w - 1 between two documents yields at
    least one shared fingerprint — position-robust plagiarism/overlap
    detection that whole-doc hashes and fixed-stride shingles miss.

    Returns ``(id, pos, fingerprint)`` — one row per selected k-gram.

    Scale: everything before the final DISTINCT is a map-side pipeline
    (normalize -> k-gram explode -> hash); the per-doc window runs over
    an already-id-partitioned sort (one shuffle on id), and only the
    winnowed ~2/(w+1) fraction of gram rows survives into the distinct.
    The hash is the md5-low-60-bits idiom so a SQL oracle replicates it
    bit-for-bit. The window min runs over a (hash, pos) STRUCT —
    lexicographic struct ordering gives min-hash-then-leftmost-position
    directly, without building a padded tie-break string per row
    (measured 6.5 s -> 4.7 s at sf0.1; the oracle's padded-string MIN
    selects the same pair, so results are unchanged). Two rejected
    alternatives, measured: the all-array zero-shuffle form recomputes
    the hash array per window under projection collapse (O(n²) md5s,
    minutes), and binding it via a single-element-array lambda keeps it
    O(n·w) but leaves codegen entirely (10.4 s).
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    d = df.select(F.col(id_col).alias("__id"), norm.alias("__t")).withColumn(
        "__ng", F.length("__t") - F.lit(k - 1)
    )
    grams = (
        d.where(F.col("__ng") >= 1)
        .select(
            "__id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("__ng")),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.conv(
                            F.substring(
                                F.md5(F.col("__t").substr(i, F.lit(k))), 1, 15
                            ),
                            16,
                            10,
                        )
                        .cast("long")
                        .alias("h"),
                    ),
                )
            ).alias("g"),
        )
        .select("__id", "g.pos", "g.h")
    )
    win = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    selected = (
        grams.withColumn("__m", F.min(F.struct(F.col("h"), F.col("pos"))).over(win))
        .withColumn("__wn", F.count(F.lit(1)).over(win))
        .where(F.col("__wn") == w)
        .select("__id", F.col("__m.pos").alias("pos"), F.col("__m.h").alias("h"))
        .distinct()
    )
    return selected.select(
        F.col("__id").alias(id_col), "pos", F.col("h").alias("fingerprint")
    )


def _jaro_winkler_py(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Reference Jaro-Winkler (Winkler boost above 0.7, 4-char prefix cap)
    — byte-for-byte the textbook definition, which DuckDB's builtin also
    implements, so scores verified against it are oracle-comparable."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0  # incl. ("",""), matching DuckDB's builtin
    if s1 == s2:
        return 1.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - md)
        hi = min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0
    if j > 0.7:
        pl = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a == b:
                pl += 1
            else:
                break
        j = j + pl * prefix_weight * (1 - j)
    return j


def jaro_winkler_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    threshold: float = 0.9,
    block_expr: F.Column | None = None,
    max_block: int = 500,
    round_to: int = 6,
) -> DataFrame:
    """Fuzzy string matching via Jaro-Winkler over BLOCKED candidate
    pairs — the classic record-linkage scorer (census/MDM lineage),
    complementing :func:`er_candidate_matches`' edit-distance bound with
    a length-normalized similarity that favors shared prefixes.

    Never all-pairs: records join within a block key (default: the last
    3 chars of the name — pass ``block_expr`` for domain blocking),
    blocks capped at ``max_block`` ids (skew guard). The JW score runs as
    a vectorized Arrow-batched pandas UDF over the candidate pairs only
    — the one genuinely non-relational step (per-char matching windows),
    so it is a declared python-eval operator like the multimodal family.
    Returns ``(id_a, id_b, name_a, name_b, jw)`` for pairs >= threshold,
    id_a < id_b.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # pandas is imported lazily (module stays pandas-free for relational
    # consumers), so the Series hints must be REAL objects — this module's
    # `from __future__ import annotations` would stringify inline hints and
    # get_type_hints() could not resolve `pd` from function-local scope.
    def _jw_fn(a, b):
        return pd.Series(
            [
                _jaro_winkler_py(x, y) if x is not None and y is not None else None
                for x, y in zip(a, b)
            ]
        )

    _jw_fn.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    _jw = pandas_udf(_jw_fn, "double")

    bk = (
        block_expr
        if block_expr is not None
        else F.substring(F.col(name_col), -3, 3)
    )
    base = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name"),
        bk.alias("__bk"),
    ).where(F.col("__name").isNotNull() & F.col("__bk").isNotNull())
    sizes = base.groupBy("__bk").agg(F.count(F.lit(1)).alias("__bn"))
    capped = base.join(
        F.broadcast(sizes.where(F.col("__bn") <= max_block).select("__bk")),
        "__bk",
    )
    a = capped.select(
        F.col("__bk"), F.col("__id").alias("id_a"), F.col("__name").alias("name_a")
    )
    b = capped.select(
        F.col("__bk"), F.col("__id").alias("id_b"), F.col("__name").alias("name_b")
    )
    pairs = a.join(b, "__bk").where(F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn("jw", _jw(F.col("name_a"), F.col("name_b")))
    return (
        scored.where(F.col("jw") >= F.lit(float(threshold)))
        .select(
            "id_a", "id_b", "name_a", "name_b",
            F.round("jw", round_to).alias("jw"),
        )
        .distinct()
    )


def hamming_neardup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str = "hash",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Generic banded-Hamming near-dup join over any 64-bit fingerprint
    column (SimHash, image dHash, audio envelope hash): two items are
    near-dups when their hashes differ in ≤ ``max_hamming`` bits.

    EXACT recall by pigeonhole: with ``bands`` disjoint ``64/bands``-bit
    slices and ``max_hamming < bands`` (enforced), at least one band
    survives the flips untouched, so every qualifying pair shares ≥ 1
    exact band value — candidates come from ``bands`` equi-joins (never
    an all-pairs scan), verified with ONE ``bit_count(xor)``. All pure
    JVM expressions. Returns ``(id_a, id_b, hamming)`` with
    ``id_a < id_b`` — exactly the brute-force pair set.

    EAGER: constructing the plan localCheckpoints the narrow (id, hash)
    base, which runs the upstream fingerprint lineage as a Spark job at
    call time — don't compose this inside streaming plans (current call
    sites are batch/foreachBatch).
    """
    if bands <= max_hamming:
        raise ValueError(
            "bands must exceed max_hamming (pigeonhole recall guarantee)"
        )
    if 64 % bands:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    # Materialize the NARROW (id, hash) base once (round 11, guide §2.4):
    # the banded relation feeds BOTH sides of the self-join, and the old
    # ``bands``-branch union re-evaluated the upstream fingerprint lineage
    # (SimHash vote fold, image/audio decode) once per branch per side.
    # One localCheckpoint of 16-byte rows + one explode pass replaces up
    # to 2×bands evaluations of the expensive lineage.
    base = (
        hashes.select(
            F.col(id_col).alias("__id"), F.col(hash_col).cast("long").alias("__h")
        )
        .where(F.col(hash_col).isNotNull())
        .localCheckpoint()
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("__b"),
                F.shiftrightunsigned(F.col("__h"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("__bv"),
            )
            for b in range(bands)
        ]
    )
    banded = base.select(
        "__id", "__h", F.explode(band_structs).alias("__band")
    ).select("__id", "__h", F.col("__band.__b").alias("__b"), F.col("__band.__bv").alias("__bv"))
    a = banded.select(
        F.col("__id").alias("id_a"), F.col("__h").alias("__ha"), "__b", "__bv"
    )
    b_ = banded.select(
        F.col("__id").alias("id_b"), F.col("__h").alias("__hb"), "__b", "__bv"
    )
    cands = (
        a.join(b_, ["__b", "__bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha", "__hb")
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.expr("bit_count(__ha ^ __hb)").cast("int"))
        .where(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def dedup_lines_within_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "text_deduped",
) -> DataFrame:
    """WITHIN-document repeated-line removal: keep only the FIRST
    occurrence of each line inside a single document (nav menus, footer
    blocks, and pagination chrome repeat within a scraped page long
    before they repeat across the corpus). Complements
    :func:`paragraph_dedup` (corpus-wide keep-first) and
    :func:`~.textstats.remove_boilerplate_lines` (corpus-frequency
    filter): this one needs no second document to act.

    Lines compare by a normalized key (lowercase, whitespace-runs
    collapsed, trimmed) but the ORIGINAL first-occurrence text is what
    survives. Blank lines are preserved as structure, never deduped.

    ZERO shuffles — the whole operator is higher-order array expressions
    (split → keyed first-occurrence filter → rejoin), so it is map-side
    at any scale. The first-occurrence test is ``array_position`` inside
    a filter lambda: O(L²) in the LINE count per document — fine for
    real pages (hundreds of lines); a pathological million-line doc
    belongs in the explode+window formulation instead (documented
    tradeoff, same contract).
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")
    key = lambda l: F.trim(  # noqa: E731
        F.regexp_replace(F.lower(l), r"[ \t\r]+", " ")
    )
    keys = F.transform(lines, key)
    kept = F.filter(
        lines,
        lambda l, i: (key(l) == "")
        | (F.array_position(keys, F.get(keys, i)) == i + 1),
    )
    out = F.when(text.isNull(), F.lit(None).cast("string")).otherwise(
        F.array_join(kept, "\n")
    )
    return df.withColumn(out_col, out)


def remove_contaminated_spans(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    out_col: str = "cleaned_text",
) -> DataFrame:
    """SURGICAL benchmark decontamination: cut every ``n``-token window
    that also occurs in the benchmark set and keep the rest of the
    document — the span-level refinement of :func:`decontaminate`
    (which drops whole documents) for the common case where one quoted
    eval question should not cost an otherwise-good document
    (FineWeb-style span scrubbing). Unlike
    :func:`remove_duplicate_spans`' keep-first rule, EVERY corpus
    occurrence is cut — benchmark text must survive nowhere.

    Same machinery as the duplicate-span pass: stride-1 windows hash
    with nested xxhash64 over normalized-token hashes (no strings
    shuffled), the benchmark's window-hash set broadcasts (eval sets are
    small), covered token positions die via a positional anti-join,
    documents reassemble in order. Corpus-side cost is linear in token
    count; zero corpus×corpus anything.

    Returns ``id_col``, ``n_tokens_kept``, ``out_col`` ('' when nothing
    survives).
    """
    toks = _normalized_tokens(text_col)
    th = F.transform(toks, lambda t: F.xxhash64(t))

    def _spans_of(thb):
        n_sp = F.size(thb) - F.lit(n - 1)
        return F.when(
            n_sp > 0,
            F.transform(
                F.sequence(F.lit(1), n_sp),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(
                        *[F.element_at(thb, i + k) for k in range(n)]
                    ).alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,h:long>>"))

    span_arr = F.element_at(F.transform(F.array(th), _spans_of), 1)
    bench_hashes = (
        benchmark_df.select(F.explode(span_arr).alias("__sp"))
        .select(F.col("__sp.h").alias("__h"))
        .distinct()
    )
    spans = df.select(F.col(id_col), F.explode(span_arr).alias("__sp")).select(
        id_col, F.col("__sp.pos").alias("__pos"), F.col("__sp.h").alias("__h")
    )
    removed = (
        spans.join(F.broadcast(bench_hashes), "__h", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.lit(n - 1))
            ).alias("__kill"),
        )
        .distinct()
    )
    tokens = df.select(
        F.col(id_col), F.posexplode(toks).alias("__p0", "__w")
    ).select(id_col, (F.col("__p0") + 1).alias("__pos"), "__w")
    kept = tokens.join(
        removed,
        (tokens[id_col] == removed[id_col]) & (tokens.__pos == removed.__kill),
        "left_anti",
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count("*").alias("n_tokens_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__w"))),
                lambda s: s["__w"],
            ),
        ).alias(out_col),
    )
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .withColumn(
            "n_tokens_kept", F.coalesce("n_tokens_kept", F.lit(0)).cast("long")
        )
        .withColumn(out_col, F.coalesce(out_col, F.lit("")))
    )


def dedup_by_clusters_prefer(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    prefer_col: str,
    keep_highest: bool = True,
) -> DataFrame:
    """Quality-aware duplicate-cluster survivor selection: keep the
    member with the BEST ``prefer_col`` per cluster (ties → smallest
    id) instead of :func:`dedup_by_clusters`' min-id convention — the
    RefinedWeb/FineWeb practice of keeping the longest / highest-quality
    copy of a near-dup group, not an arbitrary one. Rows not in any
    cluster pass through.

    Split plan, mirroring :func:`dedup_by_clusters`' anti-join shape:
    clustered rows (a small minority of any corpus) take an inner join
    plus one window over the cluster key (rank-limited map-side by the
    WindowGroupLimit pushdown); unclustered rows pass through via a
    broadcast-able left_anti join and never enter the window — a
    single-partition ``__cl IS NULL`` window over the pass-through mass
    would be a one-task straggler at 100 TB. ``clusters`` is the
    (node, cluster) labeling any of the CC operators emit.
    """
    from pyspark.sql.window import Window

    members = clusters.select(
        F.col("node").alias(id_col), F.col("cluster").alias("__cl")
    )
    order = (
        F.col(prefer_col).desc() if keep_highest else F.col(prefer_col).asc()
    )
    w = Window.partitionBy("__cl").orderBy(order, F.col(id_col).asc())
    survivors = (
        df.join(members, id_col, "inner")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__cl", "__rn")
    )
    passthrough = df.join(members.select(id_col), id_col, "left_anti")
    return survivors.unionByName(passthrough)


def cross_source_dup_matrix(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix — WHO copies from WHOM: verified
    near-dup pairs labeled with both endpoints' sources, counted per
    unordered source pair and normalized by the smaller source's doc
    count (a bounded 0..1-ish contamination rate; a high
    ``(mirrorA, mirrorB)`` cell is a mirrored-site signal, a high
    diagonal is internal boilerplate). The curation diagnostic that
    decides which source to DROP rather than dedup doc-by-doc.

    ``pairs`` is any verified pair relation (``id_a``/``id_b`` — MinHash,
    SimHash, embedding, fingerprint). Two broadcast-joinable lookups of
    the (id, source) map + one aggregate on the source pair; source
    cardinality bounds the output.

    Returns ``(source_a, source_b, n_pairs, n_docs_a, n_docs_b,
    dup_rate)`` with ``source_a <= source_b``.
    """
    src = df.select(F.col(id_col), F.col(source_col).alias("__s"))
    sizes = src.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
    labeled = (
        pairs.join(
            src.select(
                F.col(id_col).alias("id_a"), F.col("__s").alias("__sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col(id_col).alias("id_b"), F.col("__s").alias("__sb")
            ),
            "id_b",
        )
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
    )
    counts = labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    out = (
        counts.join(
            F.broadcast(
                sizes.select(
                    F.col("__s").alias("source_a"), F.col("__n").alias("n_docs_a")
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("__s").alias("source_b"), F.col("__n").alias("n_docs_b")
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "n_docs_a",
            "n_docs_b",
            F.round(
                F.col("n_pairs")
                / F.least(F.col("n_docs_a"), F.col("n_docs_b")),
                6,
            ).alias("dup_rate"),
        )
    )
    return out


def dup_weighted_sample(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    k: int = 100,
    temperature: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """De-weight instead of delete (round 9; Muennighoff et al. 2023 —
    repeated data has sharply decaying value, but hard-deleting near-dup
    copies also deletes their small distributional signal): keep every
    member of every near-dup cluster in the pool, but draw the training
    subset with probability ∝ 1/cluster_size — each piece of CONTENT
    (not each copy) gets equal expected representation, so a 50-copy
    boilerplate page no longer gets 50× the sampling mass of a unique
    document.

    Selection is :func:`~.textstats.gumbel_topk_resample` over
    ``weight = −ln(dup_count)`` (log-space: exp(weight) = 1/size) —
    deterministic hash-derived Gumbel noise, reproducible at any
    partitioning, executed as one TakeOrderedAndProject top-k.
    ``clusters`` is any (node, cluster) labeling; unclustered rows count
    as size 1.

    Scale: one cluster-size aggregate (cluster-cardinality bounded) +
    two key joins + the top-k — no window over the corpus. Adds
    ``dup_count`` and ``resample_score``.
    """
    from .textstats import gumbel_topk_resample

    sizes = clusters.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__sz")
    )
    members = clusters.select(F.col("node").alias(id_col), "cluster")
    labeled = (
        df.join(members, id_col, "left")
        .join(sizes, "cluster", "left")
        .withColumn(
            "dup_count", F.coalesce(F.col("__sz"), F.lit(1)).cast("long")
        )
        .drop("cluster", "__sz")
        .withColumn("__w", -F.log(F.col("dup_count").cast("double")))
    )
    return gumbel_topk_resample(
        labeled, "__w", id_col=id_col, k=k,
        temperature=temperature, seed=seed,
    ).drop("__w")


def cluster_aware_split(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    weights: dict[str, float],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-free train/val/test assignment over a near-dup clustering
    (round 10): the split unit is the CLUSTER, not the document — every
    member of a near-dup cluster lands in the same split, so a test
    document can never have a training-set near-duplicate (the
    Lee/Carlini dedup-then-split hygiene; a random row-level split over
    an undeduplicated corpus leaks by construction). Unclustered
    documents split by their own id.

    ``clusters`` is any ``(node, cluster)`` labeling (e.g.
    :func:`duplicate_clusters` over verified pairs). One LEFT
    join (clusters are the small side — only docs with a near-dup
    appear) + the deterministic md5-bucket rule of
    :func:`~.transform.hash_split` on ``coalesce(cluster, id)``;
    assignment is a pure function of (salt, unit, weights) and replays
    relationally.

    Returns ``df`` + ``out_col``.
    """
    from .transform import hash_split

    lab = clusters.select(
        F.col("node").alias(id_col), F.col("cluster").alias("__cl")
    )
    unit = F.coalesce(F.col("__cl"), F.col(id_col)).cast("string")
    return (
        hash_split(
            df.join(lab, id_col, "left").withColumn("__unit", unit),
            id_col,
            weights,
            salt=salt,
            by_col="__unit",
            out_col=out_col,
        )
        .drop("__cl", "__unit")
    )


def neardup_pair_stats(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    round_to: int = 6,
) -> DataFrame:
    """Pair-level near-dup DIAGNOSTICS (round 11): for each candidate or
    verified pair, the exact Jaccard PLUS both directed containments
    ``|A∩B|/|A|`` and ``|A∩B|/|B|`` and the shingle-set sizes — the
    numbers that tell you WHICH side to keep and WHY a pair matched.
    A pair with low Jaccard but containment_a ≈ 1 is a SUBSET
    relationship (doc A is a fragment of B — quote, excerpt, truncated
    re-crawl): the right action is usually "drop the fragment", which
    the symmetric Jaccard threshold alone cannot see.
    ``keep_hint``: ``'b'``/``'a'`` when one side near-contains the other
    (containment ≥ 0.9 — keep the superset), else ``'either'``.

    Same two shingle join-backs as :func:`jaccard_verify` (pair volume,
    never corpus volume); all ratios from exact integer set sizes.

    Returns ``(id_a, id_b, size_a, size_b, jaccard, containment_a,
    containment_b, keep_hint)``.
    """
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__sh_a")
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long")
    sa = F.size("__sh_a").cast("long")
    sb = F.size("__sh_b").cast("long")
    joined = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            sa.alias("size_a"), sb.alias("size_b"),
            inter.alias("__i"),
        )
    )
    i = F.col("__i").cast("double")
    ca = F.when(F.col("size_a") > 0, i / F.col("size_a"))
    cb = F.when(F.col("size_b") > 0, i / F.col("size_b"))
    return joined.select(
        "id_a", "id_b", "size_a", "size_b",
        F.round(
            F.when(
                (F.col("size_a") + F.col("size_b") - F.col("__i")) > 0,
                i / (F.col("size_a") + F.col("size_b") - F.col("__i")),
            ),
            round_to,
        ).alias("jaccard"),
        F.round(ca, round_to).alias("containment_a"),
        F.round(cb, round_to).alias("containment_b"),
        F.when((ca >= 0.9) & (cb < 0.9), F.lit("b"))
        .when((cb >= 0.9) & (ca < 0.9), F.lit("a"))
        .otherwise(F.lit("either"))
        .alias("keep_hint"),
    )
