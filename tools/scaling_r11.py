"""Round-11 scaling evidence (VERDICT r10 items #1 and #3):

A. Persisted dup-cluster labeling amortization — the five consumers
   (cluster sizes, quality survivors, de-weighted sample, leak-free
   split, cross-source matrix) run once each DIRECT (each rebuilding
   minhash->verify->big-star CC) and once each over ONE
   persist_dup_clusters build; plus a 4x-corpus leg of the clustered
   consumers to show consumer cost tracks the labeling, not the
   rebuild.

B. lsh_plan stage wall — minhash_dedup at the fixed 64-hash/32-band
   default vs the lsh_plan(0.5, 0.98) banding on the same corpus;
   reports wall, hashes, and the survivor sets' agreement (the equal-
   recall check: planted fixture dups are well above threshold, so both
   plans must remove the same docs).

Prints RAW rows + markdown for SCALING.md. Run on a quiet box.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ecu_sbl_aace_datalake_spark import get_spark  # noqa: E402
from ecu_sbl_aace_datalake_spark.operators import dedup  # noqa: E402
from ecu_sbl_aace_datalake_spark.sources.io import load_table  # noqa: E402


def wall(fn):
    t0 = time.monotonic()
    out = fn()
    return out, round(time.monotonic() - t0, 2)


def build_clusters_direct(docs):
    sh = dedup.minhash_signatures(
        dedup.shingle_hashes(dedup.ensure_parallelism(docs), "text", n=3),
        num_hashes=64,
    ).select("doc_id", "shingles", "minhash").persist()
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5)
    clusters = dedup.duplicate_clusters(pairs)
    return sh, pairs, clusters


def consumers(docs, clusters, pairs):
    """The five consumer tails, each materialized with a count."""
    from ecu_sbl_aace_datalake_spark.operators.textstats import (  # noqa
        gumbel_topk_resample,
    )

    out = {}
    out["cluster_sizes"] = lambda: (
        clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz").count().count()
    )
    d2 = docs.withColumn("n_chars", F.length("text"))
    out["quality_survivors"] = lambda: dedup.dedup_by_clusters_prefer(
        d2, "doc_id", clusters, "n_chars"
    ).count()
    out["dup_weighted_sample"] = lambda: dedup.dup_weighted_sample(
        docs, clusters, k=100, seed=42
    ).count()
    out["cluster_split"] = lambda: dedup.cluster_aware_split(
        docs.select("doc_id"), "doc_id", clusters,
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).count()
    srcd = docs.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 5).cast("string"))
    )
    out["cross_source"] = lambda: dedup.cross_source_dup_matrix(
        srcd, pairs.select("id_a", "id_b")
    ).count()
    return out


def replicate(df, mult):
    parts = [
        df.withColumn("doc_id", F.col("doc_id") + F.lit(c * 10_000_000))
        for c in range(mult)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main():
    import sys as _sys
    part = _sys.argv[1] if len(_sys.argv) > 1 else "all"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scaling_r11")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    if part in ("a", "all"):
        run_a(spark, docs)
    if part in ("b", "all"):
        run_b(spark, docs)
    spark.stop()


def run_a(spark, docs):
    print("== A. dup-cluster amortization ==")
    rows = []
    for mult in (1, 4):
        d = replicate(docs, mult).localCheckpoint() if mult > 1 else docs
        # DIRECT: every consumer rebuilds the labeling
        direct_total = 0.0
        for name in ("cluster_sizes", "quality_survivors",
                     "dup_weighted_sample", "cluster_split", "cross_source"):
            def run_direct(nm=name, dd=d):
                sh, pairs, clusters = build_clusters_direct(dd)
                try:
                    return consumers(dd, clusters, pairs)[nm]()
                finally:
                    sh.unpersist()
            _, t = wall(run_direct)
            direct_total += t
            print(f"  direct {mult}x {name}: {t}s")
        # INDEXED: one build, five probes
        ct, pt = f"t_sc11_cl_{mult}", f"t_sc11_pr_{mult}"
        _, t_build = wall(lambda: dedup.persist_dup_clusters(
            d, "doc_id", bands=32, threshold=0.5,
            cluster_table=ct, pair_table=pt,
        ))
        print(f"  index build {mult}x: {t_build}s")
        cl, pr = spark.table(ct), spark.table(pt)
        idx_total = 0.0
        per = {}
        for name, fn in consumers(d, cl, pr).items():
            _, t = wall(fn)
            idx_total += t
            per[name] = t
            print(f"  clustered {mult}x {name}: {t}s")
        rows.append((mult, round(direct_total, 1), round(t_build, 1),
                     round(idx_total, 1), per))
        spark.sql(f"DROP TABLE IF EXISTS {ct}")
        spark.sql(f"DROP TABLE IF EXISTS {pt}")

    print("\n| corpus | five direct (rebuild each) s | index build s "
          "| five clustered s |")
    print("|---|---|---|---|")
    for mult, dt, bt, it, _ in rows:
        print(f"| {mult}x | {dt} | {bt} | {it} |")


def run_b(spark, docs):
    print("== B. lsh_plan stage wall ==")
    plan = dedup.lsh_plan(0.5, target_recall=0.98)
    print(f"  plan: {plan}")
    # one warm pass each (shape claim, same session), then timed pass
    for label, kw in (
        ("fixed 64h/32b", dict(bands=32)),
        (f"planned {plan['num_hashes']}h/{plan['bands']}b", dict(plan=plan)),
    ):
        ids, t = wall(lambda: set(
            r.doc_id for r in dedup.minhash_dedup(
                docs, "doc_id", "text", threshold=0.5, **kw
            ).select("doc_id").collect()
        ))
        print(f"  {label}: {t}s, survivors={len(ids)}")
    # second pass, warm
    res = {}
    for label, kw in (
        ("fixed", dict(bands=32)),
        ("planned", dict(plan=plan)),
    ):
        ids, t = wall(lambda: set(
            r.doc_id for r in dedup.minhash_dedup(
                docs, "doc_id", "text", threshold=0.5, **kw
            ).select("doc_id").collect()
        ))
        res[label] = (ids, t)
        print(f"  warm {label}: {t}s, survivors={len(ids)}")
    same = res["fixed"][0] == res["planned"][0]
    print(f"  survivor sets identical: {same} "
          f"(fixed {len(res['fixed'][0])}, planned {len(res['planned'][0])})")


if __name__ == "__main__":
    main()
