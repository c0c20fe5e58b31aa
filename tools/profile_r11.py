"""Round-11 optimization stage profiler: isolate the minhash-dedup
sub-stages (the dominant cost family across the corpus_prepare* and
cluster-consumer queries) with the noop sink so the computation, not
the sink, is timed (guide §1.4), one labeled job per stage (§1.5).

Usage: python tools/profile_r11.py [sf_dir] [n_runs]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label: str, build, n_runs: int = 3) -> float:
    runs = []
    for i in range(n_runs):
        spark.sparkContext.setJobDescription(f"{label} [{i}]")
        t0 = time.perf_counter()
        noop(build())
        runs.append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    med = statistics.median(runs)
    print(f"{label:42s} median {med:6.2f}s  runs {[round(r,2) for r in runs]}", flush=True)
    return med


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from ecu_sbl_aace_datalake_spark import get_spark
    from ecu_sbl_aace_datalake_spark.operators import dedup

    spark = get_spark(
        "profile-r11", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    # warmup: full pipeline once so JIT/codegen caches are hot
    sh_w = dedup.minhash_signatures(
        dedup.shingle_hashes(dedup.ensure_parallelism(docs), "text", n=3),
        num_hashes=64,
    ).select("doc_id", "shingles", "minhash")
    noop(sh_w)

    d = dedup.ensure_parallelism(docs)
    timed(spark, "tokenize+shingle_hashes", lambda: dedup.shingle_hashes(d, "text", n=3).select("doc_id", "shingles"), n_runs)
    timed(
        spark,
        "shingles+minhash_signatures(64)",
        lambda: dedup.minhash_signatures(
            dedup.shingle_hashes(d, "text", n=3), num_hashes=64
        ).select("doc_id", "shingles", "minhash"),
        n_runs,
    )

    sh = (
        dedup.minhash_signatures(
            dedup.shingle_hashes(d, "text", n=3), num_hashes=64
        )
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    noop(sh)  # materialize the cache outside any timed region
    timed(
        spark,
        "band+bucket pairs (cached sigs, b=32)",
        lambda: dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False),
        n_runs,
    )
    pairs = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False).persist()
    noop(pairs)
    timed(
        spark,
        "jaccard_verify (cached pairs+sigs)",
        lambda: dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.5),
        n_runs,
    )
    ver = dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.5).persist()
    noop(ver)
    timed(
        spark,
        "bigstar CC (cached verified pairs)",
        lambda: dedup.duplicate_clusters(ver),
        n_runs,
    )
    # end-to-end for reference (what the bench-row family pays)
    timed(
        spark,
        "end-to-end minhash_dedup (b=16)",
        lambda: dedup.minhash_dedup(docs, "doc_id", "text"),
        n_runs,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
