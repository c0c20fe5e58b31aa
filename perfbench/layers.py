"""Per-layer metrics from a traced run's spans and counters.

A layer's ``.s`` is its self time per timed operation; a layer that runs
only during set-up (``session.get_spark``) reports its set-up total
instead. Counts are per timed operation unless the name says otherwise.
A layer a workload never calls reports 0."""

from __future__ import annotations

SELF_TIMES = [
    "session.get_spark",
    "sources.io.write_table", "sources.io.compact_table", "sources.io.read_table",
    "sources.io.read_pruned", "sources.io.zone_map",
    "sources.incremental.upsert_table",
    "operators.transform.cast_columns", "functions.cleaning.fix_up_name_udf",
    "operators.star.build_dimension", "operators.star.simple_map",
    "operators.query.sql_over",
    "operators.textstats.with_lang_id", "operators.textstats.with_quality_score",
    "operators.dedup.exact_dedup", "operators.dedup.minhash_dedup",
    "operators.packing.with_token_count", "operators.packing.greedy_pack",
    "operators.pipeline.prepare_corpus",
]


def per_layer(ctx, wl, n_ops: int, totals: dict, op_inputs: list[int]) -> dict:
    tracer, counters = ctx.tracer, ctx.counters
    selfs = tracer.self_times()
    timed = [(s, t) for s, t in zip(tracer.spans, selfs) if isinstance(s["op"], int)]
    setup = [(s, t) for s, t in zip(tracer.spans, selfs) if not isinstance(s["op"], int)]

    def self_time(name: str) -> float:
        in_ops = [t for s, t in timed if s["name"] == name]
        if in_ops:
            return sum(in_ops) / n_ops
        return sum(t for s, t in setup if s["name"] == name)

    def count(name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s, _ in timed if s["name"] == name)

    def jobs(name: str) -> dict:
        ids = sorted({j for s, _ in timed if s["name"] == name for j in s.get("job_ids", [])})
        return counters.stage_totals(ids)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out = {f"{name}.s": (self_time(name), "s") for name in SELF_TIMES}
    out["operators.query.sql_over.exec_s"] = (self_time("operators.query.sql_over.exec"), "s")
    out["sources.io.write_table.files"] = (count("sources.io.write_table", "files") / n_ops, "count")
    out["sources.io.compact_table.bytes_rewritten"] = (
        count("sources.io.compact_table", "bytes_rewritten") / n_ops, "bytes")
    out["sources.io.read_pruned.files_read_per_file"] = (ratio(
        count("sources.io.read_pruned", "files_read"),
        count("sources.io.read_pruned", "files_total")), "ratio")
    out["sources.incremental.upsert_table.bytes_written_per_update_byte"] = (ratio(
        count("sources.incremental.upsert_table", "bytes_written"), sum(op_inputs)), "ratio")
    out["sources.incremental.upsert_table.partitions_rewritten"] = (
        count("sources.incremental.upsert_table", "partitions_rewritten") / n_ops, "count")
    out["operators.transform.cast_columns.jobs"] = (
        jobs("operators.transform.cast_columns")["jobs"] / n_ops, "count")
    out["operators.star.simple_map.jobs"] = (
        jobs("operators.star.simple_map")["jobs"] / n_ops, "count")
    out["operators.star.simple_map.broadcast_bytes"] = (
        count("operators.star.simple_map", "broadcast_bytes") / n_ops, "bytes")
    q = jobs("operators.query.sql_over.exec")
    out["operators.query.sql_over.jobs"] = (q["jobs"] / n_ops, "count")
    out["operators.query.sql_over.tasks"] = (q["tasks"] / n_ops, "count")
    out["operators.query.sql_over.shuffle_bytes"] = (q["shuffle_bytes"] / n_ops, "bytes")
    out["operators.dedup.lsh_candidate_pairs.verified_per_candidate"] = (ratio(
        count("operators.dedup.jaccard_verify", "verified"),
        count("operators.dedup.lsh_candidate_pairs", "candidates")), "ratio")
    out["operators.packing.greedy_pack.fill_ratio"] = (ratio(
        count("operators.packing.greedy_pack", "tokens"),
        count("operators.packing.greedy_pack", "packs")
        * max([s["counts"].get("budget", 0) for s, _ in timed] or [0])), "ratio")
    storage = getattr(wl, "storage_mb", None)
    out["caching.storage_mb_after_op"] = (
        storage[-1] if storage else counters.storage_mb(), "MB")
    out["spark.jobs_per_op"] = (totals["jobs"] / n_ops, "count")
    out["spark.tasks_per_op"] = (totals["tasks"] / n_ops, "count")
    out["spark.shuffle_bytes_per_op"] = (totals["shuffle_bytes"] / n_ops, "bytes")
    out["spark.spill_bytes_per_op"] = (totals["spill_bytes"] / n_ops, "bytes")
    out["spark.failed_tasks"] = (totals["failed_tasks"], "count")
    return out
