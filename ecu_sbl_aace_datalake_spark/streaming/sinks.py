"""Streaming sinks & stream-native dedup/join helpers.

Completes the streaming surface (SURVEY.md §2.12 — reference has none):

- :func:`streaming_dedup` — exactly-once-per-key emission with bounded
  state via ``dropDuplicatesWithinWatermark`` (late duplicates beyond the
  watermark age out of the state store instead of accumulating forever).
- :func:`stream_stream_join` — watermarked stream-stream equi-join with an
  event-time range condition (both sides' state bounded by watermark +
  range).
- :func:`foreach_batch_upsert` — the streaming→lakehouse MERGE pattern:
  each micro-batch upserts into a parquet lakehouse table via
  ``sources.incremental.upsert_table`` (Delta would make this transactional;
  the pattern and call-shape are identical).
- :func:`foreach_batch_dedup_ingest` / ``..._indexed`` — dedup-at-the-door
  corpus ingestion; the indexed variant maintains persisted hash/band/
  shingle side tables so per-batch cost stays flat as the corpus grows.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import CacheScope, persist_in
from ..sources.catalog import Lakehouse
from .events import ensure_event_time


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate keys arriving within the watermark horizon; state for
    a key is evicted once the watermark passes it (bounded memory — plain
    dropDuplicates on a stream grows state forever)."""
    stream = ensure_event_time(stream, ts_col)
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark_delay: str = "10 minutes",
    range_within: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: match rows sharing ``on`` whose event
    times are within ``range_within`` of each other. The time-range
    condition + watermarks let Spark evict join state for both sides."""
    l_wm = ensure_event_time(left, left_ts).withWatermark(left_ts, watermark_delay).alias("l")
    r_wm = ensure_event_time(right, right_ts).withWatermark(right_ts, watermark_delay).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {range_within}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {range_within}"))
    )
    return l_wm.join(r_wm, cond, how)


def foreach_batch_upsert(
    stream: DataFrame,
    lakehouse: Lakehouse,
    table_name: str,
    keys: list[str],
    checkpoint_dir: str,
    partition_by: str | None = None,
) -> Any:
    """Start a streaming query that MERGEs each micro-batch into a lakehouse
    table (insert new keys, replace matched ones). First batch bootstraps
    the table with a plain write. Returns the StreamingQuery handle.

    Per-key convergence is idempotent across retries of a batch (upsert is
    deterministic given the batch), which is what foreachBatch guarantees
    need to be."""
    from ..sources.incremental import upsert_table
    from ..sources.io import write_table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ..sources.io import table_exists

        # Hadoop-FS existence check: os.path would always be False on
        # remote URIs (abfss/s3), silently re-bootstrapping every batch
        exists = table_exists(batch_df.sparkSession, lakehouse, table_name)
        # keep-last per key within the batch (a batch can carry several
        # versions of one key)
        from pyspark.sql import Window

        dedup_w = Window.partitionBy(*keys).orderBy(F.monotonically_increasing_id().desc())
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(dedup_w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        if not exists:
            write_table(lakehouse, table_name, batch, partition_by=partition_by)
        else:
            upsert_table(
                batch.sparkSession, lakehouse, table_name, batch,
                keys=keys, partition_by=partition_by,
            )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_agg_state(
    stream: DataFrame,
    lakehouse: Lakehouse,
    table_name: str,
    keys: list[str],
    value_col: str,
    checkpoint_dir: str,
    with_hll: bool = True,
) -> Any:
    """Streaming incremental-aggregate maintenance: each micro-batch's
    mergeable per-key state (operators/aggstate — count, decimal-sum, min,
    max, HLL) MERGES into a persisted state table; the dashboard-facing
    aggregate is ``aggstate.finalize_state(spark.table(...))`` at read
    time. History is never re-scanned — per-batch cost is one batch scan
    plus a key-join against the state table, the streaming form of the
    incremental_agg_merge pattern.

    Replay safety: foreachBatch replays WHOLE batches after a failure, and
    a replayed merge would double-count — so the state table carries the
    id of the last merged batch (``__last_batch``, constant column) and
    ``process`` SKIPS any batch_id it has already absorbed."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_state(
            lakehouse, table_name, keys, value_col, batch_df, batch_id,
            with_hll=with_hll,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_batch_into_state(
    lakehouse: Lakehouse,
    table_name: str,
    keys: list[str],
    value_col: str,
    batch_df: DataFrame,
    batch_id: int,
    with_hll: bool = True,
) -> bool:
    """One idempotent state-merge step (the foreachBatch body, exposed for
    direct testing and batch-job reuse). Returns False when the batch was
    skipped as a replay."""
    from ..operators import aggstate
    from ..sources.catalog import table_path
    from ..sources.io import _replace_table, read_table, table_exists, write_table

    if batch_df.isEmpty():
        return False
    spark = batch_df.sparkSession
    batch_state = aggstate.agg_state(batch_df, keys, value_col, with_hll)
    if not table_exists(spark, lakehouse, table_name):
        write_table(lakehouse, table_name, batch_state.withColumn("__last_batch", F.lit(batch_id)))
        return True
    existing = read_table(spark, lakehouse, table_name)
    last = existing.agg(F.max("__last_batch")).first()[0]
    if last is not None and batch_id <= last:
        return False  # replayed batch: already merged, keep idempotent
    merged = aggstate.merge_agg_states(existing.drop("__last_batch"), batch_state, keys)
    _replace_table(
        spark, table_path(lakehouse, table_name),
        merged.withColumn("__last_batch", F.lit(batch_id)),
    )
    return True


def foreach_batch_dedup_ingest(
    stream: DataFrame,
    lakehouse: Lakehouse,
    table_name: str,
    id_col: str,
    checkpoint_dir: str,
    text_col: str = "text",
    near_dup: bool = True,
    threshold: float = 0.7,
) -> Any:
    """Streaming corpus ingestion with dedup-at-the-door: every micro-batch
    keeps only documents that are (a) exact-unique within the batch,
    (b) not exact duplicates of the accumulated corpus, and — with
    ``near_dup`` — (c) not near-duplicates (shingle Jaccard ≥ ``threshold``)
    of the corpus, then appends the survivors. The streaming composition of
    ``dedup_against_corpus`` + ``neardup_dedup_against_corpus``: the corpus
    only ever grows by novel content, so downstream training jobs read it
    without their own dedup pass.

    First batch bootstraps the table. foreachBatch retries re-run the whole
    batch; both dedup steps are deterministic given (batch, corpus), and
    re-appending after a partial failure is prevented by the exact
    corpus-hash check itself — survivors of a replayed batch are already in
    the corpus and get filtered, making the sink effectively idempotent.

    Scale: per batch, one hash anti-join vs the corpus hash column plus an
    LSH band probe (cost tracks the batch, not the corpus — measured flat
    in SCALING.md). Returns the StreamingQuery handle.
    """
    from ..operators.dedup import (
        dedup_against_corpus,
        exact_dedup,
        neardup_dedup_against_corpus,
    )
    from ..sources.catalog import table_path
    from ..sources.io import append_table, path_exists, read_path, write_table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = exact_dedup(
            batch_df.withColumn("__h", F.md5(F.trim(F.col(text_col)))),
            ["__h"],
            tiebreak=[id_col],
        ).drop("__h")
        path = table_path(lakehouse, table_name)
        spark = batch.sparkSession
        # Hadoop-FS existence check (os.path is driver-local only — on a
        # remote URI it would bootstrap-OVERWRITE the corpus every batch);
        # read back with the same format the write path uses: raw
        # spark.read.parquet on a Delta table dir would see removed files.
        if path_exists(spark, path):
            corpus = read_path(spark, path)
            batch = dedup_against_corpus(batch, corpus, text_col=text_col)
            # per-batch cache scope: the near-dup probe persists signature
            # tables; without releasing them after the append, a long-lived
            # stream accumulates executor storage every micro-batch
            scope = CacheScope()
            try:
                if near_dup:
                    batch = neardup_dedup_against_corpus(
                        batch, corpus, id_col, text_col, threshold=threshold,
                        scope=scope,
                    )
                if batch.isEmpty():
                    return
                append_table(lakehouse, table_name, batch)
            finally:
                scope.unpersist()
        else:
            write_table(lakehouse, table_name, batch)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_dedup_ingest_indexed(
    stream: DataFrame,
    lakehouse: Lakehouse,
    table_name: str,
    id_col: str,
    checkpoint_dir: str,
    text_col: str = "text",
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    n_buckets: int = 32,
) -> Any:
    """:func:`foreach_batch_dedup_ingest` with a PERSISTED dedup index —
    the form whose per-batch cost stays flat as the corpus grows to 100 TB.

    The plain sink re-reads and re-hashes the whole corpus every
    micro-batch (cost grows linearly with corpus size). This variant
    maintains three slim side tables next to the corpus:

    - ``{table}_nd_hashes``  — md5 content hashes, bucketed by hash:
      the exact-dup door is a bucket-local anti-join against 32-char keys.
    - ``{table}_nd_bands`` / ``{table}_nd_shingles`` — the
      :func:`~..operators.dedup.persist_neardup_index` pair: the near-dup
      door probes bucket-locally, zero corpus-side exchange.

    Every accepted batch appends its own rows/hashes/bands/shingles
    (hash-bucket layouts are append-stable), so no rebuild ever happens.

    Idempotency: a replayed batch re-filters against the hash table, so
    accepted rows don't re-append. The four appends are not one atomic
    transaction (parquet; Delta/Iceberg would make them so) — a crash
    between them can strand index rows for corpus rows that will re-append
    on replay; strands are harmless (they reference accepted content and
    filter the same rows). Returns the StreamingQuery handle.
    """
    from ..operators.dedup import (
        append_neardup_index,
        exact_dedup,
        neardup_pairs_against_index,
        persist_neardup_index,
    )
    from ..sources.catalog import table_path
    from ..sources.io import append_table, path_exists, write_bucketed_table, write_table

    hash_table = f"{table_name}_nd_hashes"
    index = {
        "n": n, "num_hashes": num_hashes, "bands": bands, "seed": 1,
        "band_table": f"{table_name}_nd_bands",
        "shingle_table": f"{table_name}_nd_shingles",
        "n_buckets": n_buckets,
    }

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = exact_dedup(
            batch_df.withColumn("__h", F.md5(F.trim(F.col(text_col)))),
            ["__h"],
            tiebreak=[id_col],
        )
        path = table_path(lakehouse, table_name)
        scope = CacheScope()
        try:
            if path_exists(spark, path):
                # exact door: bucket-local anti-join on the 32-char hash
                batch = batch.join(spark.table(hash_table), "__h", "left_anti")
                # near-dup door: bucket-local band probe
                victims = (
                    neardup_pairs_against_index(
                        batch, id_col, index, text_col=text_col,
                        threshold=threshold, scope=scope,
                    )
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
                # localCheckpoint, NOT persist: accepted's lineage reads the
                # hash table we are about to append to, and Spark invalidates
                # cached plans over a written table — a persist would
                # recompute against the UPDATED hashes (anti-join would then
                # erase the batch from its own index appends). Severing the
                # lineage freezes the pre-append result.
                accepted = batch.join(victims, id_col, "left_anti").localCheckpoint()
                if accepted.isEmpty():
                    return
                append_table(lakehouse, table_name, accepted.drop("__h"))
                (
                    accepted.select("__h").repartition(n_buckets, F.col("__h"))
                    .write.format("parquet")
                    .mode("append").bucketBy(n_buckets, "__h")
                    .saveAsTable(hash_table)
                )
                append_neardup_index(
                    accepted, id_col, index, text_col=text_col, scope=scope
                )
            else:
                accepted = persist_in(scope, batch)
                write_table(lakehouse, table_name, accepted.drop("__h"))
                write_bucketed_table(
                    spark, hash_table, accepted.select("__h"), "__h", n_buckets
                )
                persist_neardup_index(
                    accepted, id_col, text_col=text_col, n=n,
                    num_hashes=num_hashes, bands=bands,
                    band_table=index["band_table"],
                    shingle_table=index["shingle_table"],
                    n_buckets=n_buckets,
                )
        finally:
            scope.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_cdc_apply(
    stream: DataFrame,
    lakehouse: Lakehouse,
    table_name: str,
    keys: list[str],
    checkpoint_dir: str,
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
    partition_by: str | None = None,
) -> Any:
    """Streaming CDC sink: each micro-batch is an I/U/D changelog applied
    to the lakehouse snapshot with :func:`~..operators.star.apply_changelog`
    semantics (last writer per key by (ts, seq) wins, 'D' removes the key,
    changes on absent keys insert). First batch bootstraps the snapshot
    from the batch's surviving rows.

    Extends :func:`foreach_batch_upsert` with deletes and explicit
    change-ordering — the changelog form every CDC source (Debezium etc.)
    emits. Replay-idempotent: re-applying a batch converges to the same
    snapshot because apply_changelog is deterministic given snapshot+batch
    and a change ranks above the base row it produced only by being the
    same change (equal outcome)."""
    from ..operators.star import apply_changelog
    from ..sources.catalog import table_path
    from ..sources.io import _replace_table, path_exists, read_path, write_table

    meta_cols = [ts_col, op_col] + ([seq_col] if seq_col else [])
    path = table_path(lakehouse, table_name)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        exists = path_exists(spark, path)
        # bootstrap: empty snapshot with the data columns only
        snap = read_path(spark, path, "parquet") if exists else batch_df.drop(*meta_cols).limit(0)
        new_snap = apply_changelog(
            snap, batch_df, keys, ts_col=ts_col, op_col=op_col,
            seq_col=seq_col,
        )
        spark.sparkContext.setJobDescription(f"cdc_apply batch {batch_id}")
        if exists:  # new_snap reads the table it replaces
            _replace_table(spark, path, new_snap, partition_by)
        else:
            write_table(lakehouse, table_name, new_snap, partition_by=partition_by)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_corpus_ingest(
    stream: DataFrame,
    lakehouse: Lakehouse,
    table_name: str,
    id_col: str,
    checkpoint_dir: str,
    text_col: str = "text",
    source_col: str = "source",
    keep_langs: tuple = ("en",),
    min_quality: float = 0.5,
    lang_model: dict | None = None,
    cap_per_source: int | None = None,
    byte_budget_per_source: int | None = None,
    near_dup: bool = True,
    threshold: float = 0.7,
    neardup_plan: dict | None = None,
    benchmark_df: DataFrame | None = None,
    decontaminate_ngram: int = 8,
    decontaminate_fuzzy_threshold: float = 0.5,
    decontaminate_fuzzy_ngram: int = 3,
    url_col: str | None = None,
    url_index: dict | None = None,
    drop_opted_out: bool = False,
    license_families: tuple | None = None,
    log_doors: bool = False,
) -> Any:
    """STREAMING training-corpus preparation — the foreachBatch composition
    of ``pipeline.prepare_corpus``'s gate/dedup/cap stages, so a corpus is
    curated AT INGEST instead of by periodic batch rebuilds:

    1. language gate — ``classifier.lang_id_nb`` when ``lang_model`` is a
       trained model dict (e.g. ``classifier.LANG_NB_V1``), else the
       marker-token heuristic; keep only ``keep_langs``.
    2. quality floor — ``textstats.with_quality_score >= min_quality``.
    3. dedup-at-the-door — exact-unique within the batch, exact vs the
       corpus, and (``near_dup``) shingle-Jaccard vs the corpus, exactly
       like :func:`foreach_batch_dedup_ingest` (swap in the
       ``..._indexed`` doors for 100 TB corpora — the gates compose the
       same way).
    4. benchmark decontamination at the door (round 7, ``benchmark_df``):
       every batch runs BOTH doors against the static eval/benchmark set —
       the exact ``decontaminate_ngram``-gram pass and the FUZZY MinHash
       pass (:func:`~..operators.dedup.decontaminate_neardup`, word
       ``decontaminate_fuzzy_ngram``-gram Jaccard ≥
       ``decontaminate_fuzzy_threshold``) — so a paraphrased leak is
       rejected in WHICHEVER batch it arrives, not by a periodic batch
       sweep. The benchmark is driver-supplied and static; its band/
       shingle tables rebuild per batch from a small relation (pre-sign
       once and swap in the ``..._indexed`` door for giant benchmarks).
    5. per-source contribution caps ACROSS batches — a mergeable count
       state table ``{table}_src_counts`` (the :func:`merge_batch_into_state`
       machinery, hll-free) tracks accepted docs per source; each batch
       admits only up to the REMAINING budget per source, chosen by the
       same md5 priority as :func:`~..operators.transform.cap_per_group`
       so the admitted set is deterministic under replays/retries.
    0. URL door (round 8, ``url_col``) — the CHEAPEST gate runs first:
       batch rows are deduped at canonical-URL granularity
       (:func:`~..operators.urls.url_dedup`, smallest id wins) and rows
       whose canonical URL is already in the corpus are anti-joined away
       BEFORE any content hashing/shingling — the CCNet crawl-ingest
       shape (most re-crawls are the same URL; content dedup only sees
       the residue). The corpus table carries ``canonical_url`` as a
       provenance column so the door is one equi-anti-join on a string
       key; rows that don't canonicalize (no http/https scheme) skip the
       door and fall through to the content gates. At 100 TB pass
       ``url_index`` (a :func:`~..operators.urls.persist_url_index`
       params dict): the anti-join then probes the BUCKETED canonical-URL
       table bucket-locally instead of re-reading the corpus per batch,
       and accepted canonicals append bucket-stably after the write.
    6. per-source BYTE budgets across batches (round 8,
       ``byte_budget_per_source``) — the size-aware sibling of step 5:
       a second state table ``{table}_src_bytes`` accumulates ADMITTED
       ``octet_length(text)`` per source (the state's ``sum_dec``
       monoid); each batch admits rows in md5-priority order while the
       inclusive running byte sum stays within the remaining budget —
       the same prefix rule as
       :func:`~..operators.transform.cap_per_group_bytes`, so admission
       is replayable and never depends on arrival order. Composes with
       step 5 (count cap applies first).
    0.5. compliance door (round 8, ``drop_opted_out`` /
       ``license_families``) — stateless per-doc regexps from
       :mod:`~..operators.compliance` run right after the URL door:
       TDM/AI opt-out rejection and/or a rights-family allowlist
       (include ``'unknown'`` to keep undetected docs), before any
       content hashing.

    Idempotency: replayed batches re-filter against the corpus hash door
    (survivors are already in the corpus → rejected) and the counts state
    skips already-merged batch ids. Same non-atomicity caveat as the
    indexed dedup sink: a crash between the corpus append and the counts
    merge under-counts that batch (caps may overshoot by at most one
    batch's admissions), and a crash before the URL-index append leaves
    that batch's canonicals unindexed (a later CHANGED-text re-crawl of
    those URLs would pass the URL door; the content doors still reject
    unchanged text) — Delta/Iceberg would make the writes one
    transaction. The appended corpus carries ``lang_pred`` and
    ``quality_score`` as provenance columns. Returns the StreamingQuery
    handle.

    ``log_doors=True`` (round 9) appends a per-batch OBSERVABILITY row
    per door to ``{table}_ingest_log`` (batch_id, stage, n_rows) — the
    "which door rejected my data" table an ingest operator reads when a
    source's admission rate drops. Each snapshot is a count() that
    re-executes the door chain up to that stage, so the flag is for
    canaries and debugging, not the steady-state hot path (batches are
    microbatch-sized, so the cost is bounded but real).
    """
    from ..operators import classifier, textstats
    from ..operators.dedup import (
        decontaminate,
        decontaminate_neardup,
        dedup_against_corpus,
        exact_dedup,
        neardup_dedup_against_corpus,
    )
    from ..sources.catalog import table_path
    from ..sources.io import (
        append_table,
        path_exists,
        read_path,
        read_table,
        table_exists,
        write_table,
    )

    counts_table = f"{table_name}_src_counts"
    bytes_table = f"{table_name}_src_bytes"
    log_table = f"{table_name}_ingest_log"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        door_counts: list[tuple[int, str, int]] = []
        pinned: list[DataFrame] = []

        def _snap(stage: str, df: DataFrame) -> None:
            # pin each snapped relation before counting, release the
            # previous pin after (round 11 — NEXT r9 follow-up): every
            # door builds on the last door's relation, so an unpinned
            # count() chain re-executes doors 1..k at door k — O(d²)
            # door work per batch. Pinning makes each count incremental
            # from the previous door's cache (O(d) total) and downstream
            # doors read the cache too; the admitted localCheckpoint at
            # the end is unaffected. No-op when log_doors is off.
            if log_doors:
                df.persist()
                door_counts.append((int(batch_id), stage, int(df.count())))
                while pinned:
                    pinned.pop().unpersist()
                pinned.append(df)

        def _flush_log() -> None:
            if not (log_doors and door_counts):
                return
            log_df = spark.createDataFrame(
                door_counts, "batch_id long, stage string, n_rows long"
            )
            if table_exists(spark, lakehouse, log_table):
                append_table(lakehouse, log_table, log_df)
            else:
                write_table(lakehouse, log_table, log_df)

        _snap("arrived", batch_df)
        if url_col is not None:
            # in-batch URL door first — cheapest gate, biggest cut on
            # re-crawls; appends the canonical_url provenance column the
            # cross-batch anti-join below keys on
            from ..operators.urls import url_dedup as _url_dedup
            from ..operators.urls import urls_against_index as _urls_probe

            batch_df = _url_dedup(batch_df, url_col, tiebreak=id_col)
            if url_index is not None:
                # bucket-local cross-batch door: probe the persisted
                # canonical-URL index instead of scanning the corpus below
                batch_df = _urls_probe(
                    batch_df.drop("canonical_url"), url_index, url_col
                )
            _snap("url_door", batch_df)
        if drop_opted_out or license_families is not None:
            # compliance door (round 8): stateless per-doc regexps —
            # cheaper than any hashing gate, and an opted-out or
            # wrong-license doc must never reach the corpus
            from ..operators import compliance as comp

            if drop_opted_out:
                batch_df = batch_df.where(
                    ~F.coalesce(comp.opt_out_col(text_col), F.lit(False))
                )
            if license_families is not None:
                batch_df = batch_df.where(
                    comp.license_family_col(text_col).isin(
                        *list(license_families)
                    )
                )
            _snap("compliance_door", batch_df)
        if lang_model is not None:
            pred = classifier.lang_id_nb(
                batch_df, lang_model, id_col=id_col, text_col=text_col
            )
            gated = batch_df.join(pred, id_col)
        else:
            gated = textstats.with_lang_id(batch_df, text_col)
        gated = textstats.with_quality_score(gated, text_col).where(
            F.col("lang_pred").isin(*list(keep_langs))
            & (F.col("quality_score") >= float(min_quality))
        )
        _snap("lang_quality_gate", gated)
        scope = CacheScope()
        if benchmark_df is not None:
            # both decontamination doors per batch: exact n-gram first
            # (verbatim leaks), then the MinHash probe (paraphrased leaks
            # the exact pass misses) — the benchmark is static, so any
            # batch a leak arrives in rejects it
            gated = decontaminate(
                gated, benchmark_df, id_col, text_col, n=decontaminate_ngram
            )
            gated = decontaminate_neardup(
                gated, benchmark_df, id_col, text_col,
                n=decontaminate_fuzzy_ngram,
                threshold=decontaminate_fuzzy_threshold,
                scope=scope,
            )
            _snap("decontamination_door", gated)
        # in-batch exact door on the SAME trimmed-content hash the corpus
        # door uses (dedup_against_corpus normalize=True) — raw-text
        # equality would let trim-equal rows through within one batch
        batch = exact_dedup(
            gated.withColumn("__h", F.md5(F.trim(F.col(text_col)))),
            ["__h"],
            tiebreak=[id_col],
        ).drop("__h")
        _snap("in_batch_exact", batch)
        try:
            path = table_path(lakehouse, table_name)
            if path_exists(spark, path):
                corpus = read_path(spark, path)
                if (
                    url_col is not None
                    and url_index is None
                    and "canonical_url" in corpus.columns
                ):
                    # cross-batch URL door (inline form): one string-key
                    # anti-join over the corpus column; NULL canonicals
                    # (uncanonicalizable rows) never match and fall through
                    # to the content gates. The indexed form already ran
                    # before the gates.
                    known = (
                        corpus.select("canonical_url")
                        .where(F.col("canonical_url").isNotNull())
                        .distinct()
                    )
                    batch = batch.join(known, "canonical_url", "left_anti")
                batch = dedup_against_corpus(batch, corpus, text_col)
                if near_dup:
                    # neardup_plan: a dedup.lsh_plan dict retargeting the
                    # probe banding (batch-pipeline parity)
                    batch = neardup_dedup_against_corpus(
                        batch, corpus, id_col, text_col,
                        threshold=threshold, scope=scope,
                        plan=neardup_plan,
                    )
                _snap("corpus_doors", batch)
            if cap_per_source is not None:
                from pyspark.sql import Window

                pri = F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("cap"), F.col(id_col).cast("string"))),
                        1, 15,
                    ), 16, 10,
                ).cast("long")
                w = Window.partitionBy(source_col).orderBy(
                    pri.asc(), F.col(id_col).asc()
                )
                batch = batch.withColumn("__rn", F.row_number().over(w))
                if table_exists(spark, lakehouse, counts_table):
                    used = read_table(spark, lakehouse, counts_table).select(
                        F.col(source_col), F.col("cnt").alias("__used")
                    )
                    batch = batch.join(F.broadcast(used), source_col, "left")
                else:
                    batch = batch.withColumn("__used", F.lit(None).cast("long"))
                batch = batch.where(
                    F.col("__rn")
                    <= F.lit(int(cap_per_source)) - F.coalesce("__used", F.lit(0))
                ).drop("__rn", "__used")
            if byte_budget_per_source is not None:
                from pyspark.sql import Window

                # inclusive running byte sum in md5-priority order vs the
                # REMAINING budget (accumulated admitted bytes live in the
                # {table}_src_bytes state's sum_dec monoid) — the
                # cap_per_group_bytes prefix rule, replay-deterministic
                prib = F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("capb"), F.col(id_col).cast("string"))),
                        1, 15,
                    ), 16, 10,
                ).cast("long")
                wb = (
                    Window.partitionBy(source_col)
                    .orderBy(prib.asc(), F.col(id_col).asc())
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                batch = batch.withColumn(
                    "__nb", F.octet_length(F.col(text_col)).cast("long")
                )
                if table_exists(spark, lakehouse, bytes_table):
                    usedb = read_table(spark, lakehouse, bytes_table).select(
                        F.col(source_col),
                        F.col("sum_dec").cast("long").alias("__usedb"),
                    )
                    batch = batch.join(F.broadcast(usedb), source_col, "left")
                else:
                    batch = batch.withColumn("__usedb", F.lit(None).cast("long"))
                batch = (
                    batch.withColumn("__cumb", F.sum("__nb").over(wb))
                    .where(
                        F.col("__cumb")
                        <= F.lit(int(byte_budget_per_source))
                        - F.coalesce("__usedb", F.lit(0))
                    )
                    .drop("__cumb", "__usedb")
                )
            accepted = batch.localCheckpoint()
            _snap("admitted", accepted)
            if accepted.isEmpty():
                _flush_log()
                return
            corpus_out = accepted.drop("__nb") if byte_budget_per_source is not None else accepted
            if path_exists(spark, path):
                append_table(lakehouse, table_name, corpus_out)
            else:
                write_table(lakehouse, table_name, corpus_out)
            if cap_per_source is not None:
                merge_batch_into_state(
                    lakehouse, counts_table, [source_col], id_col,
                    accepted, batch_id, with_hll=False,
                )
            if byte_budget_per_source is not None:
                merge_batch_into_state(
                    lakehouse, bytes_table, [source_col], "__nb",
                    accepted, batch_id, with_hll=False,
                )
            if url_index is not None:
                from ..operators.urls import append_url_index as _url_append

                _url_append(accepted, url_index)
            _flush_log()
        finally:
            while pinned:
                pinned.pop().unpersist()
            scope.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
