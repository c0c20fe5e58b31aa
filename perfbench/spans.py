"""Traced mode: a span around every call from the benchmark into a layer
of the program, kept in memory and written as JSON when the run ends.

Spans are opened by wrappers defined here and installed over the
program's module functions, so calls the program makes between its own
modules (``pipeline.prepare_corpus`` calling ``dedup.minhash_dedup``, say)
are spanned too. A wrapper materialises a returned DataFrame to Spark's
``noop`` sink inside its span, so the span covers that layer's execution
(and any upstream plan it recomputes); that extra work is why traced runs
are kept apart from measured ones.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import probe

PKG = "ecu_sbl_aace_datalake_spark"

# module (relative to the package) -> functions that get a span
LAYERS = {
    "session": ["get_spark"],
    "sources.io": ["write_table", "read_table", "read_pruned", "zone_map",
                   "compact_table", "cluster_table"],
    "sources.incremental": ["upsert_table"],
    "operators.transform": ["cast_columns", "set_null_to_zero"],
    "operators.star": ["build_dimension", "simple_map"],
    "operators.query": ["sql_over"],
    "operators.textstats": ["with_lang_id", "with_quality_score"],
    "operators.dedup": ["exact_dedup", "minhash_dedup", "lsh_candidate_pairs",
                        "jaccard_verify"],
    "operators.packing": ["with_token_count", "greedy_pack"],
    "operators.pipeline": ["prepare_corpus"],
}

# returned DataFrames the benchmark itself executes in a span of its own
NOT_MATERIALISED = {"operators.query.sql_over"}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | int = "setup"
        self.counters = None  # probe.SparkCounters once the session exists
        self.group = "setup"
        self._done: list[DataFrame] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def jobs(self) -> set[int]:
        return set(self.counters.jobs(self.group)) if self.counters else set()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` in a span; record the Spark jobs it ran and the
        layer's counts, then materialise what it returned."""
        with self.span(name) as rec:
            jobs0 = self.jobs()
            before = _files_before(name, args)
            out = fn(*args, **kwargs)
            rec["job_ids"] = sorted(self.jobs() - jobs0)
            _after(self, name, args, kwargs, out, rec, before)
        return out

    def materialise(self, df: DataFrame) -> None:
        if any(d is df for d in self._done):
            return
        df.write.format("noop").mode("overwrite").save()
        self._done.append(df)

    def end_op(self) -> None:
        self._done.clear()

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        out = [dict(s, self_s=t) for s, t in zip(self.spans, selfs)]
        with open(path, "w") as f:
            json.dump({"spans": out, **extra}, f)


def _table_dir(name: str, args) -> str | None:
    """Local directory of the table a write-side layer call touches."""
    from ecu_sbl_aace_datalake_spark.sources.catalog import table_path

    if name == "sources.io.write_table":
        return table_path(args[0], args[1])
    if name in ("sources.io.compact_table", "sources.incremental.upsert_table"):
        return table_path(args[1], args[2])
    return None


def _files_before(name: str, args) -> dict | None:
    path = _table_dir(name, args)
    return None if path is None else probe.files_under(path)


def _after(tracer: Tracer, name: str, args, kwargs, out, rec, before) -> None:
    """Per-layer counts taken inside the span, after the call."""
    from ecu_sbl_aace_datalake_spark.plans import metrics

    c = rec["counts"]
    if before is not None:
        after = probe.files_under(_table_dir(name, args))
        c["bytes_written"] = probe.new_bytes(before, after)
        c["files"] = sum(1 for p in after if p not in before and p.endswith(".parquet"))
    if name == "operators.star.simple_map":
        m = metrics.execution_metrics(out)
        c["broadcast_bytes"] = m.get("broadcast_data_size", 0)
        return
    if name == "operators.dedup.lsh_candidate_pairs":
        c["candidates"] = out.count()
        return
    if name == "operators.dedup.jaccard_verify":
        c["verified"] = out.count()
        return
    if name == "operators.packing.greedy_pack":
        budget = args[1] if len(args) > 1 else kwargs["budget"]
        shards = list(kwargs.get("shard_cols", ("source",)))
        token_col = kwargs.get("token_col", "n_tokens")
        out_col = kwargs.get("out_col", "pack_id")
        per_pack = out.groupBy(*shards, out_col).agg(F.sum(token_col).alias("t"))
        row = per_pack.agg(F.count("*"), F.sum("t")).first()
        c["packs"], c["tokens"], c["budget"] = int(row[0]), int(row[1]), int(budget)
        return
    if name == "sources.io.read_pruned":
        c["files_read"] = out[1]["files_read"]
        c["files_total"] = out[1]["files_total"]
    if name == "sources.io.compact_table":
        c["bytes_rewritten"] = out["after"]["total_bytes"]
    if name == "sources.incremental.upsert_table":
        c["partitions_rewritten"] = out.get("partitions_rewritten", 0)
    frame = out if isinstance(out, DataFrame) else (
        out[0] if isinstance(out, tuple) and out and isinstance(out[0], DataFrame) else None)
    if frame is not None and name not in NOT_MATERIALISED:
        tracer.materialise(frame)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return tracer.call(name, fn, *args, **kwargs)

    return traced


def install(tracer: Tracer) -> None:
    """Replace each listed function, in its module and wherever another
    module of the package imported it by name."""
    import importlib

    originals = {}
    for mod_name, fns in LAYERS.items():
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        for fn in fns:
            orig = getattr(mod, fn)
            originals[id(orig)] = _wrap(tracer, f"{mod_name}.{fn}", orig)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in originals:
                setattr(mod, attr, originals[id(val)])
