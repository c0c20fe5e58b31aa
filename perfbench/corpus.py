"""corpus_prep: one operation prepares one shard of generated
multilingual documents with planted duplicate clusters
(``pipeline.prepare_corpus``), writes the packed output
(``io.write_table``) clustered by pack id (``io.cluster_table``), and
serves a training loader's first packs from it: a pack-id range read
through a zone map (``io.read_pruned``) summarised by SQL over a
registered view (``query.sql_over``)."""

from __future__ import annotations

import math
import os

import duckdb

from ecu_sbl_aace_datalake_spark.caching import CacheScope
from ecu_sbl_aace_datalake_spark.operators import pipeline, query
from ecu_sbl_aace_datalake_spark.sources import io
from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse

import gen
import probe

PACK_BUDGET = 512
N_SHARDS = 2
OUT = "packed"
OUT_FILES = 4
LOADER_PACKS = 2
LOADER_SQL = (
    "SELECT source, lang_pred, count(*) AS docs, sum(n_tokens) AS tokens, "
    "count(DISTINCT pack_id) AS packs, avg(quality_score) AS quality FROM packs "
    f"WHERE pack_id BETWEEN 0 AND {LOADER_PACKS - 1} GROUP BY source, lang_pred")


class Corpus:
    name = "corpus_prep"
    items_per_op = gen.CorpusSource.DOCS

    def __init__(self, ctx, seed: int) -> None:
        self.ctx = ctx
        self.seed = seed

    def generate(self, root: str) -> None:
        self.root = root
        self.lh = Lakehouse("bench_corpus", os.path.join(root, "lake"))
        src = gen.CorpusSource(self.seed)
        self.shards = []
        for j in range(N_SHARDS):
            table, truth = src.shard(first_id=1 + j * 10 * gen.CorpusSource.DOCS)
            path = os.path.join(root, "input", f"shard_{j}.parquet")
            size = gen.write(table, path)
            tokens = {d: len(t.split()) for d, t in zip(
                table.column("doc_id").to_pylist(), table.column("text").to_pylist())}
            self.shards.append({"path": path, "bytes": size, "truth": truth, "tokens": tokens})
        self.done: list[tuple] = []  # (op, shard, snapshot dir, loader rows)
        self.storage_mb: list[float] = []

    def load(self) -> None:
        """Nothing to write: each operation reads its shard's input file."""

    def _shard(self, i: int) -> int:
        return i % N_SHARDS if i >= 0 else N_SHARDS - 1

    def op(self, i: int) -> None:
        spark = self.ctx.spark
        docs = spark.read.parquet(self.shards[self._shard(i)]["path"])
        scope = CacheScope()
        packed = pipeline.prepare_corpus(
            docs, id_col="doc_id", text_col="text", shard_cols=("source",),
            keep_langs=gen.KEEP_LANGS, pack_budget=PACK_BUDGET, scope=scope)
        io.write_table(self.lh, OUT, packed)
        self.ctx.wrote()
        scope.unpersist()
        io.cluster_table(spark, self.lh, OUT, by="pack_id", n_files=OUT_FILES)
        self.ctx.wrote()
        zmap = io.zone_map(spark, self.lh, OUT, ["pack_id"])
        first, _ = io.read_pruned(spark, self.lh, OUT, {"pack_id": (0, LOADER_PACKS - 1)},
                                  zmap=zmap)
        out = query.sql_over(spark, first, "packs", LOADER_SQL)
        self.loader = [tuple(r) for r in
                       self.ctx.call_span("operators.query.sql_over.exec", out.collect)]

    def op_input_bytes(self, i: int) -> int:
        return self.shards[self._shard(i)]["bytes"]

    def after_op(self, i: int) -> None:
        snap = os.path.join(self.root, "snap", f"op_{i}")
        os.makedirs(os.path.dirname(snap), exist_ok=True)
        os.rename(os.path.join(self.lh.tables_path, OUT), snap)
        self.done.append((i, self._shard(i), snap, self.loader))
        self.storage_mb.append(self.ctx.counters.storage_mb())

    def check(self) -> dict[int, list[str]]:
        con = duckdb.connect()
        out = {}
        for i, j, snap, loader in self.done:
            files = os.path.join(snap, "*.parquet")
            rows = con.execute(
                "SELECT doc_id, source, pack_id FROM read_parquet(?)", [files]).fetchall()
            out[i] = self._check(self.shards[j], rows)
            # DuckDB runs the loader's SQL over the same packed files
            con.execute(f"CREATE OR REPLACE VIEW packs AS SELECT * FROM read_parquet('{files}')")
            if not same_rows(loader, con.execute(LOADER_SQL).fetchall()):
                out[i].append("loader summary differs from DuckDB's")
        con.close()
        return out

    @staticmethod
    def _check(shard: dict, rows: list) -> list[str]:
        errs = []
        truth, tokens = shard["truth"], shard["tokens"]
        ids = [r[0] for r in rows]
        if len(set(ids)) != len(ids):
            errs.append("a document survives twice")
        alien = [d for d in ids if d not in truth["lang"]]
        if alien:
            errs.append(f"{len(alien)} survivors are not input documents")
        wrong_lang = [d for d in ids if truth["lang"].get(d) not in gen.KEEP_LANGS]
        if wrong_lang:
            errs.append(f"{len(wrong_lang)} survivors are in a dropped language")
        survivors = set(ids)
        for c, members in truth["clusters"].items():
            if truth["cluster_langs"][c] not in gen.KEEP_LANGS:
                continue
            kept = survivors.intersection(members)
            if len(kept) != 1:
                errs.append(f"planted cluster {c} keeps {len(kept)} documents")
        packs: dict[tuple, int] = {}
        for d, source, pack in rows:
            packs[(source, pack)] = packs.get((source, pack), 0) + tokens.get(d, 0)
        over = [k for k, v in packs.items() if v > PACK_BUDGET]
        if over:
            errs.append(f"{len(over)} packs exceed the {PACK_BUDGET}-token budget")
        return errs

    def write_ratio(self, op_written: list[int], op_inputs: list[int]) -> float:
        return sum(op_written) / sum(op_inputs)

    def stored_ratio(self) -> float:
        """Packed output bytes ÷ input shard bytes, over the timed ops."""
        timed = [(j, snap) for i, j, snap, _ in self.done if i >= 0]
        return (sum(probe.bytes_under(snap) for _, snap in timed)
                / sum(self.shards[j]["bytes"] for j, _ in timed))


def _key(row) -> tuple:
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


def same_rows(a: list, b: list) -> bool:
    """Equal as multisets of rows, doubles compared to a relative 1e-9."""
    if len(a) != len(b):
        return False
    for x, y in zip(sorted(a, key=_key), sorted(b, key=_key)):
        if len(x) != len(y):
            return False
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True
