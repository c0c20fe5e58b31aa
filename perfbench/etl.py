"""lakehouse_etl: one operation is one ingest cycle. A bronze batch of
orders is cast, null-filled, name-cleaned and upserted into a
date-partitioned silver table; the table is compacted, and the star is
rebuilt from it: dimensions with contiguous surrogate keys and a gold
fact table mapped onto them."""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from ecu_sbl_aace_datalake_spark.functions import cleaning
from ecu_sbl_aace_datalake_spark.operators import star, transform
from ecu_sbl_aace_datalake_spark.sources import incremental, io
from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse

import gen
import probe

SILVER, GOLD = "silver_orders", "gold_orders"
DIMS = ("customer", "product")
TABLES = (SILVER, GOLD, *[f"dim_{c}" for c in DIMS])
COLS = ["order_id", "event_date", "customer", "product", "status", "quantity",
        "amount", "discount"]


class Etl:
    name = "lakehouse_etl"
    # Each Spark job costs at least ~0.2 s here and an upsert runs about a
    # dozen, so a cycle holds one batch to keep several cycles in a run.
    items_per_op = gen.EtlSource.BATCH_ROWS

    def __init__(self, ctx, seed: int) -> None:
        self.ctx = ctx
        self.seed = seed

    # ------------------------------------------------------------ setup
    def generate(self, root: str) -> None:
        """Generate the history and the first batch."""
        self.root = root
        self.src = gen.EtlSource(self.seed)
        self.lh = Lakehouse("bench_etl", os.path.join(root, "lake"))
        self.cycles: list[dict] = []  # every cycle run, warm-up included
        bronze, self.initial_truth, _ = self.src.initial()
        gen.write(bronze, os.path.join(root, "input", "initial.parquet"))
        self.bronze = [bronze]
        self._next_cycle()

    def load(self) -> None:
        """Write the history as the silver table; it is loaded already
        curated (typed and cleaned)."""
        history = self.ctx.spark.createDataFrame(self.initial_truth.to_pandas()).withColumn(
            "event_date", F.to_date("event_date"))
        io.write_table(self.lh, SILVER, history.select(*COLS), partition_by="event_date")

    def _next_cycle(self) -> None:
        """Write the bronze batch of the next cycle (outside any timing)."""
        bronze, truth, planted = self.src.batch()
        path = os.path.join(self.root, "input", f"batch_{len(self.cycles)}.parquet")
        size = gen.write(bronze, path)
        self.bronze.append(bronze)
        self.cycles.append({"path": path, "bytes": size, "truth": truth, "planted": planted,
                            "failures": None, "snapshot": None})

    # ------------------------------------------------------------ the operation
    def _clean(self, path: str):
        df = self.ctx.spark.read.parquet(path)
        df, f_qty = transform.cast_columns(df, "quantity", "int")
        df, f_amt = transform.cast_columns(df, "amount", "double")
        df, f_day = transform.cast_columns(df, "event_date", "date")
        df = df.drop(*[c for c in df.columns if c.endswith("_orig")])
        df = transform.set_null_to_zero(df, ["quantity", "amount", "discount"])
        df = self.ctx.call_span(
            "functions.cleaning.fix_up_name_udf",
            lambda: df.withColumn("customer", cleaning.fix_up_name_udf("customer")),
        )
        return df.select(*COLS), {**f_qty, **f_amt, **f_day}

    def op(self, i: int) -> None:
        spark, lh, wrote = self.ctx.spark, self.lh, self.ctx.wrote
        cycle = self.cycles[-1]
        cleaned, cycle["failures"] = self._clean(cycle["path"])
        incremental.upsert_table(spark, lh, SILVER, cleaned, keys=["order_id"],
                                 partition_by="event_date")
        wrote()
        io.compact_table(spark, lh, SILVER, partition_by="event_date")
        wrote()
        gold = io.read_table(spark, lh, SILVER)
        for col in DIMS:
            io.write_table(lh, f"dim_{col}", star.build_dimension(gold, col))
            wrote()
            gold = star.simple_map(gold, io.read_table(spark, lh, f"dim_{col}"), col)
        io.write_table(lh, GOLD, gold)
        wrote()

    def op_input_bytes(self, i: int) -> int:
        return self.cycles[-1]["bytes"]

    def after_op(self, i: int) -> None:
        snap = os.path.join(self.root, "snap", f"cycle_{len(self.cycles) - 1}")
        for t in TABLES:
            shutil.copytree(os.path.join(self.lh.tables_path, t), os.path.join(snap, t))
        self.cycles[-1]["snapshot"] = snap
        self.cycles[-1]["op"] = i
        self._next_cycle()

    # ------------------------------------------------------------ checks
    def check(self) -> dict[int, list[str]]:
        """Per timed operation, the list of failed checks (empty = ok)."""
        con = duckdb.connect()
        con.register("t0", self.initial_truth)
        con.execute("CREATE TABLE expected AS SELECT * FROM t0")
        out: dict[int, list[str]] = {}
        for cycle in self.cycles:
            if cycle["snapshot"] is None:
                break
            con.register("batch", cycle["truth"])
            con.execute(
                "CREATE OR REPLACE TABLE expected AS "
                "SELECT * FROM expected WHERE order_id NOT IN (SELECT order_id FROM batch) "
                "UNION ALL SELECT * FROM batch")
            errs = self._cast_problems(cycle["failures"], cycle["planted"])
            first = cycle["truth"].slice(0, len(gen.GOLDEN_NAMES))
            golden = dict(zip(first.column("order_id").to_pylist(),
                              first.column("customer").to_pylist()))
            errs += self._check_snapshot(con, cycle["snapshot"], golden)
            out[cycle["op"]] = errs
        con.close()
        return out

    @staticmethod
    def _cast_problems(failures: dict, planted: dict) -> list[str]:
        want = {"quantity": planted["quantity"], "amount": planted["amount"], "event_date": 0}
        return [] if failures == want else [f"cast failures {failures} != planted {want}"]

    def _check_snapshot(self, con, snap: str, golden: dict[int, str]) -> list[str]:
        """``golden``: order id -> prescribed name of the cycle's rows
        carrying the planted spellings."""
        errs = []

        def part(table: str) -> str:
            files = os.path.join(snap, table, "**", "*.parquet")
            return f"read_parquet('{files}', hive_partitioning = true)"

        silver = ("SELECT order_id, CAST(event_date AS VARCHAR) AS event_date, customer, "
                  f"product, status, quantity, amount, discount FROM {part(SILVER)}")
        expected = f"SELECT {', '.join(COLS)} FROM expected"
        if not same_multiset(con, silver, expected):
            errs.append("silver differs from existing rows minus matched keys plus updates")
        for col in DIMS:
            idx = f"index{col}"
            n, n_idx, lo, hi, n_nat, n_silver = con.execute(
                f"SELECT count(*), count(DISTINCT {idx}), min({idx}), max({idx}), "
                f"count(DISTINCT {col}), (SELECT count(DISTINCT {col}) FROM {part(SILVER)}) "
                f"FROM {part(f'dim_{col}')}").fetchone()
            if not (n == n_idx == n_nat == n_silver == hi and lo == 1):
                errs.append(f"dim_{col} keys are not 1..n over the silver values: "
                            f"{(n, n_idx, lo, hi, n_nat, n_silver)}")
        cleaned = dict(con.execute(
            f"SELECT order_id, customer FROM {part(SILVER)} WHERE order_id IN "
            f"({', '.join('?' * len(golden))})", list(golden)).fetchall())
        if cleaned != golden:
            errs.append(f"planted names not cleaned as prescribed: {cleaned} != {golden}")
        restored = (
            "SELECT g.order_id, CAST(g.event_date AS VARCHAR) AS event_date, c.customer, "
            "p.product, g.status, g.quantity, g.amount, g.discount "
            f"FROM {part(GOLD)} g "
            f"JOIN {part('dim_customer')} c ON g.indexcustomer = c.indexcustomer "
            f"JOIN {part('dim_product')} p ON g.indexproduct = p.indexproduct")
        if not same_multiset(con, restored, silver):
            errs.append("gold joined to its dimensions does not restore silver")
        return errs

    # ------------------------------------------------------------ ratios
    def write_ratio(self, op_written: list[int], op_inputs: list[int]) -> float:
        return sum(op_written) / sum(op_inputs)

    def stored_ratio(self) -> float:
        """Live table bytes ÷ bytes of the live rows in their bronze form
        (latest version of each key, written as the generator writes)."""
        live = probe.bytes_under(self.lh.tables_path)
        allrows = pa.concat_tables(self.bronze[: 1 + self._done_cycles()])
        ids = allrows.column("order_id").to_numpy()
        rev = ids[::-1]
        _, first_rev = np.unique(rev, return_index=True)
        keep = np.sort(len(ids) - 1 - first_rev)
        path = os.path.join(self.root, "live_bronze.parquet")
        size = gen.write(allrows.take(pa.array(keep)), path)
        return live / size

    def _done_cycles(self) -> int:
        return sum(1 for c in self.cycles if c["snapshot"] is not None)


def same_multiset(con, a: str, b: str) -> bool:
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
        f"(SELECT count(*) FROM ({b} EXCEPT ALL {a})) + "
        f"abs((SELECT count(*) FROM ({a})) - (SELECT count(*) FROM ({b})))").fetchone()[0] == 0

