"""Driver-facing query registry: every implemented operator as a
(spark_fn, oracle_sql) pair for the DuckDB correctness gate.

Each entry exercises one operator cluster from SURVEY.md §2 through the
engine's own API (not ad-hoc SQL), with an ANSI-SQL oracle DuckDB runs on the
same parquet fixtures. Column names/aliases match on both sides; doubles
produced by multi-row aggregation are rounded identically on both sides so
the order-insensitive value hash is stable.

Oracle-less entries (value ``None``) are genuinely non-SQL-expressible
(difflib fuzzy matching, xxhash64 signatures, approximate LSH) and are
covered by golden unit tests in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cleaning
from ..operators import (
    aggstate,
    dedup,
    graph,
    joins,
    ml,
    profile,
    similarity,
    skew,
    star,
    textstats,
    timeseries,
    transform,
)
from ..operators.query import build_select_sql, clean_string_col, sql_over
from ..sources.io import load_table
from ..streaming import events as ev


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# One outstanding CacheScope per query name: releases the PREVIOUS call's
# pipeline caches when the query is built again, so long-lived sessions
# stay leak-bounded (≤ 1 corpus-sized cache set per query) WITHOUT eagerly
# materializing inside the builder — the round-7 localCheckpoint shape cost
# ~0.8 s/run at sf0.1 (measured A/B) because it ran the pipeline before the
# caller's own action and paid the checkpoint store on top.
_QUERY_SCOPES: dict = {}


def _rotating_scope(name: str):
    from ..caching import CacheScope

    old = _QUERY_SCOPES.pop(name, None)
    if old is not None:
        old.unpersist()
    scope = CacheScope()
    _QUERY_SCOPES[name] = scope
    return scope


# --------------------------------------------------------------------------
# §2.1/2.2 — scans, SQL-over-DataFrames
# --------------------------------------------------------------------------

def q_flagship_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → groupBy agg → sort. The flagship:
    exercises pushdown (shipdate filter reaches the parquet scan), partial
    aggregation, and whole-stage codegen end to end."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_FLAGSHIP = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)        AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)   AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4)        AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)   AS avg_price,
       ROUND(AVG(l_discount), 4)        AS avg_disc,
       CAST(COUNT(*) AS BIGINT)         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sql_over (reference sqlQueryDataFrame common.py:172-205): register
    three DataFrames as views, run one multi-join aggregation SQL."""
    dfs = [_t(spark, sf_dir, n) for n in ("orders", "customer", "nation")]
    return sql_over(
        spark,
        dfs,
        ["orders_v", "customer_v", "nation_v"],
        """
        SELECT n_name,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders_v
        JOIN customer_v ON o_custkey = c_custkey
        JOIN nation_v   ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
    )


SQL_SQL_OVER_VIEWS = """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_project_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getColsFromTable distinct (reference common.py:377-378)."""
    from ..operators.query import get_cols_from_df

    return get_cols_from_df(_t(spark, sf_dir, "customer"), "c_mktsegment", distinct=True)


SQL_PROJECT_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer"


def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readTable fixed (reference bug #1, common.py:475-489): projection +
    condition actually applied, pushed into the scan."""
    df = _t(spark, sf_dir, "orders")
    return df.select("o_orderkey", "o_custkey", "o_totalprice").where(
        "o_totalprice > 150000"
    )


SQL_SCAN_FILTER_PROJECT = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
"""


def q_select_sql_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_select_sql distinct-as-GROUP-BY (reference getSQL
    common.py:359-367) executed through sql_over."""
    sql = build_select_sql("orders_v", ["o_orderstatus", "o_orderpriority"], distinct=True)
    return sql_over(spark, _t(spark, sf_dir, "orders"), "orders_v", sql)


SQL_SELECT_SQL_DISTINCT = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + filter + agg + top-k by revenue."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1996-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join with small-dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over text (emails/phones/IPv4) — synthetic PII planted
    deterministically so the redaction path is actually exercised."""
    from ..functions.redact import redact_pii_col

    docs = _t(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-867-530"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(" from 192.168.1."), (F.col("doc_id") % 255).cast("string"),
        ).alias("text"),
    )
    return dirty.select(
        "doc_id", F.md5(redact_pii_col("text")).alias("redacted_md5")
    )


SQL_PII_REDACTION = r"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-867-530' || CAST(doc_id % 10 AS VARCHAR)
              || ' from 192.168.1.' || CAST(doc_id % 255 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g')
  ) AS redacted_md5
FROM dirty
"""


# --------------------------------------------------------------------------
# §2.4/2.5 — star-schema kit
# --------------------------------------------------------------------------

def q_dim_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_dimension (reference getDistinctValsFromDataRowsInt
    common.py:732-754): distinct dim + contiguous surrogate key."""
    return star.build_dimension(_t(spark, sf_dir, "orders"), "o_orderpriority")


SQL_DIM_BUILD = """
SELECT CAST(row_number() OVER (ORDER BY o_orderpriority) AS BIGINT) AS "indexoorderpriority",
       o_orderpriority
FROM (SELECT DISTINCT o_orderpriority FROM orders)
"""


def q_dim_build_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension with a count measure (rowCountCol mode of the reference)."""
    return star.build_dimension(
        _t(spark, sf_dir, "orders"), "o_orderpriority", row_count_col="o_orderkey"
    )


SQL_DIM_BUILD_COUNTS = """
SELECT CAST(row_number() OVER (ORDER BY o_orderpriority) AS BIGINT) AS "indexoorderpriority",
       o_orderpriority,
       CAST(COUNT(o_orderkey) AS BIGINT) AS o_orderkey
FROM orders
GROUP BY o_orderpriority
"""


def q_dim_build_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column dimension: composite natural key with one contiguous
    surrogate (reference supported colNames lists, common.py:732-754)."""
    return star.build_dimension(
        _t(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"]
    )


SQL_DIM_BUILD_MULTI = """
SELECT CAST(row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT)
         AS "indexoorderstatusoorderpriority",
       o_orderstatus, o_orderpriority
FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
"""


def q_simple_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simple_map (reference simpleMap common.py:932-964): null-safe
    broadcast join swapping the natural key for the surrogate in place."""
    orders = _t(spark, sf_dir, "orders")
    dim = star.build_dimension(orders, "o_orderpriority")
    mapped = star.simple_map(orders, dim, "o_orderpriority", validate=False)
    return mapped.withColumn("o_orderdate", F.to_date("o_orderdate"))


SQL_SIMPLE_MAP = """
WITH dim AS (
  SELECT CAST(row_number() OVER (ORDER BY o_orderpriority) AS BIGINT) AS idx,
         o_orderpriority
  FROM (SELECT DISTINCT o_orderpriority FROM orders)
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       d.idx AS "indexoorderpriority"
FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority
"""


def q_simple_map_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key dimension mapping: two natural key columns swapped for
    one surrogate at the first key's position."""
    orders = _t(spark, sf_dir, "orders")
    dim = star.build_dimension(orders, ["o_orderstatus", "o_orderpriority"])
    mapped = star.simple_map_multi(
        orders, dim, ["o_orderstatus", "o_orderpriority"], validate=False
    )
    return mapped.withColumn("o_orderdate", F.to_date("o_orderdate"))


SQL_SIMPLE_MAP_MULTI = """
WITH dim AS (
  SELECT CAST(row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT) AS idx,
         o_orderstatus, o_orderpriority
  FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
)
SELECT o.o_orderkey, o.o_custkey, d.idx AS "indexoorderstatusoorderpriority",
       o.o_totalprice, CAST(o.o_orderdate AS DATE) AS o_orderdate
FROM orders o
JOIN dim d ON o.o_orderstatus = d.o_orderstatus
          AND o.o_orderpriority = d.o_orderpriority
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eqNullSafe join (reference getJoinCondition common.py:918-924):
    NULL keys match NULL keys."""
    orders = _t(spark, sf_dir, "orders")
    left = orders.select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("k")
    )
    right = (
        orders.select(F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("k2"))
        .groupBy("k2")
        .agg(F.count("*").alias("cnt"))
    )
    return left.join(
        F.broadcast(right), star.null_safe_eq(left["k"], right["k2"]), "inner"
    ).select("o_orderkey", "k", "cnt")


SQL_NULL_SAFE_JOIN = """
WITH l AS (SELECT o_orderkey, NULLIF(o_orderstatus, 'F') AS k FROM orders),
     r AS (SELECT NULLIF(o_orderstatus, 'F') AS k2, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM orders GROUP BY 1)
SELECT l.o_orderkey, l.k, r.cnt
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k2
"""


# --------------------------------------------------------------------------
# §2.8 — transforms
# --------------------------------------------------------------------------

def q_cast_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cast_columns (reference castColumns common.py:836-869): null-on-fail
    casts, failed column keeps its _orig twin."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_brand")
    out, _failures = transform.cast_columns(part, ["p_size"], cast="string")
    out, _failures = transform.cast_columns(out, ["p_brand"], cast="int")
    return out.select("p_partkey", "p_size", "p_brand", "p_brand_orig")


SQL_CAST_COLUMNS = """
SELECT p_partkey,
       CAST(p_size AS VARCHAR)        AS p_size,
       TRY_CAST(p_brand AS INTEGER)   AS p_brand,
       p_brand                        AS p_brand_orig
FROM part
"""


def q_null_to_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set_null_to_zero (reference setNullToZero common.py:772-779); nulls
    synthesized since fixtures have none."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_acctbal",
        F.when(F.col("c_acctbal") < 500, F.lit(None)).otherwise(F.col("c_acctbal")),
    )
    return transform.set_null_to_zero(cust, ["c_acctbal", "not_a_column"]).select(
        "c_custkey", "c_acctbal"
    )


SQL_NULL_TO_ZERO = """
SELECT c_custkey,
       COALESCE(CASE WHEN c_acctbal < 500 THEN NULL ELSE c_acctbal END, 0) AS c_acctbal
FROM customer
"""


def q_text_when_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set_text_when_null (reference setDFTextWhenNull common.py:762-764)."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_orderstatus", F.nullif(F.col("o_orderstatus"), F.lit("O"))
    )
    return transform.set_text_when_null(orders, "o_orderstatus", "OPEN").select(
        "o_orderkey", "o_orderstatus"
    )


SQL_TEXT_WHEN_NULL = """
SELECT o_orderkey, COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS o_orderstatus
FROM orders
"""


def q_add_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_index_col with contiguous row_number semantics (reference
    addIndexCol common.py:888-897; bug #4 fixed)."""
    return transform.add_index_col(
        _t(spark, sf_dir, "nation"), "idx", order_by=["n_name"], index_start=0
    )


SQL_ADD_INDEX = """
SELECT CAST(row_number() OVER (ORDER BY n_name) AS BIGINT) AS idx,
       n_nationkey, n_name, n_regionkey
FROM nation
"""


def q_rename_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rename_columns_with_prefix (reference common.py:807-810), then strip
    round-trips back (common.py:818-828) on one column to exercise both."""
    region = _t(spark, sf_dir, "region")
    prefixed = transform.rename_columns_with_prefix(region, "dim")
    return prefixed


SQL_RENAME_PREFIX = """
SELECT r_regionkey AS dim_r_regionkey, r_name AS dim_r_name FROM region
"""


def q_extra_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_extra_row (reference createExtraRow common.py:787-799)."""
    region = _t(spark, sf_dir, "region")
    return transform.create_extra_row(spark, region, [99, "SYNTHETIC"])


SQL_EXTRA_ROW = """
SELECT r_regionkey, r_name FROM region
UNION ALL SELECT 99, 'SYNTHETIC'
"""


def q_garbage_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """garbage_clo as a native expression (reference garbageCLO
    common.py:695-699 was a row-UDF; here: pure codegen)."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "dirty",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("n/a"))
        .when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment")),
    )
    return cust.select(
        "c_custkey", "dirty", cleaning.garbage_clo_col("dirty").alias("is_garbage")
    )


SQL_GARBAGE_FLAGS = """
WITH d AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'n/a'
              WHEN c_custkey % 7 = 0 THEN NULL
              ELSE c_mktsegment END AS dirty
  FROM customer
)
SELECT c_custkey, dirty,
       (dirty IS NULL OR trim(dirty) = '' OR lower(trim(dirty)) = 'n/a') AS is_garbage
FROM d
"""


def q_clean_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_string as a column expression (reference cleanString
    common.py:124-127)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey", clean_string_col("c_name").alias("c_name_clean")
    )


SQL_CLEAN_STRING = """
SELECT c_custkey, regexp_replace(c_name, '[^a-zA-Z0-9_]', '', 'g') AS c_name_clean
FROM customer
"""


def q_df_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df_shape (reference dfShape common.py:905-908) materialized as a
    1-row DataFrame for the oracle comparison."""
    rows, ncols, _cols = transform.df_shape(_t(spark, sf_dir, "lineitem"))
    return spark.createDataFrame([(rows, ncols)], "row_count long, n_cols long")


SQL_DF_SHAPE = """
SELECT CAST(COUNT(*) AS BIGINT) AS row_count, CAST(11 AS BIGINT) AS n_cols FROM lineitem
"""


# --------------------------------------------------------------------------
# window / rollup surface (built-in Spark SQL; exposed as engine ops)
# --------------------------------------------------------------------------

def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via rank window — the canonical top-k pattern."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag window over customer order history."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


SQL_WINDOW_LAG = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev_price
FROM orders
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (free Spark SQL surface the reference lacked)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n",
            "total",
        )
    )


SQL_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality rule evaluation (expectations-style) over a customer
    table with synthesized dirt; the report's violation counts are the
    oracle-checked output."""
    from ..operators import quality as qual

    cust = _t(spark, sf_dir, "customer").withColumn(
        "seg",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("n/a"))
        .when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment")),
    )
    report, _ok = qual.check_table(
        spark,
        cust,
        [
            qual.not_null("seg"),
            qual.accepted_values(
                "seg",
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            ),
            qual.unique("c_custkey"),
            qual.in_range("c_nationkey", 0, 24),
        ],
    )
    return report


SQL_QUALITY_REPORT = """
WITH d AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'n/a'
              WHEN c_custkey % 7 = 0 THEN NULL
              ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT 'not_null' AS rule, 'seg' AS "column",
       CAST(SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
       SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM d
UNION ALL
SELECT 'accepted_values', 'seg',
       CAST(SUM(CASE WHEN seg IS NOT NULL AND seg NOT IN
            ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
            THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN seg IS NOT NULL AND seg NOT IN
            ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
            THEN 1 ELSE 0 END) = 0
FROM d
UNION ALL
SELECT 'unique', 'c_custkey',
       CAST(COALESCE((SELECT SUM(n) FROM (
          SELECT COUNT(*) AS n FROM d GROUP BY c_custkey HAVING COUNT(*) > 1
       )), 0) AS BIGINT),
       COALESCE((SELECT SUM(n) FROM (
          SELECT COUNT(*) AS n FROM d GROUP BY c_custkey HAVING COUNT(*) > 1
       )), 0) = 0
UNION ALL
SELECT 'in_range', 'c_nationkey',
       CAST(SUM(CASE WHEN c_nationkey NOT BETWEEN 0 AND 24 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN c_nationkey NOT BETWEEN 0 AND 24 THEN 1 ELSE 0 END) = 0
FROM d
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (10 buckets over [0, 500k))."""
    orders = _t(spark, sf_dir, "orders")
    width = 50000.0
    return (
        orders.withColumn(
            "bucket", F.least(F.floor(F.col("o_totalprice") / width), F.lit(9)).cast("long")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


SQL_HISTOGRAM = """
SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY 1
"""


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: pad/translate/case/substr/position/repeat."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("translated"),
        F.concat(F.upper(F.substring("c_name", 1, 4)), F.lit("::"),
                 F.lower(F.substring("c_name", -3, 3))).alias("mangled"),
        F.instr("c_name", "#").cast("long").alias("hash_pos"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
    )


SQL_STRING_FUNCTIONS = """
SELECT c_custkey,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
       upper(substring(c_name, 1, 4)) || '::' || lower(substring(c_name, length(c_name)-2, 3)) AS mangled,
       CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
       repeat('ab', 3) AS repeated
FROM customer
"""


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: slice/transform/reverse/distinct-size/
    element_at. Array results are emitted as '|'-joined fixed-format
    strings (never raw array columns): the driver's pandas canonicalizer
    hashes cell values, and python lists are unhashable — %.4f keeps the
    float text identical between Spark and DuckDB."""
    emb = _t(spark, sf_dir, "embeddings")
    arr = F.transform(F.slice("embedding", 1, 5), lambda x: F.round(x.cast("double"), 4))
    fmt = lambda a: F.array_join(  # noqa: E731
        F.transform(a, lambda x: F.format_string("%.4f", x)), "|"
    )
    return emb.select(
        "vec_id",
        fmt(arr).alias("head5"),
        fmt(F.reverse(arr)).alias("head5_rev"),
        F.size(F.array_distinct(arr)).cast("long").alias("n_distinct"),
        F.round(F.element_at(arr, -1), 4).alias("last_of_head"),
    )


SQL_ARRAY_FUNCTIONS = """
WITH t AS (
  SELECT vec_id,
         list_transform(CAST(embedding[1:5] AS DOUBLE[]), x -> ROUND(x, 4)) AS head5
  FROM embeddings
)
SELECT vec_id,
       array_to_string(list_transform(head5, x -> printf('%.4f', x)), '|') AS head5,
       array_to_string(list_transform(list_reverse(head5), x -> printf('%.4f', x)), '|') AS head5_rev,
       CAST(len(list_distinct(head5)) AS BIGINT) AS n_distinct,
       ROUND(head5[-1], 4) AS last_of_head
FROM t
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS against the fact table with an
    inter-column date comparison."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__q4_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q4_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM __q4_orders
        WHERE EXISTS (
          SELECT 1 FROM __q4_lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        )
        GROUP BY o_orderpriority
        """
    )


SQL_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
"""


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join + nested aggregation (order-count
    histogram over customers, including zero-order customers)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_CUSTOMER_DISTRIBUTION = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti-join +
    aggregation by a derived key."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__q22_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__q22_orders")
    return spark.sql(
        """
        SELECT c_nationkey,
               COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM __q22_customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM __q22_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM __q22_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
          )
        GROUP BY c_nationkey
        """
    )


SQL_DORMANT_RICH_CUSTOMERS = """
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
  )
GROUP BY c_nationkey
"""


def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist window functions."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


SQL_PERCENT_RANK = """
SELECT o_orderkey,
       ROUND(percent_rank() OVER w, 6) AS pr,
       ROUND(cume_dist() OVER w, 6) AS cd
FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity pairs (the built-in cousin of the difflib
    fuzzy matching in the cleaning functions)."""
    supp = _t(spark, sf_dir, "supplier").select("s_name")
    nation = _t(spark, sf_dir, "nation").select("n_name")
    return (
        supp.crossJoin(F.broadcast(nation))
        .withColumn(
            "dist", F.levenshtein(F.lower("s_name"), F.lower("n_name")).cast("long")
        )
        .where(F.col("dist") <= 16)
        .select("s_name", "n_name", "dist")
    )


SQL_LEVENSHTEIN_PAIRS = """
SELECT s_name, n_name, CAST(levenshtein(lower(s_name), lower(n_name)) AS BIGINT) AS dist
FROM supplier CROSS JOIN nation
WHERE levenshtein(lower(s_name), lower(n_name)) <= 16
"""


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: correlation, sample stddev/covariance."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_q"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qp"),
    )


SQL_STATS_AGG = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6)       AS corr_qp,
       ROUND(stddev_samp(l_quantity), 6)                  AS sd_q,
       ROUND(covar_samp(l_quantity, l_extendedprice), 2)  AS cov_qp
FROM lineitem GROUP BY l_returnflag
"""


def q_orders_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: extract year/quarter from event-time."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


SQL_ORDERS_BY_QUARTER = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)    AS yr,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 1, 2
"""


def q_split_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content hash (md5-based so the
    oracle reproduces the exact assignment)."""
    docs = _t(spark, sf_dir, "documents")
    out = transform.split_by_hash(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("split").agg(F.count("*").alias("n"))


SQL_SPLIT_BY_HASH = """
WITH b AS (
  SELECT CAST(('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
         / 4294967295.0 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 0.8 THEN 'train'
            WHEN bucket < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY 1
"""


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (Catalyst decorrelates to a semi-join)."""
    for n in ("customer", "orders"):
        _t(spark, sf_dir, n).createOrReplaceTempView(f"__sq_{n}")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM __sq_customer c
        WHERE EXISTS (
          SELECT 1 FROM __sq_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
        )
        """
    )


SQL_EXISTS_SUBQUERY = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
)
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__sq2_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM __sq2_orders
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM __sq2_orders)
        """
    )


SQL_SCALAR_SUBQUERY = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column analytics: per-label count and mean L2 norm, computed
    with zip-free sequential double aggregation (deterministic)."""
    from ..operators.similarity import l2_norm_sq, _as_double

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("norm", F.sqrt(l2_norm_sq(_as_double(F.col("embedding")))))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
        )
    )


SQL_EMBEDDING_STATS = """
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6) AS avg_norm
FROM embeddings GROUP BY label
"""


def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass null/distinct profile per column (the profiling primitive
    behind relationship discovery) — exact distinct counts here so the
    oracle can verify; production uses approx_count_distinct."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_acctbal", F.when(F.col("c_custkey") % 11 == 0, None).otherwise(F.col("c_acctbal"))
    )
    aggs = []
    for c in ("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}_distinct"))
    return cust.agg(*aggs)


SQL_NULL_PROFILE = """
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal
  FROM customer
)
SELECT CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_custkey_nulls,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT)   AS c_custkey_distinct,
       CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nationkey_nulls,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS c_nationkey_distinct,
       CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_acctbal_nulls,
       CAST(COUNT(DISTINCT c_acctbal) AS BIGINT)   AS c_acctbal_distinct,
       CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_mktsegment_nulls,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS c_mktsegment_distinct
FROM c
"""


# --------------------------------------------------------------------------
# §2.13 — dedup extensions
# --------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup (deterministic survivor)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["lang", "source"], tiebreak=["doc_id"]).select(
        "doc_id", "lang", "source"
    )


SQL_EXACT_DEDUP = """
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, lang, source
FROM documents GROUP BY lang, source
"""


def q_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact-Jaccard verification.

    Oracle-verified against brute-force all-pairs 3-shingle Jaccard in
    DuckDB: the Spark side verifies candidates with EXACT Jaccard, so the
    outputs match whenever LSH recall is 1 for pairs above threshold.
    Banding is 32 bands x 2 rows here, making that recall STRUCTURAL, not
    fixture luck: P(miss) at s=0.5 is (1-0.25)^32 ~= 1e-4 and falls
    exponentially above it (16x4 banding would miss s~=0.5 pairs ~36% of
    the time)."""
    docs = dedup.ensure_parallelism(_t(spark, sf_dir, "documents"))
    # one cached projection (id, shingles, minhash) feeds banding + both
    # jaccard join-back sides; the cache boundary doubles as the
    # CollapseProject barrier. Shingle hashes, not strings (5x cheaper).
    sh = (
        dedup.minhash_signatures(dedup.shingle_hashes(docs, "text", n=3), num_hashes=64)
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    pairs = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    return dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.5)


def q_neardup_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (dedup.decontaminate_neardup): the
    benchmark is every 37th document with its first ~word clipped — NOT
    an exact duplicate, but 3-shingle Jaccard vs its original stays far
    above the 0.5 threshold, so the MinHash probe must remove exactly the
    paraphrased-leak originals. 32x2 banding makes recall structural (the
    minhash_neardup_pairs argument); oracle is brute-force corpus x
    benchmark Jaccard, survivors aggregated per source with an id
    checksum so the exact kept SET is verified."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select(
        F.expr("substring(text, 8)").alias("text")
    )
    out = dedup.decontaminate_neardup(docs, bench, "doc_id", threshold=0.5)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


SQL_NEARDUP_DECONTAMINATION = r"""
WITH c AS (
  SELECT doc_id, source,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
csh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM c
),
b AS (
  SELECT row_number() OVER (ORDER BY doc_id) AS bid,
         regexp_extract_all(lower(substring(text, 8)), '[a-z0-9]+') AS toks
  FROM documents WHERE doc_id % 37 = 0
),
bsh AS (
  SELECT bid,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM b
),
cex AS (SELECT doc_id, unnest(sh) AS s FROM csh),
bex AS (SELECT bid, unnest(sh) AS s FROM bsh),
inter AS (
  SELECT cex.doc_id, bex.bid, COUNT(*) AS i
  FROM cex JOIN bex USING (s) GROUP BY 1, 2
),
flagged AS (
  SELECT DISTINCT inter.doc_id
  FROM inter
  JOIN (SELECT doc_id, len(sh) AS n FROM csh) cn USING (doc_id)
  JOIN (SELECT bid, len(sh) AS n FROM bsh) bn USING (bid)
  WHERE CAST(i AS DOUBLE) / (cn.n + bn.n - i) >= 0.5
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
GROUP BY source
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH self-candidates + exact cosine
    verify. The fixture corpus has no natural near-dups (max pairwise
    cosine ~0.46), so exact duplicates of the first 3 vectors are planted
    under ids +100000 - the query must find exactly those pairs.

    Oracle-verified against brute-force all-pairs cosine in DuckDB:
    identical vectors agree on every hyperplane, so LSH recall for the
    planted exact dups is 1 BY CONSTRUCTION (not just empirically), and no
    other pair reaches the 0.9 threshold on this corpus."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return dedup.embedding_neardup_pairs(emb.unionByName(planted), dim=64, threshold=0.9)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters over the verified MinHash pair
    relation, computed with the alternating large-star/small-star CC
    algorithm (Kiveris SoCC'14, ``dedup.duplicate_clusters``) —
    O(log² n) rounds, edge-set-only working state.

    Oracle-verified: DuckDB recomputes the same pair relation brute-force
    (recall-1 equivalence as in minhash_neardup_pairs) and resolves
    components by recursive-CTE transitive closure to the min reachable
    id — the declarative ground truth for the iterative algorithm."""
    docs = dedup.ensure_parallelism(_t(spark, sf_dir, "documents"))
    sh = (
        dedup.minhash_signatures(dedup.shingle_hashes(docs, "text", n=3), num_hashes=64)
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5)
    return dedup.duplicate_clusters(pairs)


SQL_DEDUP_CLUSTERS = r"""
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM tok
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a AS node, a AS peer FROM und
  UNION
  SELECT r.node, u.b FROM reach r JOIN und u ON u.a = r.peer
)
SELECT node, CAST(MIN(peer) AS BIGINT) AS cluster
FROM reach GROUP BY node
"""


def q_minhash_dedup_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup removal (dedup.minhash_dedup_transitive):
    verified pairs → connected components → keep each cluster's min id.
    Same 32×2 banding recall argument as minhash_neardup_pairs; the
    oracle recomputes survivors from brute-force pairs + recursive-CTE
    closure."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.minhash_dedup_transitive(
        docs, "doc_id", "text", num_hashes=64, bands=32, threshold=0.5
    ).select("doc_id")


# survivors variant of the dedup-clusters closure: same recursive CC,
# final projection keeps docs that are unclustered or their cluster's min
SQL_MINHASH_DEDUP_TRANSITIVE = SQL_DEDUP_CLUSTERS.replace(
    """SELECT node, CAST(MIN(peer) AS BIGINT) AS cluster
FROM reach GROUP BY node""",
    """, cl AS (SELECT node, MIN(peer) AS cluster FROM reach GROUP BY node)
SELECT t.doc_id FROM tok t LEFT JOIN cl ON cl.node = t.doc_id
WHERE cl.node IS NULL OR cl.cluster = t.doc_id""",
)
assert ", cl AS" in SQL_MINHASH_DEDUP_TRANSITIVE  # replace() must not rot


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures, md5/60-bit variant — every per-bit vote is
    replicated in the DuckDB oracle (token→md5→long, bit-shift votes,
    rebuilt signature). The xxhash64 default path is covered by unit
    tests (identical→equal sigs, banding blocks)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_signatures(docs, "text", bits=60, algo="md5").select(
        "doc_id", "simhash"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints, md5-chain variant — the exact
    fold is replicated in the DuckDB oracle via list_reduce. xxhash64
    default path covered by unit tests (formatting-insensitivity)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.with_fingerprint(docs, "text", algo="md5").select(
        "doc_id", "fingerprint"
    )


SQL_MINHASH_NEARDUP = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM tok
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = id_a
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
"""


SQL_EMBEDDING_NEARDUP = """
WITH all_vecs AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 3
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.embedding, b.embedding) /
           (sqrt(list_dot_product(a.embedding, a.embedding)) *
            sqrt(list_dot_product(b.embedding, b.embedding))) AS cosine
  FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
FROM pairs WHERE cosine >= 0.9
"""


SQL_SIMHASH_SIGNATURES = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
  FROM tok
),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashed, (SELECT unnest(range(60)) AS bit)
  GROUP BY doc_id, bit
),
sigs AS (
  SELECT doc_id,
         SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN sigs s ON s.doc_id = d.doc_id
"""


SQL_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend('seed', regexp_extract_all(lower(text), '[a-z0-9]+')),
         (acc, tok) -> md5(acc || '|' || tok)
       ) AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# §2.13 — text analysis
# --------------------------------------------------------------------------

def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return textstats.with_token_stats(docs, "text").select(
        "doc_id", "n_chars_calc", "n_words", "n_distinct_words", "avg_word_len"
    )


SQL_TEXT_TOKEN_STATS = r"""
WITH t AS (
  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, n_chars_calc,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_words,
       ROUND(list_sum(list_transform(toks, x -> CAST(LENGTH(x) AS DOUBLE)))
             / GREATEST(len(toks), 1), 4) AS avg_word_len
FROM t
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return textstats.with_quality_score(docs, "text").select("doc_id", "quality_score")


SQL_TEXT_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks,
         LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct
  FROM documents
)
SELECT doc_id,
       ROUND(
         (CASE WHEN len(toks) < 5 THEN 0.2 WHEN len(toks) > 10000 THEN 0.5 ELSE 1.0 END)
         * (CASE WHEN punct / GREATEST(LENGTH(text), 1) > 0.2 THEN 0.5 ELSE 1.0 END)
         * (0.5 + 0.5 * (len(list_distinct(toks)) / GREATEST(len(toks), 1))), 4
       ) AS quality_score
FROM t
"""


def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        textstats.token_frequencies(docs, "text")
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(50)
    )


SQL_TOKEN_FREQUENCIES = r"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
FROM (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
  FROM documents
)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 50
"""


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window=100, stride=80); chunk
    text reduced to md5 so the compared output stays small."""
    docs = _t(spark, sf_dir, "documents")
    chunks = textstats.chunk_documents(docs, window=100, stride=80)
    return chunks.select(
        "doc_id", "chunk_id", F.md5(F.col("chunk_text")).alias("chunk_md5"),
        "n_chunk_words",
    )


SQL_DOC_CHUNKING = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(range(1, GREATEST(len(toks), 1) + 1, 80)) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) / 80 AS BIGINT) AS chunk_id,
       md5(array_to_string(toks[start:start+99], ' ')) AS chunk_md5,
       CAST(len(toks[start:start+99]) AS BIGINT) AS n_chunk_words
FROM c
"""


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token counting (letter runs / digit runs / single
    symbols — GPT-2-style pre-tokenizer shape)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(textstats.bpe_ish_tokens("text")).cast("long").alias("n_bpe_tokens"),
    )


SQL_BPE_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""


def q_ntile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning via ntile window."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey", F.ntile(10).over(w).alias("decile")
    )


SQL_NTILE_BINNING = """
SELECT o_orderkey,
       CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
FROM orders
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID. Pure expressions (array_intersect against
    literal marker sets, struct array_max tie-break), so the heuristic is
    replicated exactly in the DuckDB oracle (list_intersect +
    list_reverse_sort on the same structs); accuracy against the fixture's
    lang column additionally asserted in unit tests."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.with_lang_id(docs, "text").select("doc_id", "lang", "lang_pred")


SQL_LANG_ID = """
WITH toks AS (
  SELECT doc_id, lang, text,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                   t -> t <> '')) AS tk
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
    list_reverse_sort([
      {'hits': CAST(len(list_intersect(tk, ['the','and','of','to','a','in','is','that','it','for'])) AS INT), 'lang': 'en'},
      {'hits': CAST(len(list_intersect(tk, ['el','la','de','que','y','en','un','por','con','los'])) AS INT), 'lang': 'es'},
      {'hits': CAST(len(list_intersect(tk, ['der','die','und','das','ist','von','mit','den','ein','zu'])) AS INT), 'lang': 'de'},
      {'hits': CAST(len(list_intersect(tk, ['le','la','les','de','et','un','une','est','que','dans'])) AS INT), 'lang': 'fr'},
      {'hits': CASE WHEN regexp_matches(text, '[一-鿿]') THEN 10
               ELSE CAST(len(list_intersect(tk, ['的','是','了','在','我','有','和','人','这','不'])) AS INT) END,
       'lang': 'zh'}
    ])[1] AS best
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
FROM scored
"""


def q_lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID (VERDICT r05 item #4; classifier.lang_id_nb):
    hashed char-trigram multinomial Naive Bayes with FIXED 6dp-literal
    log-probs (classifier.LANG_NB_V2, trained on the md5-deterministic
    75% split — provenance re-derived in tests), length-normalized so
    per-document evidence is comparable (decision value T*prior + 20*S,
    division-free exact decimals). V2 (VERDICT r9 item #2) buckets each
    trigram with xxhash64 & 127 instead of the md5 hex round-trip —
    ~3x cheaper per gram; the oracle replays the bucket with a
    bit-exact XXH64(seed=42) replica over the gram's UTF-8 bytes
    (:func:`_sql_xxh64_bucket`, UHUGEINT mod-2^64 arithmetic). The
    marker-token heuristic (lang_id) stays as the zero-dependency
    fallback."""
    from ..operators import classifier

    docs = _t(spark, sf_dir, "documents")
    pred = classifier.lang_id_nb(docs, classifier.LANG_NB_V2)
    return docs.select("doc_id", "lang").join(pred, "doc_id")


# XXH64 (seed 42 — Spark's xxhash64) replicated in DuckDB SQL for
# SHORT inputs (< 32 bytes: no stripe accumulators; a char trigram is
# <= 12 UTF-8 bytes). All 64-bit wrapping arithmetic runs on UHUGEINT
# mod 2^64; verified bit-exact against F.xxhash64 on every fixture
# trigram (tests/test_classifier.py::TestXxhashOracleParity).
_XX_M = "18446744073709551616::UHUGEINT"
_XX_P1 = "11400714785074694791::UHUGEINT"
_XX_P2 = "14029467366897019727::UHUGEINT"
_XX_P3 = "1609587929392839161::UHUGEINT"
_XX_P4 = "9650029242287828579::UHUGEINT"
_XX_P5 = "2870177450012600261::UHUGEINT"
_XX_INIT = "2870177450012600303"  # 42 + PRIME64_5


def _xx_mul(a: str, b: str) -> str:
    return f"(({a} * {b}) % {_XX_M})"


def _xx_add(a: str, b: str) -> str:
    return f"(({a} + {b}) % {_XX_M})"


def _xx_rotl(x: str, r: int) -> str:
    return f"(((({x}) << {r}) % {_XX_M}) | (({x}) >> {64 - r}))"


def _sql_xxh64_bucket(dim: int, gram: str = "gram", ids: str = "doc_id") -> str:
    """SQL fragment ``SELECT {ids}, b FROM g`` where ``b`` =
    XXH64(utf8_bytes({gram}), seed=42) % dim — bit-exact with Spark's
    ``xxhash64({gram}) & (dim-1)`` for power-of-two ``dim`` (the low
    bits of the signed long equal the unsigned residue). Inputs must be
    < 32 bytes (the gram is a char n-gram); the byte list is derived
    from codepoints (UTF-8 encode in SQL), then folded through the
    XXH64 small-input path (8-byte rounds, 4-byte word, tail bytes,
    avalanche) as a struct list_reduce."""
    if dim <= 0 or dim & (dim - 1):
        # the unsigned '% dim' below equals Spark's pmod on the SIGNED
        # long only for power-of-two dim (bitwise AND); for other dims
        # hashes with the sign bit set diverge (ADVICE r10)
        raise ValueError(
            f"_sql_xxh64_bucket requires a power-of-two dim, got {dim}"
        )
    bytes_expr = f"""flatten(list_transform(
      list_transform(range(1, length({gram}) + 1),
                     i -> unicode(substring({gram}, i, 1))),
      cp -> CASE
        WHEN cp < 128 THEN [CAST(cp AS UHUGEINT)]
        WHEN cp < 2048 THEN [CAST(192 + cp // 64 AS UHUGEINT),
                             CAST(128 + cp % 64 AS UHUGEINT)]
        WHEN cp < 65536 THEN [CAST(224 + cp // 4096 AS UHUGEINT),
                              CAST(128 + (cp // 64) % 64 AS UHUGEINT),
                              CAST(128 + cp % 64 AS UHUGEINT)]
        ELSE [CAST(240 + cp // 262144 AS UHUGEINT),
              CAST(128 + (cp // 4096) % 64 AS UHUGEINT),
              CAST(128 + (cp // 64) % 64 AS UHUGEINT),
              CAST(128 + cp % 64 AS UHUGEINT)] END))"""
    le8 = " + ".join(
        f"bs[8*j + {t + 1}] * {1 << (8 * t)}::UHUGEINT" for t in range(8)
    )
    le4 = " + ".join(
        f"bs[8*(len(bs)//8) + 4*j + {t + 1}] * {1 << (8 * t)}::UHUGEINT"
        for t in range(4)
    )
    h8 = _xx_add(
        _xx_mul(
            _xx_rotl(
                f"xor(a.v, {_xx_mul(_xx_rotl(_xx_mul('x.v', _XX_P2), 31), _XX_P1)})",
                27,
            ),
            _XX_P1,
        ),
        _XX_P4,
    )
    h4 = _xx_add(
        _xx_mul(_xx_rotl(f"xor(a.v, {_xx_mul('x.v', _XX_P1)})", 23), _XX_P2),
        _XX_P3,
    )
    h1 = _xx_mul(_xx_rotl(f"xor(a.v, {_xx_mul('x.v', _XX_P5)})", 11), _XX_P1)
    steps = f"""(
      [{{'v': ({_XX_INIT}::UHUGEINT + CAST(len(bs) AS UHUGEINT)), 'k': 0}}]
      || list_transform(range(0, len(bs) // 8),
                        j -> {{'v': {le8}, 'k': 1}})
      || list_transform(range(0, (len(bs) % 8) // 4),
                        j -> {{'v': {le4}, 'k': 2}})
      || list_transform(range((len(bs)//8)*8 + ((len(bs)%8)//4)*4, len(bs)),
                        i -> {{'v': bs[i + 1], 'k': 3}})
    )"""
    fold = f"""list_reduce({steps},
      (a, x) -> {{'v': CASE x.k WHEN 1 THEN {h8} WHEN 2 THEN {h4}
                       ELSE {h1} END, 'k': 0}}).v"""
    return f"""
    SELECT {ids}, CAST(xor(h4, h4 >> 32) % {dim} AS INT) AS b FROM (
      SELECT {ids}, {_xx_mul("xor(h2, h2 >> 29)", _XX_P3)} AS h4 FROM (
        SELECT {ids}, {_xx_mul("xor(h0, h0 >> 33)", _XX_P2)} AS h2 FROM (
          SELECT {ids}, {fold} AS h0 FROM (
            SELECT {ids}, {bytes_expr} AS bs FROM g
          )
        )
      )
    )"""


def _lang_nb_oracle_sql(model: dict | None = None) -> str:
    if model is None:
        from ..operators.classifier import LANG_NB_V2 as model

    n, dim, ell = model["n"], model["dim"], model["ell"]
    langs, prior, w = model["langs"], model["prior"], model["w"]
    fallback = max(range(len(langs)), key=lambda i: (prior[i], -i))
    # exact LONG micro-unit arithmetic, mirroring lang_id_nb (round 10):
    # 6dp weight literals are integers x 1e-6 exactly, so the BIGINT
    # replay is bit-identical to the engine's long sums
    s_cols = []
    for li in range(len(langs)):
        wl = ", ".join(str(int(round(v * 1_000_000))) for v in w[li])
        s_cols.append(
            f"CAST(SUM(cnt * ([{wl}])[b + 1]) AS BIGINT) AS s_{li}"
        )
    structs = ", ".join(
        "{'ns': -(t * (%d) + %d * s_%d), 'l': '%s'}"
        % (int(round(prior[li] * 1_000_000)), ell, li, langs[li])
        for li in range(len(langs))
    )
    if model.get("algo", "md5") == "xx":
        bucket_rel = f"({_sql_xxh64_bucket(dim)})"
    else:
        bucket_rel = f"""(
  SELECT doc_id,
         CAST(('0x' || substring(md5(gram), 1, 15))::BIGINT % {dim} AS INT) AS b
  FROM g
)"""
    return f"""
WITH g AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(text) - {n} + 2, 1)),
                               i -> substring(text, i, {n}))) AS gram
  FROM documents
),
c AS MATERIALIZED (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {bucket_rel} GROUP BY 1, 2
),
s AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS t,
         {', '.join(s_cols)}
  FROM c GROUP BY doc_id
),
p AS (
  SELECT doc_id, list_sort([{structs}])[1].l AS pred
  FROM s
)
SELECT d.doc_id, d.lang, COALESCE(p.pred, '{langs[fallback]}') AS lang_pred
FROM documents d LEFT JOIN p USING (doc_id)
"""


SQL_LANG_ID_TRAINED = _lang_nb_oracle_sql()


_LANG_BUDGETS = {"en": 30000, "de": 10000, "es": 15000}


def q_lang_budget_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BYTE budget enforcement composed with the TRAINED
    lang-id gate (pipeline.cap_per_language over classifier.LANG_NB_V2,
    VERDICT r8 item #8; V2's xxhash64 bucket per VERDICT r9 item #2):
    en capped at 30 kB, de 10 kB, es 15 kB, fr/zh
    uncapped — admission by the md5-priority prefix-cumsum rule, so the
    kept set replays from (salt, id, budgets) alone. Rolled up per
    language; the oracle replays the NB prediction (xxh64 buckets via
    _sql_xxh64_bucket), the priority order, the per-language running
    byte sum, and the literal budget CASE."""
    from ..operators import classifier, pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = pipeline.cap_per_language(
        docs, _LANG_BUDGETS, lang_model=classifier.LANG_NB_V2
    )
    return (
        kept.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length("text")).alias("bytes_kept"),
        )
        .orderBy("lang_pred")
    )


def _lang_budget_oracle_sql() -> str:
    lim_case = "CASE lang_pred " + " ".join(
        f"WHEN '{g}' THEN {v}" for g, v in _LANG_BUDGETS.items()
    ) + " ELSE NULL END"
    return f"""
WITH pred AS ({_lang_nb_oracle_sql()}),
adm AS (
  SELECT d.doc_id, p.lang_pred, strlen(d.text) AS b,
         ('0x' || substring(md5('langcap' || CAST(d.doc_id AS VARCHAR)),
                            1, 15))::BIGINT AS pri
  FROM documents d JOIN pred p USING (doc_id)
  WHERE d.text IS NOT NULL
),
cum AS (
  SELECT *, SUM(b) OVER (PARTITION BY lang_pred ORDER BY pri, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
         {lim_case} AS lim
  FROM adm
),
kept AS (SELECT * FROM cum WHERE lim IS NULL OR cumb <= lim)
SELECT lang_pred, COUNT(*) AS n_docs, CAST(SUM(b) AS BIGINT) AS bytes_kept
FROM kept GROUP BY lang_pred ORDER BY lang_pred
"""


SQL_LANG_BUDGET_ENFORCE = _lang_budget_oracle_sql()


SQL_TEXT_EMBEDDING_TOPK = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
contrib AS (
  SELECT doc_id,
         CAST(h % 64 AS INT) AS bucket,
         CASE WHEN (h >> 62) & 1 = 1 THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT doc_id,
               CAST(('0x' || substr(md5(token), 1, 16)) AS UBIGINT) AS h
        FROM tok)
),
vec AS (
  SELECT doc_id, bucket, SUM(sign) AS w FROM contrib GROUP BY doc_id, bucket
),
norms AS (
  SELECT doc_id, sqrt(SUM(w*w)) AS nrm FROM vec GROUP BY doc_id
),
dots AS (
  SELECT vq.doc_id AS query_id, vd.doc_id AS doc_id, SUM(vq.w * vd.w) AS dot
  FROM vec vq JOIN vec vd USING (bucket)
  WHERE vq.doc_id < 3 AND vd.doc_id <> vq.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.doc_id, d.dot / (nq.nrm * nd.nrm) AS score
  FROM dots d
  JOIN norms nq ON nq.doc_id = d.query_id
  JOIN norms nd ON nd.doc_id = d.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score
FROM ranked WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# §2.13 — similarity search
# --------------------------------------------------------------------------

def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 for 5 query vectors through the size-probed
    dispatcher (similarity.topk_auto): below the measured ~10⁵-row
    crossover it runs the exact broadcast scan (which the oracle
    replicates exactly); above it, IVF — so the headline query IS the
    scale path, not a fixture-only brute force."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.topk_auto(emb, queries, k=10)


SQL_EMBEDDING_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
s AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.cv, q.qv)
           / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))) AS score
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id, ROUND(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM s)
WHERE rn <= 10
"""


def q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH top-k — FULLY oracled: the LCG-generated
    planes are deterministic, so bucket assignment (sign of dot), the
    cross-table candidate union, and the exact rerank all replicate in
    DuckDB with the same plane literals (``_lsh_oracle_sql``)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(emb, queries, dim=64, k=10, bits=4)


# --------------------------------------------------------------------------
# §2.13 — event/time operators
# --------------------------------------------------------------------------

def q_text_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text→vector→ANN pipeline: feature-hash documents into unit
    vectors (md5 token hashing), then top-5 cosine neighbors for 3 query
    docs. The md5 featurizer is replicated relationally in the DuckDB
    oracle (sparse bucket weights + bucket-join dot products) — scores
    match to 6 decimals."""
    from ..functions.embed import with_hashed_embedding_fast

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    embedded = with_hashed_embedding_fast(
        dedup.ensure_parallelism(docs), dim=64
    ).select("doc_id", "embedding")
    # embed the 3 query docs from a pre-filtered input: a doc_id predicate
    # cannot push through mapInPandas, so filtering first avoids re-embedding
    # the whole corpus for the broadcast side
    queries = with_hashed_embedding_fast(docs.where(F.col("doc_id") < 3), dim=64).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(
        embedded, queries, id_col="doc_id", k=5
    )


def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with TRAINED centroids under a FULL oracle
    (VERDICT r05 item #2): similarity.kmeans_fit_exact trains the coarse
    quantizer deterministically — md5-priority sample of 256, first-8
    init, 2 medoid-by-mean iterations in exact scale-10^12 integers, no
    division anywhere — so the oracle unrolls the identical training as
    CTEs (exact DECIMAL(18,12) arithmetic) and then replays the proven
    double-precision probe/re-score of embedding_topk_ivf_fixed. The
    production float trainer (similarity.kmeans_fit, sampled numpy
    Lloyd's) stays unit-tested with a recall gate."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = similarity.kmeans_fit_exact(
        emb, k=8, max_iter=2, train_sample=256
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, queries, centroids, k=10, n_probe=3)


def _ivf_trained_oracle_sql(
    k: int = 8,
    iters: int = 2,
    sample: int = 256,
    n_probe: int = 3,
    topk: int = 10,
    dim: int = 64,
) -> str:
    """Unrolled-CTE replica of kmeans_fit_exact + ivf_topk: per iteration
    one exact-decimal assignment (argmin L2², ties to lowest centroid
    index), per-cluster exact sums, and the division-free medoid-by-mean
    update (argmin sum((n*x - s)^2), ties to smallest id; empty clusters
    keep the previous centroid). Training arithmetic is DECIMAL —
    subtraction of two (18,12)s recast to (19,12) before squaring keeps
    every product inside DuckDB's 38-digit cap while staying exact. The
    final probe stage (double centroids, n_probe buckets, exact cosine
    rerank) is byte-identical logic to SQL_EMBEDDING_TOPK_IVF_FIXED."""
    parts = [f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(x AS DECIMAL(18,12))) AS qv
  FROM embeddings WHERE embedding IS NOT NULL
),
samp AS MATERIALIZED (
  SELECT vec_id, qv, rn FROM (
    SELECT vec_id, qv, row_number() OVER (ORDER BY pri, vec_id) AS rn
    FROM (SELECT vec_id, qv,
            ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS pri
          FROM e))
  WHERE rn <= {sample}
),
dims AS (SELECT unnest(generate_series(1, {dim})) AS i),
sl AS MATERIALIZED (
  SELECT samp.vec_id AS sid, dims.i, samp.qv[dims.i] AS x
  FROM samp CROSS JOIN dims
),
c0 AS (
  SELECT rn - 1 AS cid, dims.i, qv[dims.i] AS c
  FROM samp CROSS JOIN dims WHERE rn <= {k}
)"""]
    for t in range(iters):
        parts.append(f""",
d{t} AS (
  SELECT sl.sid, c{t}.cid,
         SUM(CAST(sl.x - c{t}.c AS DECIMAL(19,12))
           * CAST(sl.x - c{t}.c AS DECIMAL(19,12))) AS d
  FROM sl JOIN c{t} ON sl.i = c{t}.i
  GROUP BY sl.sid, c{t}.cid
),
a{t} AS (
  SELECT sid, cid FROM (
    SELECT *, row_number() OVER (
      PARTITION BY sid ORDER BY d ASC, cid ASC) AS rn
    FROM d{t})
  WHERE rn = 1
),
st{t} AS (
  SELECT a.cid, sl.i, SUM(sl.x) AS s, COUNT(*) AS n
  FROM sl JOIN a{t} a ON a.sid = sl.sid
  GROUP BY a.cid, sl.i
),
md{t} AS (
  SELECT a.cid, sl.sid,
         SUM(CAST(CAST(st.n AS DECIMAL(18,0)) * sl.x - st.s AS DECIMAL(19,12))
           * CAST(CAST(st.n AS DECIMAL(18,0)) * sl.x - st.s AS DECIMAL(19,12))) AS d
  FROM sl JOIN a{t} a ON a.sid = sl.sid
  JOIN st{t} st ON st.cid = a.cid AND st.i = sl.i
  GROUP BY a.cid, sl.sid
),
m{t} AS (
  SELECT cid, sid FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cid ORDER BY d ASC, sid ASC) AS rn
    FROM md{t})
  WHERE rn = 1
),
c{t + 1} AS (
  SELECT c.cid, c.i, COALESCE(sx.x, c.c) AS c
  FROM c{t} c
  LEFT JOIN m{t} m ON m.cid = c.cid
  LEFT JOIN sl sx ON sx.sid = m.sid AND sx.i = c.i
)""")
    parts.append(f""",
cent AS MATERIALIZED (
  SELECT cid, list(CAST(c AS DOUBLE) ORDER BY i) AS ce
  FROM c{iters} GROUP BY cid
),
fd AS MATERIALIZED (
  SELECT e.vec_id, cent.cid,
         list_sum(list_transform(range(1, 1 + {dim}),
             i -> (e.cv[i] - cent.ce[i]) * (e.cv[i] - cent.ce[i]))) AS d
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM fd)
  WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cid AS cluster FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM fd WHERE vec_id < 5)
  WHERE rn <= {n_probe}
),
cand AS (
  SELECT q.query_id, a.vec_id
  FROM qprobe q JOIN assigned a USING (cluster)
  WHERE a.vec_id <> q.query_id
),
s AS (
  SELECT x.query_id, x.vec_id,
         list_dot_product(d.cv, q.cv)
           / (sqrt(list_dot_product(d.cv, d.cv))
              * sqrt(list_dot_product(q.cv, q.cv))) AS score
  FROM cand x
  JOIN e d ON d.vec_id = x.vec_id
  JOIN e q ON q.vec_id = x.query_id
)
SELECT query_id, vec_id, ROUND(score, 6) AS score
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
      FROM s)
WHERE rn <= {topk}
""")
    return "".join(parts)


SQL_EMBEDDING_TOPK_IVF = _ivf_trained_oracle_sql()


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    evdf = _t(spark, sf_dir, "events")
    out = ev.tumbling_agg(
        evdf,
        "1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


SQL_EVENTS_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-gap sessionization (30-min gap), per-session summary."""
    evdf = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    sess = ev.sessionize(evdf, gap="30 minutes")
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


SQL_EVENTS_SESSIONIZE = """
WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts FROM events),
t AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM s GROUP BY user_id, session_id
"""


def q_events_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    evdf = _t(spark, sf_dir, "events")
    return evdf.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


SQL_EVENTS_PARSE_PROPS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events
"""


def q_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    evdf = _t(spark, sf_dir, "events")
    out = ev.with_lag_lead(evdf, "value", ts_col=["ts", "event_id"])
    return out.select("user_id", "event_id", "prev_value", "next_value")


SQL_EVENTS_LAG_LEAD = """
SELECT user_id, event_id,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --------------------------------------------------------------------------
# additional SQL surface: sliding/session windows, cube/pivot, set ops,
# window frames, percentiles, as-of / range joins, n-gram jaccard
# --------------------------------------------------------------------------

def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h window / 30m slide)."""
    evdf = _t(spark, sf_dir, "events")
    out = ev.sliding_agg(
        evdf, "1 hour", "30 minutes",
        aggs=[F.count("*").alias("n_events")],
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_events",
    )


SQL_EVENTS_SLIDING = """
SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events, UNNEST([0, 1]) AS u(k)
GROUP BY 1
"""


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window sessionization (the streaming-state form);
    oracle = lag-gap sessions with end = last_ts + gap."""
    evdf = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    out = ev.session_window_agg(evdf, gap="30 minutes")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


SQL_SESSION_WINDOW_NATIVE = """
WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts FROM events),
t AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n",
        )
    )


SQL_CUBE_AGG = """
SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )
    return out.select(
        "o_orderpriority",
        F.col("F").alias("status_f"),
        F.col("O").alias("status_o"),
        F.col("P").alias("status_p"),
    )


SQL_PIVOT_STATUS = """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_f,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_o,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_p
FROM orders GROUP BY o_orderpriority
"""


def q_except_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: customers who never placed a large (>200k) order."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    big = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.exceptAll(big.distinct())


SQL_EXCEPT_ANTIJOIN = """
SELECT c_custkey FROM customer
EXCEPT ALL
SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
"""


def q_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: nation keys present among both customers and
    suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


SQL_INTERSECT_KEYS = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: 3-row moving average of order totals per customer."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("moving_avg"),
    )


SQL_WINDOW_MOVING_AVG = """
SELECT o_custkey, o_orderkey,
       ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
         AS moving_avg
FROM orders
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
FROM lineitem GROUP BY l_returnflag
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click/view event gets the most recent prior 'error'
    event's value for the same user (backward, inclusive)."""
    from ..operators.joins import asof_join

    evdf = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    left = evdf.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts"
    )
    errors = evdf.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("err_value")
    )
    out = asof_join(left, errors, on="user_id", right_cols=["err_value"], suffix="")
    return out.select("event_id", "user_id", "err_value")


SQL_ASOF_JOIN = """
WITH e AS (SELECT event_id, user_id, event_type, value,
                  date_trunc('second', ts) AS ts FROM events),
l AS (SELECT event_id, user_id, ts FROM e WHERE event_type IN ('click', 'view')),
r AS (SELECT user_id, ts, value AS err_value FROM e WHERE event_type = 'error')
SELECT l.event_id, l.user_id, r.err_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: count events falling inside each user's session interval
    [start, end+gap) — points-to-intervals via bucketed equi-join."""
    from ..operators.joins import range_join_points_to_intervals

    evdf = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    sessions = ev.session_window_agg(evdf, gap="30 minutes").select(
        "user_id",
        F.col("session_start"),
        F.col("session_end"),
    )
    joined = range_join_points_to_intervals(
        evdf.select("event_id", "user_id", "ts"),
        sessions,
        on="user_id",
        point_ts="ts",
        interval_start="session_start",
        interval_end="session_end",
        bucket="1 hour",
    )
    return joined.groupBy(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    ).agg(F.count("*").alias("n_in_range"))


SQL_RANGE_JOIN = """
WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts FROM events),
t AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
),
sess AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL '30 minutes' AS session_end
  FROM s GROUP BY user_id, session_id
)
SELECT e.user_id,
       strftime(sess.session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_in_range
FROM e JOIN sess ON e.user_id = sess.user_id
    AND e.ts >= sess.session_start AND e.ts < sess.session_end
GROUP BY 1, 2
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard similarity for all doc pairs sharing >= 1
    shingle, over a 100-doc slice — the oracle-checkable exact counterpart
    of the (hash-seeded, rows-only) MinHash pipeline."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    sh = dedup.shingles(docs, "text", n=3).select("doc_id", "shingles")
    ex = sh.select("doc_id", F.explode("shingles").alias("sh"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    pairs = (
        ex.alias("a")
        .join(ex.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        pairs.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= 0.01)
        .select("id_a", "id_b", "jaccard")
    )
    return out


SQL_NGRAM_JACCARD_PAIRS = r"""
WITH d AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           FOR i IN range(1, GREATEST(len(toks) - 1, 1))
         ]) AS shingles
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'),
                       x -> x <> '') AS toks
    FROM documents WHERE doc_id < 100
  )
),
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM d),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM d),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.01
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-style per-column profile of orders in ONE aggregate pass:
    rows, nulls, exact distincts, min/max (strings; doubles via
    DECIMAL(18,4) for engine-stable formatting)."""
    orders = _t(spark, sf_dir, "orders")
    return profile.profile_columns(
        orders,
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"],
    ).withColumnRenamed("column", "column_name")


SQL_TABLE_PROFILE = r"""
SELECT 'o_orderkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_value, CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
       CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
FROM orders
"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase-occurrence counts ("table table" — a self-overlapping
    phrase) via positional postings: corpus postings filtered to the
    phrase tokens BEFORE any shuffle, anchor = pos - slot, occurrence iff
    all slots witnessed. The oracle is an independent brute-force
    sliding-window compare in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.phrase_search(docs, "doc_id", "text", "table table")


SQL_PHRASE_SEARCH = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         len([i FOR i IN range(1, GREATEST(len(toks), 1)) IF toks[i:i+1] = ['table','table']]) AS n_matches
  FROM t
)
SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches FROM m WHERE n_matches >= 1
"""


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of l_extendedprice from a 64-bin mergeable histogram
    sketch — the deterministic, oracle-able distribution summary (vs
    sampled t-digest); estimate error bounded by one bin width."""
    li = _t(spark, sf_dir, "lineitem")
    sk = skew.histogram_sketch(li, "l_extendedprice", lo=900.0, hi=105000.0, bins=64)
    return skew.quantile_estimate(
        sk, [0.25, 0.5, 0.75, 0.95], lo=900.0, hi=105000.0, bins=64
    )


SQL_HISTOGRAM_QUANTILES = r"""
WITH sk AS (
  SELECT CAST(LEAST(63, GREATEST(0, FLOOR((CAST(l_extendedprice AS DOUBLE) - 900.0) / 104100.0 * 64))) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
),
cum AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c FROM sk),
tot AS (SELECT SUM(cnt) AS n FROM sk),
qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q),
pick AS (SELECT q, MIN(bin) AS b FROM qs CROSS JOIN tot JOIN cum ON c >= q * n - 1e-9 GROUP BY q)
SELECT q, 900.0 + (b + 1) * (104100.0 / 64) AS est FROM pick
"""


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive-training negative pairs: hash-bucket
    rings (md5 permutation, per-bucket windows — never a global sort),
    each doc takes its next 2 ring neighbors. Reproducible with no RNG."""
    docs = _t(spark, sf_dir, "documents")
    return transform.negative_samples_ring(docs, "doc_id", k=2, n_buckets=32)


SQL_NEGATIVE_SAMPLES = r"""
WITH base AS (SELECT DISTINCT doc_id,
  CAST(('0x'||substr(md5('neg1_'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS h FROM documents),
b AS (SELECT doc_id, CAST(h % 32 AS INT) AS bk, h FROM base),
r AS (SELECT doc_id, bk, h, ROW_NUMBER() OVER (PARTITION BY bk ORDER BY h, doc_id) - 1 AS r,
       COUNT(*) OVER (PARTITION BY bk) AS n FROM b),
p AS (SELECT doc_id, bk, r, unnest(list_distinct([(r+1) % n, (r+2) % n])) AS nr FROM r),
p2 AS (SELECT * FROM p WHERE nr <> r)
SELECT p2.doc_id, r2.doc_id AS neg_id FROM p2 JOIN r r2 ON r2.bk = p2.bk AND r2.r = p2.nr
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT asymmetric containment join (|A∩B|/|A| >= 0.6): catches docs
    subsumed by a longer one, which symmetric Jaccard misses. One-sided
    prefix filter on the contained side; brute-force DuckDB ground
    truth."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, "doc_id", "text", threshold=0.6, shingle_n=3)


SQL_CONTAINMENT_PAIRS = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS toks
  FROM documents
), d AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 1, 1))]) AS sh
  FROM base
), d2 AS (SELECT * FROM d WHERE len(sh) > 0)
SELECT id_a, id_b, ROUND(c, 6) AS containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) AS c
  FROM d2 a JOIN d2 b ON a.doc_id <> b.doc_id
) WHERE c >= 0.6
"""


def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round Bellman-Ford shortest paths over the weighted
    customer-supplier trade graph (weight = min lineitem quantity per
    pair): 3 relaxation rounds, each one equi-join + min-aggregate —
    never a path enumeration. Oracle: the rounds unrolled as chained
    MATERIALIZED CTEs."""
    from ..operators import graph

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    sources = spark.createDataFrame([("c1",), ("c2",)], "node string")
    return graph.sssp_bellman_ford(edges, sources, rounds=3)


SQL_SSSP_WEIGHTED = r"""
WITH e0 AS MATERIALIZED (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS s, 's' || CAST(l_suppkey AS VARCHAR) AS d,
         CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
e AS MATERIALIZED (SELECT s, d, w FROM e0 UNION ALL SELECT d, s, w FROM e0),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM (VALUES ('c1'), ('c2')) t(node)),
d1 AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL SELECT e.d AS node, d0.dist + e.w FROM d0 JOIN e ON e.s = d0.node
  ) GROUP BY node),
d2 AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL SELECT e.d AS node, d1.dist + e.w FROM d1 JOIN e ON e.s = d1.node
  ) GROUP BY node),
d3 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL SELECT e.d AS node, d2.dist + e.w FROM d2 JOIN e ON e.s = d2.node
  ) GROUP BY node)
SELECT node, dist FROM d3
"""


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketch inner products
    (Cormode-Muthukrishnan §4.2): price customer⋈orders WITHOUT rescanning
    either side — two depth×width sketch relations joined bucket-wise.
    est >= true always; overestimate shrinks as width grows (additive
    ~|A||B|/width). Reported next to the exact size."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    ska = skew.count_min_sketch(cust, "c_custkey", width=16384, depth=3, seed=7)
    skb = skew.count_min_sketch(orders, "o_custkey", width=16384, depth=3, seed=7)
    est = skew.cms_join_size_estimate(ska, skb)
    true_n = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .agg(F.count(F.lit(1)).alias("true_size"))
    )
    return est.crossJoin(true_n).select(F.col("est").cast("long").alias("est"), "true_size")


SQL_CMS_JOIN_SIZE = r"""
WITH ds AS (SELECT unnest([0,1,2]) AS d),
ska AS (
  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT ds.d, CAST(CAST(('0x'||substr(md5('cms7_'||CAST(ds.d AS VARCHAR)||CAST(c_custkey AS VARCHAR)),1,15)) AS BIGINT) % 16384 AS INT) AS bucket
    FROM customer, ds WHERE c_custkey IS NOT NULL) GROUP BY 1,2),
skb AS (
  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT ds.d, CAST(CAST(('0x'||substr(md5('cms7_'||CAST(ds.d AS VARCHAR)||CAST(o_custkey AS VARCHAR)),1,15)) AS BIGINT) % 16384 AS INT) AS bucket
    FROM orders, ds WHERE o_custkey IS NOT NULL) GROUP BY 1,2),
ip AS (SELECT a.d, SUM(a.cnt * b.cnt) AS ip FROM ska a JOIN skb b ON a.d = b.d AND a.bucket = b.bucket GROUP BY a.d),
tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_size FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey)
SELECT CAST(MIN(ip) AS BIGINT) AS est, (SELECT true_size FROM tru) AS true_size FROM ip
"""


def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 of event value per event type from per-group histogram
    sketches — cumulative windows partitioned by key over <= bins rows,
    never a global window; the telemetry-latency shape."""
    ev = _t(spark, sf_dir, "events")
    sk = skew.histogram_sketch_grouped(ev, ["event_type"], "value", lo=0.0, hi=500.0, bins=100)
    return skew.quantile_estimate_grouped(sk, ["event_type"], [0.5, 0.95], 0.0, 500.0, 100)


SQL_GROUPED_QUANTILES = r"""
WITH sk AS (
  SELECT event_type, CAST(LEAST(99, GREATEST(0, FLOOR((CAST(value AS DOUBLE) - 0.0) / 500.0 * 100))) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (SELECT event_type, bin, cnt,
        SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
        SUM(cnt) OVER (PARTITION BY event_type) AS n FROM sk),
qs AS (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS q),
pick AS (SELECT event_type, q, MIN(bin) AS b FROM cum CROSS JOIN qs WHERE c >= q * n - 1e-9 GROUP BY 1, 2)
SELECT event_type, q, 0.0 + (b + 1) * (500.0 / 100) AS est FROM pick
"""


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between event types per user stream
    (lead window partitioned by user, tie-broken by event_id), with
    per-state outgoing probabilities."""
    events = _t(spark, sf_dir, "events")
    return ev.transition_matrix(events, "event_type", order_cols=["ts", "event_id"])


SQL_TRANSITION_MATRIX = r"""
WITH s AS (
  SELECT event_type AS from_state,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
  FROM events
),
c AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n FROM s WHERE to_state IS NOT NULL GROUP BY 1,2)
SELECT from_state, to_state, n, ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_state), 6) AS p FROM c
"""


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier over parts (minimize retail price, maximize
    size): sort-based skyline — per-x maxima + one strictly-preceding
    running-max window over distinct x, NOT the O(n^2) dominance join.
    Oracle: an independent NOT EXISTS dominance formulation."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return transform.pareto_frontier_2d(part, "p_retailprice", "p_size")


SQL_PARETO_FRONTIER = r"""
SELECT p_partkey, p_retailprice, p_size
FROM part a
WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
    AND b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
"""


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (support/confidence/lift) from a-priori-pruned
    frequent supplier pairs — rule generation touches only the tiny pair
    and per-item count tables, no new corpus-scale shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return skew.association_rules(li, "l_orderkey", "l_suppkey", min_support=25)


SQL_ASSOCIATION_RULES = r"""
WITH base AS (SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
freq AS (SELECT i FROM base GROUP BY i HAVING COUNT(*) >= 25),
pruned AS (SELECT b, i FROM base WHERE i IN (SELECT i FROM freq)),
pairs AS (
  SELECT x.i AS ia, y.i AS ib, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM pruned x JOIN pruned y ON x.b = y.b AND x.i < y.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 25),
item_counts AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY i),
nb AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS n_baskets FROM base),
two_way AS (
  SELECT ia AS antecedent, ib AS consequent, pair_count FROM pairs
  UNION ALL SELECT ib, ia, pair_count FROM pairs)
SELECT antecedent, consequent, pair_count,
       ROUND(pair_count / n_baskets, 6) AS support,
       ROUND(pair_count * 1.0 / a.n, 6) AS confidence,
       ROUND((pair_count * 1.0 / a.n) / (c.n / n_baskets), 6) AS lift
FROM two_way CROSS JOIN nb
JOIN item_counts a ON a.i = antecedent
JOIN item_counts c ON c.i = consequent
"""


def q_state_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles served from MAINTAINED state: orders split in two
    batches, histogram states built per batch and merged (element-wise
    monoid), p50/p95 estimated from the merged state. The oracle computes
    the same quantiles directly over the full data — passing proves
    merge(state(A), state(B)) == state(A ∪ B) end-to-end."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.where("o_orderkey % 2 = 0")
    b = orders.where("o_orderkey % 2 = 1")
    sa = aggstate.agg_state_hist(a, ["o_orderpriority"], "o_totalprice", 0.0, 500000.0, 32)
    sb = aggstate.agg_state_hist(b, ["o_orderpriority"], "o_totalprice", 0.0, 500000.0, 32)
    merged = aggstate.merge_hist_states(sa, sb, ["o_orderpriority"])
    return skew.quantile_estimate_grouped(
        aggstate.state_histogram(merged, ["o_orderpriority"]),
        ["o_orderpriority"], [0.5, 0.95], 0.0, 500000.0, 32,
    )


SQL_STATE_QUANTILES = r"""
WITH sk AS (
  SELECT o_orderpriority, CAST(LEAST(31, GREATEST(0, FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0) / 500000.0 * 32))) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
),
cum AS (SELECT o_orderpriority, bin, cnt,
        SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
        SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n FROM sk),
qs AS (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS q),
pick AS (SELECT o_orderpriority, q, MIN(bin) AS b FROM cum CROSS JOIN qs WHERE c >= q * n - 1e-9 GROUP BY 1, 2)
SELECT o_orderpriority, q, 0.0 + (b + 1) * (500000.0 / 32) AS est FROM pick
"""


def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-algebra coalesce: per-user activity spans (event ts +
    value seconds) merged where they overlap — the sort-based one-pass
    running-max-of-ends formulation, never a per-key self-join. Durations
    go through DECIMAL (Spark truncates double→long casts, DuckDB
    rounds)."""
    events = _t(spark, sf_dir, "events")
    ts = F.unix_micros(F.col("ts").cast("timestamp"))
    dur = (F.col("value").cast("decimal(18,2)") * 1000000).cast("long")
    iv = events.select("user_id", ts.alias("s"), (ts + dur).alias("e"))
    return timeseries.merge_intervals(iv, "user_id", "s", "e")


SQL_MERGE_INTERVALS = r"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 1000000 AS BIGINT) AS e
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
m AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
),
g AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
  FROM m
)
SELECT user_id, MIN(s) AS s, MAX(e) AS e, CAST(COUNT(*) AS BIGINT) AS n_merged
FROM g GROUP BY user_id, grp
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (Church & Hanks): token pairs within a ±5 word
    window, linear skip-gram pair generation (posting × window equi-join,
    never per-doc quadratic); ln-ratio rounded 4dp. The oracle generates
    pairs with an independent quadratic position-filter join."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.pmi_cooccurrence(docs, "doc_id", "text", window=5, min_count=20)


SQL_PMI_COLLOCATIONS = r"""
WITH tok AS (
  SELECT doc_id, unnest(t) AS tokk, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS t
        FROM documents)
),
n_tok AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM tok),
pairs_all AS (
  SELECT LEAST(a.tokk, b.tokk) AS tok_a, GREATEST(a.tokk, b.tokk) AS tok_b,
         CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 5
  GROUP BY 1, 2
),
np AS (SELECT CAST(SUM(pair_count) AS DOUBLE) AS n_pairs FROM pairs_all),
uni AS (SELECT tokk, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1)
SELECT tok_a, tok_b, pair_count,
       ROUND(LN((pair_count / n_pairs) / ((ua.c / nt) * (ub.c / nt))), 4) AS pmi
FROM pairs_all CROSS JOIN np CROSS JOIN n_tok
JOIN uni ua ON ua.tokk = tok_a
JOIN uni ub ON ub.tokk = tok_b
WHERE pair_count >= 20
"""


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap audit: per-document 3-gram coverage of the B slice
    (doc_id >= 250) in the A slice (doc_id < 250) — A collapses to a
    distinct hash set (vocabulary-bounded), only 64-bit hashes shuffle.
    Oracle recomputes with string 3-grams (hash/string sets agree, the
    decontamination argument)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") < 250)
    b = docs.where(F.col("doc_id") >= 250)
    return dedup.corpus_overlap_stats(a, b, "doc_id", n=3)


SQL_CORPUS_OVERLAP = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
  FROM tok
),
ag AS (SELECT DISTINCT unnest(grams) AS s FROM g WHERE doc_id < 250),
bgr AS (SELECT doc_id, unnest(grams) AS s FROM g WHERE doc_id >= 250),
j AS (
  SELECT bgr.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN ag.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM bgr LEFT JOIN ag ON bgr.s = ag.s
  GROUP BY bgr.doc_id
)
SELECT doc_id, n_grams, n_shared, ROUND(n_shared * 1.0 / n_grams, 6) AS coverage FROM j
"""


def q_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 TF-IDF terms per document (slice
    doc_id < 50), ranked on the 6dp-rounded score with token tie-break so
    the ranking is engine-deterministic."""
    from pyspark.sql.window import Window as W

    tfidf = textstats.tf_idf(_t(spark, sf_dir, "documents")).where(F.col("doc_id") < 50)
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        tfidf.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", "tfidf")
    )


SQL_TOP_TERMS_PER_DOC = r"""
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), dfreq AS (
  SELECT token, COUNT(*) AS df_t FROM tf GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df_t), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
  WHERE doc_id < 50
),
ranked AS (
  SELECT doc_id, token, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, rank, token, tfidf FROM ranked WHERE rank <= 3
"""


def q_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates vs exact counts: the
    mergeable fixed-size (depth x width) counter table answers "how often
    does key k appear" with est >= true, from a shuffle that carries at
    most depth*width groups no matter the column's cardinality."""
    li = _t(spark, sf_dir, "lineitem")
    keys = _t(spark, sf_dir, "part").where("p_partkey <= 50").select(
        F.col("p_partkey").alias("key")
    )
    sk = skew.count_min_sketch(li, "l_partkey", width=256, depth=3, seed=1)
    est = skew.cms_estimate(sk, keys, "key", width=256, depth=3, seed=1)
    tru = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return est.join(tru, "key", "left").select(
        "key",
        F.col("est").cast("long").alias("est"),
        F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
    )


SQL_COUNT_MIN_FREQ = r"""
WITH vals AS (SELECT l_partkey AS v FROM lineitem WHERE l_partkey IS NOT NULL),
ds AS (SELECT unnest([0,1,2]) AS d),
sk AS (
  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT ds.d,
           CAST(CAST(('0x'||substr(md5('cms1_'||CAST(ds.d AS VARCHAR)||CAST(v AS VARCHAR)),1,15)) AS BIGINT) % 256 AS INT) AS bucket
    FROM vals, ds) GROUP BY 1,2
),
keys AS (SELECT p_partkey AS key FROM part WHERE p_partkey <= 50),
probes AS (
  SELECT key, ds.d,
         CAST(CAST(('0x'||substr(md5('cms1_'||CAST(ds.d AS VARCHAR)||CAST(key AS VARCHAR)),1,15)) AS BIGINT) % 256 AS INT) AS bucket
  FROM keys, ds),
est AS (SELECT key, CAST(MIN(COALESCE(cnt,0)) AS BIGINT) AS est FROM probes LEFT JOIN sk USING(d,bucket) GROUP BY key),
tru AS (SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM lineitem GROUP BY 1)
SELECT est.key, est, COALESCE(true_cnt, 0) AS true_cnt FROM est LEFT JOIN tru ON est.key = tru.key
"""


def q_setsim_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard self-join via prefix filtering (AllPairs/SSJoin):
    candidate generation joins only on rarest-first prefix tokens (length
    s - ceil(t*s) + 1) with a length filter, then verifies exactly — same
    answer as the brute-force oracle, without joining on every shingle.
    The scale path for exact near-dup pairs (vs LSH's probabilistic
    recall and ngram_jaccard_pairs' full-inverted-index join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.setsim_prefix_pairs(docs, "doc_id", "text", threshold=0.5, shingle_n=3)


SQL_SETSIM_PREFIX_PAIRS = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS toks
  FROM documents
), d AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 1, 1))]) AS sh
  FROM base
), d2 AS (SELECT * FROM d WHERE len(sh) > 0)
SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh)) * 1.0 /
         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
  FROM d2 a JOIN d2 b ON a.doc_id < b.doc_id
) WHERE j >= 0.5
"""


def q_embedding_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on an array column: identical embedding vectors collapse
    to the smallest vec_id."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id")).select(
        "vec_id"
    )


SQL_EMBEDDING_EXACT_DEDUP = """
SELECT CAST(MIN(vec_id) AS BIGINT) AS vec_id FROM embeddings GROUP BY embedding
"""


def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas (GROUPED_MAP): z-score normalization within each
    market segment — the canonical per-group pandas transform, Arrow-batched
    with one shuffle on the group key."""
    import pandas as pd

    cust = _t(spark, sf_dir, "customer")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["c_acctbal"].mean()
        std = pdf["c_acctbal"].std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "z": ((pdf["c_acctbal"] - mean) / std).round(6),
            }
        )

    return cust.groupBy("c_mktsegment").applyInPandas(
        zscore, "c_custkey long, c_mktsegment string, z double"
    )


SQL_GROUPED_ZSCORE = """
SELECT c_custkey, c_mktsegment,
       ROUND((c_acctbal - AVG(c_acctbal) OVER w) / STDDEV_SAMP(c_acctbal) OVER w, 6) AS z
FROM customer WINDOW w AS (PARTITION BY c_mktsegment)
"""


def q_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas_udf GROUPED_AGG (UDAF surface): harmonic mean of order totals
    per priority — a custom aggregate Spark lacks natively."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG type: `-> float` hint inference breaks under
    # `from __future__ import annotations` (string annotations)
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def harmonic_mean(v: pd.Series):
        return round(len(v) / (1.0 / v).sum(), 6)

    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        harmonic_mean("o_totalprice").alias("hmean_price")
    )


SQL_GROUPED_AGG_UDAF = """
SELECT o_orderpriority,
       ROUND(COUNT(*) / SUM(1.0 / o_totalprice), 6) AS hmean_price
FROM orders GROUP BY o_orderpriority
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join — semantically identical to the plain
    join (the oracle), but a hot o_custkey spreads over 8 tasks."""
    from ..operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    out = salted_join(orders, cust, on="o_custkey", salt_cols=["o_orderkey"], buckets=8)
    return out.select("o_orderkey", "o_custkey", "c_mktsegment")


SQL_SALTED_JOIN = """
SELECT o_orderkey, o_custkey, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_salted_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase exact COUNT(DISTINCT) for skewed groups."""
    from ..operators.skew import salted_distinct_count

    li = _t(spark, sf_dir, "lineitem")
    return salted_distinct_count(li, "l_returnflag", "l_partkey", buckets=16)


SQL_SALTED_DISTINCT_COUNT = """
SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct, oracle-verified: the HLL estimate itself is
    engine-specific, so the query emits the exact counts plus booleans
    asserting the estimate landed within 3×rsd (rsd=0.05) of truth — the
    DuckDB oracle supplies the exact counts and literal TRUEs. On a fixed
    fixture the HLL sketch is deterministic, so the booleans are stable."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.05).alias("a_ord"),
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("a_part"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    tol = 3 * 0.05
    return agg.select(
        "exact_orders",
        "exact_parts",
        (F.abs(F.col("a_ord") - F.col("exact_orders"))
         <= tol * F.col("exact_orders")).alias("approx_orders_ok"),
        (F.abs(F.col("a_part") - F.col("exact_parts"))
         <= tol * F.col("exact_parts")).alias("approx_parts_ok"),
    )


SQL_APPROX_DISTINCT = """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS approx_orders_ok,
       TRUE AS approx_parts_ok
FROM lineitem
"""


# --------------------------------------------------------------------------
# rows-only: cleaning UDFs, profiling, multimodal
# --------------------------------------------------------------------------

# Deterministic "dirty" name generator shared verbatim by the Spark query
# and the DuckDB oracle — fixture c_name values are single mixed-case tokens
# that the cleaning functions pass through untouched, so the query derives
# inputs that exercise every path: apostrophe/hyphen token splits (0),
# all-upper + "Last, First" flip (1), particles + paren truncation +
# whitespace strip (2), mixed-case pass-through (3).
DIRTY_NAME_EXPR = """CASE CAST(c_custkey % 4 AS INT)
  WHEN 0 THEN 'o' || chr(39) || lower(c_name) || '-' || lower(c_mktsegment)
  WHEN 1 THEN upper(c_name) || ', ' || lower(c_mktsegment)
  WHEN 2 THEN ' ' || lower(c_name) || ' de ' || lower(c_mktsegment) || ' (dup) '
  ELSE c_name END"""


def q_fixup_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized cleaning UDFs (custom_initcap + fixUpName, reference
    common.py:631-687) over derived dirty names. Oracle-verified: the full
    token-split/initcap/particle/mixed-case/flip/truncate logic is
    replicated relationally in DuckDB (regexp token list + list_transform)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.withColumn("dirty", F.expr(DIRTY_NAME_EXPR)).select(
        "c_custkey",
        cleaning.custom_initcap_udf(F.col("dirty")).alias("name_initcap"),
        cleaning.fix_up_name_udf(F.col("dirty")).alias("name_fixed"),
    )


def _sql_initcap(x: str) -> str:
    """DuckDB replica of cleaning.custom_initcap over expression ``x``:
    split preserving the five delimiters (space ' - ` /, reference
    common.py:638), then per-token init-cap. Check ORDER mirrors the
    reference exactly: delimiter → mixed-case pass-through → particle
    lower → capitalize ("De" stays "De"; "DE"/"de" → "de")."""
    return f"""list_aggregate(
      list_transform(
        regexp_extract_all({x}, '[^ ''`/-]+|[ ''`/-]'),
        t -> CASE
               WHEN t IN (' ', chr(39), '-', '`', '/') THEN t
               WHEN NOT (t = upper(t) OR t = lower(t)) THEN t
               WHEN lower(t) IN ('de', 'of') THEN lower(t)
               ELSE upper(t[1]) || lower(t[2:])
             END),
      'string_agg', '')"""


SQL_FIXUP_NAMES = f"""
WITH base AS (
  SELECT c_custkey, {DIRTY_NAME_EXPR} AS dirty FROM customer
),
ic AS (
  SELECT c_custkey, dirty, trim(dirty) AS stripped,
         {_sql_initcap('dirty')} AS name_initcap,
         {_sql_initcap('trim(dirty)')} AS ic_stripped
  FROM base
),
p1 AS (
  SELECT c_custkey, name_initcap, stripped,
         CASE WHEN strpos(ic_stripped, '(') > 0
              THEN trim(substr(ic_stripped, 1, strpos(ic_stripped, '(') - 1))
              ELSE ic_stripped END AS v
  FROM ic
)
SELECT c_custkey, name_initcap,
       CASE WHEN stripped IN ('', ',') THEN NULL
            WHEN strpos(v, ',') > 0 THEN NULLIF(trim(
                   trim(substr(v, strpos(v, ',') + 1)) || ' ' ||
                   trim(substr(v, 1, strpos(v, ',') - 1))), '')
            ELSE NULLIF(v, '') END AS name_fixed
FROM p1
"""


def q_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open relationship discovery over the star schema (reference
    findAndDiagramRelationships common.py:995-1076, minus SemPy). FULLY
    oracled as of round 3: candidate pairs are name-driven (static for the
    fixed TPC-H schema — the oracle enumerates the same pairs via the same
    similarity function at registry-import time) and ``exact_uniqueness``
    replaces the HLL estimate with exact count_distinct, making coverage,
    uniqueness, and threshold gating deterministic and SQL-replicable."""
    tables = {
        n: _t(spark, sf_dir, n)
        for n in ("region", "nation", "customer", "supplier", "orders", "lineitem", "part")
    }
    return profile.find_relationships(spark, tables, exact_uniqueness=True)


_TPCH_COLUMNS: dict[str, list[str]] = {
    # the FIXTURE schemas (trimmed TPC-H) — what q_relationships actually
    # profiles; keep in sync with /root/testdata parquet (TESTDATA.md)
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
}


def _relationships_oracle_sql(
    coverage_threshold: float = 0.95,
    name_similarity_threshold: float = 0.8,
    uniqueness_threshold: float = 0.95,
) -> str:
    """Replicate find_relationships relationally: the candidate-pair set is
    metadata-only (profile._name_similarity over the static TPC-H column
    lists — computed HERE, at import, with the same function the operator
    uses), and per-pair coverage/uniqueness are plain distinct-count SQL.
    One UNION ALL branch per candidate pair, thresholds in WHERE."""
    from ..operators.profile import _name_similarity

    branches = []
    names = list(_TPCH_COLUMNS)
    for ta in names:
        for tb in names:
            if ta == tb:
                continue
            for ca in _TPCH_COLUMNS[ta]:
                for cb in _TPCH_COLUMNS[tb]:
                    if _name_similarity(ca, cb) < name_similarity_threshold:
                        continue
                    branches.append(f"""
SELECT '{ta}' AS from_table, '{ca}' AS from_col,
       '{tb}' AS to_table, '{cb}' AS to_col,
       ROUND(CAST(covered AS DOUBLE) / total + 1e-9, 4) AS coverage,
       ROUND(to_uniq + 1e-9, 4) AS to_uniqueness,
       from_uniq < {uniqueness_threshold} AS many_to_one
FROM (
  SELECT
    (SELECT COUNT(DISTINCT {ca}) FROM {ta} WHERE {ca} IS NOT NULL) AS total,
    (SELECT COUNT(DISTINCT {ca}) FROM {ta}
      WHERE {ca} IS NOT NULL AND {ca} IN (SELECT {cb} FROM {tb})) AS covered,
    (SELECT CAST(COUNT(DISTINCT {cb}) AS DOUBLE) / COUNT(*) FROM {tb}) AS to_uniq,
    (SELECT CAST(COUNT(DISTINCT {ca}) AS DOUBLE) / COUNT(*) FROM {ta}) AS from_uniq
)
WHERE total > 0
  AND to_uniq >= {uniqueness_threshold}
  AND CAST(covered AS DOUBLE) / total >= {coverage_threshold}""")
    return "\nUNION ALL\n".join(branches)


SQL_RELATIONSHIPS = _relationships_oracle_sql()


def q_multimodal_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal retrieval pipeline: binary payloads -> deterministic
    feature vectors (mapInPandas, stub featurizer) -> exact cosine top-5.
    Oracle-verified: the hex-chain stub featurizer is nested sha256 calls
    in DuckDB; payloads are utf-8 text bytes, which sha256(VARCHAR) hashes
    identically."""
    from ..operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    feats = extract_features(docs, dim=32, out_col="embedding")
    queries = feats.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(feats, queries, id_col="doc_id", k=5)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents' text bytes stand in for binary blobs;
    metadata extraction via mapInPandas (decode stubbed, plumbing real).
    Oracle-verified: the deterministic fake decoder (sha256-derived
    width/height/format) is replicated byte-for-byte in DuckDB."""
    from ..operators.multimodal import decode_image_meta

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return decode_image_meta(docs, "payload", decoder="fake")


SQL_MULTIMODAL_META = """
WITH h AS (
  SELECT doc_id, sha256(text) AS content_hash,
         CAST(strlen(text) AS BIGINT) AS byte_size
  FROM documents
)
SELECT doc_id, content_hash, byte_size,
       CAST(64 + CAST(('0x' || substr(content_hash, 1, 2)) AS INT) % 192 AS INT) AS width,
       CAST(64 + CAST(('0x' || substr(content_hash, 3, 2)) AS INT) % 192 AS INT) AS height,
       CASE CAST(('0x' || substr(content_hash, 5, 2)) AS INT) % 3
         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
FROM h
"""


SQL_MULTIMODAL_RETRIEVAL = """
WITH f AS (
  SELECT doc_id, sha256(sha256(text)) AS h FROM documents
),
vecs AS (
  SELECT doc_id,
         list_transform(range(0, 32), i ->
           CAST(('0x' || substr(h, 2 * i + 1, 2)) AS INT) / 255.0 - 0.5) AS raw
  FROM f
),
normed AS (
  SELECT doc_id,
         CASE WHEN sqrt(list_dot_product(raw, raw)) > 0
              THEN list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw)))
              ELSE raw END AS v
  FROM vecs
),
scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
         list_dot_product(q.v, c.v) /
           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS score
  FROM normed q JOIN normed c ON c.doc_id <> q.doc_id
  WHERE q.doc_id < 3
)
SELECT query_id, doc_id, ROUND(score, 6) AS score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# classic analytics II: remaining TPC-H join/subquery topologies
# (Q7/Q8/Q12/Q14/Q15/Q17/Q18/Q19/Q21 shapes, adapted to the fixture schema —
# no partsupp/commitdate/receiptdate/shipmode columns, so date-lag predicates
# use l_shipdate vs o_orderdate and Q2/Q9/Q11/Q16/Q20 are unexpressible)
# --------------------------------------------------------------------------

def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    Scale notes: the two nation dims are pre-filtered to the pair BEFORE the
    join (prunes supplier/customer to ~2/25 of rows at the scan), then the
    symmetric OR is applied across the two joined names; nation is broadcast
    (25 rows)."""
    li, orders = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    cust, supp = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    n_s = F.broadcast(
        nation.where(F.col("n_name").isin(*pair)).select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n_c = F.broadcast(
        nation.where(F.col("n_name").isin(*pair)).select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n_s, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n_c, F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


SQL_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for one part
    type, by order year — conditional-sum ratio over a 7-table join. Region
    and nation are broadcast; the part-type filter prunes the part join
    input before the fact join."""
    li, orders = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    cust, supp = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    nation, region = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    n_c = F.broadcast(
        nation.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey"))
    )
    n_s = F.broadcast(
        nation.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    )
    amer = F.broadcast(region.where(F.col("r_name") == "ASIA"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n_c, F.col("c_nationkey") == F.col("c_nkey"))
        .join(amer, F.col("c_rkey") == F.col("r_regionkey"))
        .join(n_s, F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


SQL_MARKET_SHARE = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       ROUND(SUM(CASE WHEN n2.n_name = 'NATION_5'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY o_year
"""


def q_late_lines_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column → grouped by l_linestatus):
    conditional counting of high/low-priority orders among late shipments
    (shipped >60 days after order date)."""
    li, orders = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_LATE_LINES_BY_PRIORITY = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share over one year — a
    conditional-sum / total-sum ratio after a fact↔dim join."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
    )


SQL_PROMO_REVENUE = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: per-supplier quarterly revenue CTE joined back
    against its own MAX (scalar subquery over an aggregate). Revenue is
    rounded to 2dp before the max-comparison so the float sum-order noise
    between engines cannot flip membership."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == max_rev.m)
        .join(supp, revenue.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery — lines whose quantity is
    below 20% of the per-part average, for one brand. Catalyst rewrites the
    correlation into an aggregate + join on l_partkey (no per-row re-scan)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q17_part")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM __q17_lineitem JOIN __q17_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13'
          AND l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM __q17_lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
        """
    )


SQL_SMALL_QTY_REVENUE = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate over the fact table
    (orders totalling >250 units) joined back to orders + customer. The
    heavy groupBy runs on the fact table alone; the join fans in only the
    surviving ~1% of keys."""
    li, orders = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .where(F.col("raw_qty") > 250)
        .select("l_orderkey", F.round("raw_qty", 2).alias("total_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


SQL_LARGE_VOLUME_CUSTOMERS = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       ROUND(total_qty, 2) AS total_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_disc_revenue_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions
    across a fact↔dim join — exercises OR-predicate pushdown and the
    optimizer's common-factor extraction."""
    li, part = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


SQL_DISC_REVENUE_OR = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (late = shipped >60 days after order date, since the
    fixtures have no commit/receipt dates): suppliers who were the ONLY late
    shipper on a finished multi-supplier order — EXISTS + NOT EXISTS, both
    correlated on the same fact table."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("__q21_supplier")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q21_lineitem")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__q21_orders")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM __q21_supplier
        JOIN __q21_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN __q21_orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
          AND EXISTS (
            SELECT 1 FROM __q21_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM __q21_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY s_name
        """
    )


SQL_WAITING_SUPPLIERS = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-aggregate on the fact table, no joins —
    the canonical predicate-pushdown probe. All three predicates
    (shipdate range, discount band, quantity cap) reach the parquet scan as
    PushedFilters; the agg is a single partial+final SUM with no shuffle of
    row data (only the 1-row partials)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
        )
    )


SQL_FORECAST_REVENUE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    quarter. The heavy groupBy runs on (custkey) AFTER the fact↔orders join
    is pruned by both date and returnflag filters at the scans; nation (25
    rows) is broadcast; top-k is a single-partition sort of the ~1k
    aggregated customers, not of the fact table."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


SQL_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# training-pipeline additions: TF-IDF, deterministic stratified sampling,
# time-RANGE trailing windows
# --------------------------------------------------------------------------

def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF (document frequency over ALL docs), then a per-doc slice.
    The doc_id filter lands on the tf branch only — Catalyst pushes it through
    the token join while df_t stays corpus-wide, as TF-IDF requires."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.tf_idf(docs).where(F.col("doc_id") < 50)


SQL_TF_IDF = """
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), dfreq AS (
  SELECT token, COUNT(*) AS df_t FROM tf GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df_t AS BIGINT) AS df_t,
       ROUND(LN(CAST(n_docs AS DOUBLE) / df_t), 6) AS idf,
       ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df_t), 6) AS tfidf
FROM tf JOIN dfreq USING (token) CROSS JOIN n
WHERE doc_id < 50
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by md5 hash bucket — per-language
    keep rates, reproducible bit-for-bit by any engine (no RNG)."""
    docs = _t(spark, sf_dir, "documents")
    out = transform.stratified_sample_by_hash(
        docs, "lang", {"en": 0.5, "de": 0.25}, id_col="doc_id", default_fraction=0.1
    )
    return out.select("doc_id", "lang")


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
           / 4294967295.0 AS bucket
  FROM documents
)
WHERE bucket < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
"""


def q_events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 1-hour RANGE window (count + decimal-exact sum):
    frame membership by event-time distance at microsecond precision, so
    simultaneous events are peers and the result needs no tiebreak."""
    evdf = _t(spark, sf_dir, "events")
    return ev.with_trailing_range_agg(evdf).select(
        "user_id", "event_id", "trailing_n", "trailing_sum_value"
    )


SQL_EVENTS_TRAILING_WINDOW = """
SELECT user_id, event_id,
       COUNT(value) OVER w AS trailing_n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w, 4) AS DOUBLE)
         AS trailing_sum_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube): per (flag,status),
    per flag, and grand total in ONE pass — Spark expands to a single
    Expand+HashAggregate, not three scans. GROUPING() flags disambiguate
    aggregation nulls from data nulls."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: new batch (doc_id >= 400) anti-joined
    against the accumulated corpus (doc_id < 400) by content hash."""
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") >= 400)
    corpus = docs.where(F.col("doc_id") < 400)
    out = dedup.dedup_against_corpus(new_batch, corpus)
    return out.select("doc_id", "lang", "source")


SQL_CORPUS_DEDUP = """
SELECT doc_id, lang, source
FROM documents d
WHERE doc_id >= 400
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.doc_id < 400 AND md5(trim(c.text)) = md5(trim(d.text))
  )
"""


def q_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted set aggregation to arrays: per market segment, the ordered
    distinct order-priorities. collect_set is partial-aggregable (map-side
    sets merge), sort_array makes the result deterministic for comparison."""
    orders, cust = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), "|").alias(
                "priorities"
            ),
            F.count_distinct("o_orderpriority").alias("n_priorities"),
        )
    )


SQL_ARRAY_AGG_SORTED = """
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_cumulative_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals per customer: cumulative order spend, order sequence
    number, and first order date — unbounded-preceding window frames over a
    decimal-cast sum (association-order-proof)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(cum), 2)
        .cast("double")
        .alias("cum_spend"),
        F.first_value(F.col("o_orderdate")).over(cum).alias("first_order_date"),
    )


SQL_CUMULATIVE_SPEND = """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS INT) AS order_seq,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE) AS cum_spend,
       FIRST_VALUE(o_orderdate) OVER w AS first_order_date
FROM orders
WHERE o_custkey < 300
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (lateral view): token with its offset per doc —
    the chunking/alignment primitive. Narrow per-row expansion, no shuffle."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 5)
    return docs.select(
        "doc_id",
        F.posexplode(textstats.tokens("text")).alias("pos", "token"),
    )


SQL_POSEXPLODE_TOKENS = """
SELECT doc_id, pos, token
FROM (
  SELECT doc_id,
         unnest(list_transform(arr, (x, i) -> {'pos': i - 1, 'token': x}),
                recursive := true)
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
    FROM documents WHERE doc_id < 5
  )
)
WHERE token <> ''
"""


def q_median_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (Spark's median == DuckDB's
    quantile_cont 0.5). Exact medians need the group's values together —
    one shuffle; the approx_percentile variant is the no-sort scale path."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.median("c_acctbal"), 4).alias("median_acctbal"),
        F.count("*").alias("n"),
    )


SQL_MEDIAN_BY_SEGMENT = """
SELECT c_mktsegment, ROUND(median(c_acctbal), 4) AS median_acctbal,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer GROUP BY c_mktsegment
"""


def q_multiset_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference): customer nation memberships minus
    supplier nation memberships, preserving multiplicity — the per-nation
    surplus of customers over suppliers, then folded to counts."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        cust.exceptAll(supp)
        .groupBy("nationkey")
        .agg(F.count("*").alias("surplus"))
    )


SQL_MULTISET_NATION_BALANCE = """
SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS surplus
FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL
  SELECT s_nationkey AS nationkey FROM supplier
)
GROUP BY nationkey
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the events stream: users grouped by first-seen
    week, counted active in each subsequent week. Two aggregations on
    user_id (first-seen and distinct activity) feed one join — at 100 TB
    both shuffle on user_id and AQE co-locates the join; the final rollup
    is (cohort, week_n)-sized."""
    evdf = _t(spark, sf_dir, "events")
    first_seen = evdf.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = evdf.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            (F.floor(F.datediff("week", "cohort") / 7)).cast("int").alias("week_n"),
        )
        .agg(F.count("*").alias("active_users"))
    )


SQL_COHORT_RETENTION = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', cohort, week) / 7 AS INT) AS week_n,
       CAST(COUNT(*) AS BIGINT) AS active_users
FROM activity JOIN first_seen USING (user_id)
GROUP BY 1, 2
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → click → purchase: a user advances a
    stage only with an event strictly AFTER their previous stage's first
    event. Each stage is a per-user min-aggregate plus one join on user_id
    — no window over the raw stream, no cross product; stage tables shrink
    monotonically."""
    evdf = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(stage_type: str, prev: DataFrame, prev_ts: str, out_ts: str) -> DataFrame:
        ev_s = evdf.where(F.col("event_type") == stage_type)
        return (
            ev_s.join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    s1 = (
        evdf.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after("view", s1, "t1", "t2")
    s3 = first_after("click", s2, "t2", "t3")
    s4 = first_after("purchase", s3, "t3", "t4")
    stages = [
        ("1_signup", s1), ("2_view", s2), ("3_click", s3), ("4_purchase", s4),
    ]
    parts = [
        df.agg(F.lit(name).alias("stage"), F.count("*").alias("users"))
        for name, df in stages
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_EVENT_FUNNEL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, MIN(e.ts) AS t4 FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id
)
SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM s1
UNION ALL SELECT '2_view', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL SELECT '3_click', CAST(COUNT(*) AS BIGINT) FROM s3
UNION ALL SELECT '4_purchase', CAST(COUNT(*) AS BIGINT) FROM s4
"""


def q_ffd_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing (density-optimal offline variant of
    greedy_packing): per-pack roll-up at budget 256. Oracle-verified: the
    stateful open-bin scan is a recursive CTE in DuckDB whose per-shard
    state (remaining room per open pack) rides in a LIST column."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    counted = packing.with_token_count(docs)
    packed = packing.ffd_pack(counted, budget=256)
    return packing.pack_summary(packed, budget=256)


SQL_FFD_PACKING = r"""
WITH RECURSIVE counted AS (
  SELECT doc_id, source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS INT) AS n_tokens
  FROM documents
),
ordered AS (
  SELECT source, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_tokens DESC, doc_id) AS rn
  FROM counted
),
walk AS (
  SELECT source, rn, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, [256 - n_tokens] AS rem
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.n_tokens,
         CAST(COALESCE(ff.idx - 1, len(w.rem)) AS BIGINT) AS pack_id,
         CASE WHEN ff.idx IS NULL THEN list_append(w.rem, 256 - o.n_tokens)
              ELSE list_transform(range(1, len(w.rem) + 1),
                     j -> CASE WHEN j = ff.idx THEN w.rem[j] - o.n_tokens
                               ELSE w.rem[j] END)
         END AS rem
  FROM walk w
  JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
  CROSS JOIN LATERAL (SELECT list_filter(range(1, len(w.rem) + 1),
                                         i -> w.rem[i] >= o.n_tokens)[1] AS idx) ff
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(n_tokens) / 256, 4) AS fill_ratio
FROM walk GROUP BY source, pack_id
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (DataFrame.unpivot — the inverse of pivot_status):
    per-nation customer metrics as (nation, metric, value) rows. Narrow
    after a 25-group aggregate; the unpivot itself is a per-row expression
    expansion, no shuffle."""
    cust = _t(spark, sf_dir, "customer")
    wide = cust.groupBy("c_nationkey").agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.count("*").cast("double").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["c_nationkey"],
        values=["avg_bal", "max_bal", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )


SQL_UNPIVOT_METRICS = """
WITH wide AS (
  SELECT c_nationkey,
         ROUND(AVG(c_acctbal), 4) AS avg_bal,
         ROUND(MAX(c_acctbal), 2) AS max_bal,
         CAST(COUNT(*) AS DOUBLE) AS n_customers
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, 'avg_bal' AS metric, avg_bal AS value FROM wide
UNION ALL
SELECT c_nationkey, 'max_bal', max_bal FROM wide
UNION ALL
SELECT c_nationkey, 'n_customers', n_customers FROM wide
"""


def q_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over a full-partition frame: each customer's
    first and latest order price by date (o_orderkey tiebreak makes the
    frame order total → deterministic)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.withColumn("first_price", F.first("o_totalprice").over(w))
        .withColumn("last_price", F.last("o_totalprice").over(w))
        .groupBy("o_custkey", "first_price", "last_price")
        .agg(F.count("*").alias("n_orders"))
    )


SQL_FIRST_LAST_WINDOW = """
WITH fl AS (
  SELECT o_custkey,
         FIRST_VALUE(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
         LAST_VALUE(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
  FROM orders
)
SELECT o_custkey, first_price, last_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM fl GROUP BY o_custkey, first_price, last_price
"""


def q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-corpus pipeline (operators/pipeline.py): lang ID →
    quality floor → exact dedup → MinHash near-dup prune → token count →
    greedy packing, reported per source shard.

    Oracle-verified end-to-end: every stage is replicated in one DuckDB
    query — lang/quality reuse their per-stage oracle logic, the near-dup
    prune is brute-force all-pairs Jaccard (recall-1 equivalence, same
    argument as minhash_neardup_pairs), and the sequential greedy packer
    is a recursive CTE walking each shard in order."""
    from ..operators import pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # rotating scope: the previous call's caches are released here, this
    # call's stay alive through the caller's action (lazy — no eager
    # materialization in the builder)
    scope = _rotating_scope("corpus_prepare")
    packed = pipeline.prepare_corpus(
        docs, pack_budget=512, neardup_bands=32, scope=scope
    )
    return pipeline.corpus_report(packed, pack_budget=512)


SQL_CORPUS_PREPARE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, text, source,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   t -> t <> '')) AS tk
  FROM documents
),
lang AS (
  SELECT doc_id, text, source,
    list_reverse_sort([
      {'hits': CAST(len(list_intersect(tk, ['the','and','of','to','a','in','is','that','it','for'])) AS INT), 'lang': 'en'},
      {'hits': CAST(len(list_intersect(tk, ['el','la','de','que','y','en','un','por','con','los'])) AS INT), 'lang': 'es'},
      {'hits': CAST(len(list_intersect(tk, ['der','die','und','das','ist','von','mit','den','ein','zu'])) AS INT), 'lang': 'de'},
      {'hits': CAST(len(list_intersect(tk, ['le','la','les','de','et','un','une','est','que','dans'])) AS INT), 'lang': 'fr'},
      {'hits': CASE WHEN regexp_matches(text, '[一-鿿]') THEN 10
               ELSE CAST(len(list_intersect(tk, ['的','是','了','在','我','有','和','人','这','不'])) AS INT) END,
       'lang': 'zh'}
    ])[1] AS best
  FROM toks
),
quality AS (
  SELECT doc_id, text, source,
         CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
         ROUND(
           (CASE WHEN len(wtoks) < 5 THEN 0.2 WHEN len(wtoks) > 10000 THEN 0.5 ELSE 1.0 END)
           * (CASE WHEN punct / GREATEST(LENGTH(text), 1) > 0.2 THEN 0.5 ELSE 1.0 END)
           * (0.5 + 0.5 * (len(list_distinct(wtoks)) / GREATEST(len(wtoks), 1))), 4
         ) AS quality_score
  FROM (SELECT *,
               list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS wtoks,
               LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct
        FROM lang)
),
kept AS (
  SELECT doc_id, text, source FROM quality
  WHERE lang_pred = 'en' AND quality_score >= 0.5
),
exact AS (
  SELECT doc_id, text, source FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
      ORDER BY doc_id) AS rn
    FROM kept)
  WHERE rn = 1
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t3) - 2, 0) + 1),
            i -> t3[i] || ' ' || t3[i+1] || ' ' || t3[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t3 FROM exact)
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
losers AS (
  SELECT DISTINCT id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = p.id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = p.id_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.7
),
counted AS (
  SELECT e.doc_id, e.source,
         len(list_filter(string_split_regex(trim(e.text), '\s+'), x -> x <> '')) AS n_tokens
  FROM exact e ANTI JOIN losers l ON e.doc_id = l.id_b
),
ordered AS (
  SELECT source, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM counted
),
walk AS (
  SELECT source, rn, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.n_tokens,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 512
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 512
              THEN o.n_tokens ELSE w.used + o.n_tokens END
  FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
),
per_pack AS (
  SELECT source, pack_id,
         COUNT(*) AS n_docs, SUM(n_tokens) AS sum_tokens,
         ROUND(SUM(n_tokens) / 512, 4) AS fill_ratio
  FROM walk GROUP BY source, pack_id
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(sum_tokens) AS BIGINT) AS sum_tokens,
       FLOOR((20000.0 * SUM(sum_tokens) + 512 * COUNT(*))
             / (1024.0 * COUNT(*))) / 10000.0 AS avg_fill
FROM per_pack
GROUP BY source
"""


def q_corpus_prepare_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY-WIRED corpus pipeline (round 7, VERDICT_r06 item #4): the
    corpus_prepare composition PLUS both decontamination doors and the
    deterministic shuffle — lang ID → quality floor → exact dedup →
    MinHash near-dup prune → exact 8-gram decontamination → FUZZY
    MinHash decontamination → md5-deterministic corpus shuffle → token
    count → greedy packing in SHUFFLE order, reported per source shard.

    The benchmark plants both leak kinds: every 41st doc verbatim (the
    exact door must catch it) and every 37th doc with a marker word
    injected after every 6th word — NO shared word-8-gram survives (every
    benchmark 8-gram spans a marker), but bigram Jaccard stays ≈0.64
    (measured ≥0.63 on the fixture, noise ceiling 0.12), so ONLY the
    fuzzy door catches it: the composed query fails if either door is
    unwired. Packing consumes shuffle_pos, so pack boundaries verify the
    shuffle too. Oracle replays every stage, brute-force where the
    engine uses sketches."""
    from ..operators import pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bench_a = docs.where(F.col("doc_id") % 41 == 0).select("text")
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != ""
    )
    marked = F.array_join(
        F.flatten(
            F.transform(
                words,
                lambda w, i: F.when(
                    ((i + 1) % 6) == 0, F.array(w, F.lit("zzmk"))
                ).otherwise(F.array(w)),
            )
        ),
        " ",
    )
    bench_b = docs.where(F.col("doc_id") % 37 == 0).select(
        marked.alias("text")
    )
    # rotating scope: previous call's three pipeline caches are released
    # here; this call's stay alive through the caller's action (the leaked
    # caches once made re-runs 16 s vs 6 s — the rotation bounds the leak
    # to one outstanding set without the eager-checkpoint cost)
    scope = _rotating_scope("corpus_prepare_full")
    packed = pipeline.prepare_corpus(
        docs,
        pack_budget=512,
        neardup_bands=32,
        benchmark_df=bench_a.unionByName(bench_b),
        decontaminate_ngram=8,
        decontaminate_fuzzy_ngram=2,
        decontaminate_fuzzy_threshold=0.5,
        shuffle_salt="epoch0",
        scope=scope,
    )
    return pipeline.corpus_report(packed, pack_budget=512)


SQL_CORPUS_PREPARE_FULL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, text, source,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   t -> t <> '')) AS tk
  FROM documents
),
lang AS (
  SELECT doc_id, text, source,
    list_reverse_sort([
      {'hits': CAST(len(list_intersect(tk, ['the','and','of','to','a','in','is','that','it','for'])) AS INT), 'lang': 'en'},
      {'hits': CAST(len(list_intersect(tk, ['el','la','de','que','y','en','un','por','con','los'])) AS INT), 'lang': 'es'},
      {'hits': CAST(len(list_intersect(tk, ['der','die','und','das','ist','von','mit','den','ein','zu'])) AS INT), 'lang': 'de'},
      {'hits': CAST(len(list_intersect(tk, ['le','la','les','de','et','un','une','est','que','dans'])) AS INT), 'lang': 'fr'},
      {'hits': CASE WHEN regexp_matches(text, '[一-鿿]') THEN 10
               ELSE CAST(len(list_intersect(tk, ['的','是','了','在','我','有','和','人','这','不'])) AS INT) END,
       'lang': 'zh'}
    ])[1] AS best
  FROM toks
),
quality AS (
  SELECT doc_id, text, source,
         CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
         ROUND(
           (CASE WHEN len(wtoks) < 5 THEN 0.2 WHEN len(wtoks) > 10000 THEN 0.5 ELSE 1.0 END)
           * (CASE WHEN punct / GREATEST(LENGTH(text), 1) > 0.2 THEN 0.5 ELSE 1.0 END)
           * (0.5 + 0.5 * (len(list_distinct(wtoks)) / GREATEST(len(wtoks), 1))), 4
         ) AS quality_score
  FROM (SELECT *,
               list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS wtoks,
               LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct
        FROM lang)
),
kept AS (
  SELECT doc_id, text, source FROM quality
  WHERE lang_pred = 'en' AND quality_score >= 0.5
),
exact AS (
  SELECT doc_id, text, source FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
      ORDER BY doc_id) AS rn
    FROM kept)
  WHERE rn = 1
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t3) - 2, 0) + 1),
            i -> t3[i] || ' ' || t3[i+1] || ' ' || t3[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t3 FROM exact)
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
losers AS (
  SELECT DISTINCT id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = p.id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = p.id_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.7
),
deduped AS (
  SELECT e.doc_id, e.text, e.source
  FROM exact e ANTI JOIN losers l ON e.doc_id = l.id_b
),
-- benchmark: slice A verbatim (every 41st raw doc), slice B every 37th raw
-- doc with 'zzmk' injected after every 6th word (DuckDB lambda index i is
-- 1-based; Spark's 0-based (i+1)%6 matches)
bench AS (
  SELECT text FROM documents WHERE doc_id % 41 = 0
  UNION ALL
  SELECT array_to_string(
           flatten(list_transform(
             list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''),
             (w, i) -> CASE WHEN i % 6 = 0 THEN [w, 'zzmk'] ELSE [w] END)), ' ')
  FROM documents WHERE doc_id % 37 = 0
),
-- exact door: shared word-8-gram with any benchmark text
b8 AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
             || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS s
  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM bench)
),
c8 AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
             || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))) AS s
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM deduped)
),
exact_dirty AS (SELECT DISTINCT c8.doc_id FROM c8 JOIN b8 ON c8.s = b8.s),
after_exact AS (
  SELECT d.doc_id, d.text, d.source
  FROM deduped d ANTI JOIN exact_dirty x ON d.doc_id = x.doc_id
),
-- fuzzy door: word-BIGRAM Jaccard >= 0.5 vs any benchmark text (brute force;
-- the engine's 32x2 MinHash banding is structural at this threshold)
b2 AS (
  SELECT row_number() OVER () AS bid,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
            i -> t[i] || ' ' || t[i+1])) AS g
  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM bench)
),
c2 AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
            i -> t[i] || ' ' || t[i+1])) AS g
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM after_exact)
),
fuzzy_dirty AS (
  SELECT DISTINCT c2.doc_id
  FROM c2 JOIN b2 ON len(list_intersect(c2.g, b2.g)) > 0
  WHERE CAST(len(list_intersect(c2.g, b2.g)) AS DOUBLE)
        / (len(c2.g) + len(b2.g) - len(list_intersect(c2.g, b2.g))) >= 0.5
),
survivors AS (
  SELECT a.doc_id, a.text, a.source
  FROM after_exact a ANTI JOIN fuzzy_dirty f ON a.doc_id = f.doc_id
),
-- deterministic shuffle: md5('epoch0' || id) priority; packing walks each
-- shard in (priority, id) order — identical to global shuffle_pos order
counted AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
         ('0x' || substring(md5('epoch0' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS pri
  FROM survivors
),
ordered AS (
  SELECT source, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
  FROM counted
),
walk AS (
  SELECT source, rn, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.n_tokens,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 512
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 512
              THEN o.n_tokens ELSE w.used + o.n_tokens END
  FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
),
per_pack AS (
  SELECT source, pack_id,
         COUNT(*) AS n_docs, SUM(n_tokens) AS sum_tokens,
         ROUND(SUM(n_tokens) / 512, 4) AS fill_ratio
  FROM walk GROUP BY source, pack_id
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(sum_tokens) AS BIGINT) AS sum_tokens,
       FLOOR((20000.0 * SUM(sum_tokens) + 512 * COUNT(*))
             / (1024.0 * COUNT(*))) / 10000.0 AS avg_fill
FROM per_pack
GROUP BY source
"""


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (joins.asof_join direction=forward): each
    click/view event gets the NEXT error event's value for the same user
    (earliest right.ts >= left.ts, inclusive) — the "what broke after
    this action" probe, mirror of the backward default. Same one-window
    carry walked in descending timestamp order; ties on the (second-
    truncated) error timestamp break on greatest event_id, replicated by
    the oracle."""
    from ..operators.joins import asof_join

    evdf = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    left = evdf.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts"
    )
    errors = evdf.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id"),
        F.col("value").alias("err_value"),
    )
    out = asof_join(
        left, errors, on="user_id", right_cols=["err_value"], suffix="",
        right_tie_break="err_id", direction="forward",
    )
    return out.select("event_id", "user_id", "err_value")


SQL_ASOF_JOIN_FORWARD = """
WITH e AS (SELECT event_id, user_id, event_type, value,
                  date_trunc('second', ts) AS ts FROM events),
l AS (SELECT event_id, user_id, ts FROM e WHERE event_type IN ('click', 'view')),
r AS (SELECT user_id, ts, event_id AS err_id, value AS err_value
      FROM e WHERE event_type = 'error'),
m AS (
  SELECT l.event_id, l.user_id, r.err_value, r.ts AS rts, r.err_id,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts ASC, r.err_id DESC) AS rk
  FROM l JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
)
SELECT l.event_id, l.user_id, m.err_value
FROM l LEFT JOIN (SELECT * FROM m WHERE rk = 1) m ON l.event_id = m.event_id
"""


def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (joins.asof_join_nearest): each click/view event
    takes whichever error event is closer in time — backward wins exact
    ties (pandas merge_asof direction='nearest' convention). Two
    directional one-window passes + a map-side pick; the matched error
    timestamp is returned so the oracle verifies the pick itself."""
    from ..operators.joins import asof_join_nearest

    evdf = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    left = evdf.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts"
    )
    errors = evdf.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id"),
        F.col("value").alias("err_value"),
    )
    out = asof_join_nearest(
        left, errors, on="user_id", right_cols=["err_value"], suffix="",
        right_tie_break="err_id",
    )
    return out.select(
        "event_id", "user_id", "err_value",
        F.col("__nearest_ts").alias("matched_ts"),
    )


SQL_ASOF_JOIN_NEAREST = """
WITH e AS (SELECT event_id, user_id, event_type, value,
                  date_trunc('second', ts) AS ts FROM events),
l AS (SELECT event_id, user_id, ts FROM e WHERE event_type IN ('click', 'view')),
r AS (SELECT user_id, ts, event_id AS err_id, value AS err_value
      FROM e WHERE event_type = 'error'),
b AS (
  SELECT l.event_id, r.err_value, r.ts AS rts,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC, r.err_id DESC) AS rk
  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
),
f AS (
  SELECT l.event_id, r.err_value, r.ts AS rts,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts ASC, r.err_id DESC) AS rk
  FROM l JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
)
SELECT l.event_id, l.user_id,
       CASE WHEN b.rts IS NULL AND f.rts IS NOT NULL THEN f.err_value
            WHEN f.rts IS NOT NULL
                 AND epoch_us(f.rts) - epoch_us(l.ts)
                     < epoch_us(l.ts) - epoch_us(b.rts) THEN f.err_value
            ELSE b.err_value END AS err_value,
       CASE WHEN b.rts IS NULL AND f.rts IS NOT NULL THEN f.rts
            WHEN f.rts IS NOT NULL
                 AND epoch_us(f.rts) - epoch_us(l.ts)
                     < epoch_us(l.ts) - epoch_us(b.rts) THEN f.rts
            ELSE b.rts END AS matched_ts
FROM l
LEFT JOIN (SELECT * FROM b WHERE rk = 1) b ON l.event_id = b.event_id
LEFT JOIN (SELECT * FROM f WHERE rk = 1) f ON l.event_id = f.event_id
"""


def q_asof_nearest_subsecond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join at SUB-SECOND precision (oracle guard for the
    ADVICE-r7 unix_micros fix, VERDICT r8 item #6): every event gets a
    planted deterministic microsecond offset (event_id·137 mod 1e6 —
    exact integer µs via timestampadd, no float rounding, no timezone
    arithmetic), so backward/forward distances differ below one second
    and a whole-second truncation anywhere in the distance math would
    flip picks. Same two directional one-window passes + map-side pick
    as asof_nearest."""
    from ..operators.joins import asof_join_nearest

    evdf = _t(spark, sf_dir, "events").withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND,"
            " CAST(event_id * 137 % 1000000 AS BIGINT),"
            " date_trunc('second', ts))"
        ),
    )
    left = evdf.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts"
    )
    errors = evdf.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id"),
        F.col("value").alias("err_value"),
    )
    out = asof_join_nearest(
        left, errors, on="user_id", right_cols=["err_value"], suffix="",
        right_tie_break="err_id",
    )
    return out.select(
        "event_id", "user_id", "err_value",
        F.col("__nearest_ts").alias("matched_ts"),
    )


SQL_ASOF_NEAREST_SUBSECOND = """
WITH e AS (SELECT event_id, user_id, event_type, value,
                  date_trunc('second', ts)
                    + to_microseconds(CAST(event_id * 137 % 1000000
                                           AS BIGINT)) AS ts
           FROM events),
l AS (SELECT event_id, user_id, ts FROM e WHERE event_type IN ('click', 'view')),
r AS (SELECT user_id, ts, event_id AS err_id, value AS err_value
      FROM e WHERE event_type = 'error'),
b AS (
  SELECT l.event_id, r.err_value, r.ts AS rts,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC, r.err_id DESC) AS rk
  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
),
f AS (
  SELECT l.event_id, r.err_value, r.ts AS rts,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts ASC, r.err_id DESC) AS rk
  FROM l JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
)
SELECT l.event_id, l.user_id,
       CASE WHEN b.rts IS NULL AND f.rts IS NOT NULL THEN f.err_value
            WHEN f.rts IS NOT NULL
                 AND epoch_us(f.rts) - epoch_us(l.ts)
                     < epoch_us(l.ts) - epoch_us(b.rts) THEN f.err_value
            ELSE b.err_value END AS err_value,
       CASE WHEN b.rts IS NULL AND f.rts IS NOT NULL THEN f.rts
            WHEN f.rts IS NOT NULL
                 AND epoch_us(f.rts) - epoch_us(l.ts)
                     < epoch_us(l.ts) - epoch_us(b.rts) THEN f.rts
            ELSE b.rts END AS matched_ts
FROM l
LEFT JOIN (SELECT * FROM b WHERE rk = 1) b ON l.event_id = b.event_id
LEFT JOIN (SELECT * FROM f WHERE rk = 1) f ON l.event_id = f.event_id
"""


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (timeseries.twap): each
    observation weighted by its µs interval to the next observation of
    the same type — the sampling-bias-proof mean for irregular series.
    Exact µs·DECIMAL(18,6) products, one double division per key."""
    evdf = _t(spark, sf_dir, "events")
    return timeseries.twap(
        evdf, ["event_type"], "ts", "value", tie_col="event_id"
    )


SQL_TWAP = """
WITH g AS (
  SELECT event_type,
         CAST(epoch_us(LEAD(ts) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id))
              - epoch_us(ts) AS DECIMAL(18,0)) AS w,
         -- DECIMAL(20,6) keeps w*v inside DuckDB's 38-digit product cap
         -- (18+20=38) while Spark's (18,0)x(18,6) widens to (37,6); both
         -- are exact integer arithmetic, so the sums agree bit-for-bit
         CAST(value AS DECIMAL(20,6)) AS v
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       ROUND(CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6) AS twap,
       ROUND(CAST(SUM(w) AS DOUBLE) / 1e6, 6) AS span_s
FROM g WHERE w IS NOT NULL
GROUP BY event_type
"""


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type (timeseries.ohlc_bars): open/close
    via ONE min_by/max_by pass keyed on (epoch µs, event_id) — no window
    sort; high/low plain min/max. The composite key makes timestamp ties
    deterministic in both engines."""
    evdf = _t(spark, sf_dir, "events")
    return timeseries.ohlc_bars(
        evdf, ["event_type"], "ts", "value",
        bucket_seconds=86400, tie_col="event_id",
    )


SQL_OHLC_BARS = """
WITH b AS (
  SELECT event_type, value, epoch_us(ts) AS us, event_id,
         CAST(FLOOR(epoch_us(ts) / 86400000000) * 86400 AS BIGINT) AS bk
  FROM events
),
r AS (
  SELECT event_type, bk, value, us, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type, bk
                            ORDER BY us ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, bk
                            ORDER BY us DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT event_type,
       CAST(to_timestamp(bk) AS TIMESTAMP) AS bucket_start,
       ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
       ROUND(MAX(value), 6) AS high,
       ROUND(MIN(value), 6) AS low,
       ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM r
GROUP BY event_type, bk
"""


def q_vocabulary_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary drift (textstats.vocabulary_drift): log2
    Jensen-Shannon divergence of each source's unigram distribution vs
    the whole corpus — the corpus-mix monitor. Token counts exact; each
    token's contribution one fixed double expression, 12dp-rounded and
    decimal-summed per source."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.vocabulary_drift(docs, "source")


SQL_VOCABULARY_DRIFT = r"""
WITH tok AS (
  SELECT source AS g, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents
),
gt AS (SELECT g, t, COUNT(*) AS c FROM tok GROUP BY g, t),
g_tot AS (SELECT g, SUM(c) AS gn, COUNT(*) AS vocab_g FROM gt GROUP BY g),
t_tot AS (SELECT t, SUM(c) AS tc FROM gt GROUP BY t),
n_all AS (SELECT SUM(c) AS nc FROM gt),
frame AS (
  SELECT g_tot.g, g_tot.gn, g_tot.vocab_g, t_tot.t, t_tot.tc,
         COALESCE(gt.c, 0) AS c, n_all.nc
  FROM g_tot CROSS JOIN t_tot
  LEFT JOIN gt ON gt.g = g_tot.g AND gt.t = t_tot.t
  CROSS JOIN n_all
),
terms AS (
  SELECT g, gn, vocab_g,
    CAST(ROUND((
      CASE WHEN c > 0
        THEN (CAST(c AS DOUBLE) / CAST(gn AS DOUBLE))
             * (LN((CAST(c AS DOUBLE) / CAST(gn AS DOUBLE))
                    / ((CAST(c AS DOUBLE) / CAST(gn AS DOUBLE)
                        + CAST(tc AS DOUBLE) / CAST(nc AS DOUBLE)) / 2.0))
                / 0.6931471805599453)
        ELSE 0.0 END
      + (CAST(tc AS DOUBLE) / CAST(nc AS DOUBLE))
        * (LN((CAST(tc AS DOUBLE) / CAST(nc AS DOUBLE))
               / ((CAST(c AS DOUBLE) / CAST(gn AS DOUBLE)
                   + CAST(tc AS DOUBLE) / CAST(nc AS DOUBLE)) / 2.0))
           / 0.6931471805599453)
    ) / 2.0, 12) AS DECIMAL(28,12)) AS j
  FROM frame
)
SELECT g AS source,
       CAST(MAX(gn) AS BIGINT) AS n_tokens,
       CAST(MAX(vocab_g) AS BIGINT) AS vocab,
       ROUND(CAST(SUM(j) AS DOUBLE), 6) AS jsd
FROM terms
GROUP BY g
"""


def q_mmr_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (similarity.mmr_selection,
    λ=0.7 as the rational 7/10): 5 picks balancing query relevance
    against redundancy with already-picked vectors — the RAG
    result-diversification primitive. Exact-decimal dot products and an
    integer-scaled score (7·rel − 3·maxsim) keep every comparison
    float-free, so the oracle unrolls the identical greedy selection."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mmr_selection(emb, query_id=0, k=5)


def _mmr_oracle_sql(k: int, dim: int = 64) -> str:
    dot = (
        "SUM(CAST(e.v[d.i] AS DECIMAL(18,12))"
        " * CAST(s.v[d.i] AS DECIMAL(18,12)))"
    )
    parts = [f"""
WITH e AS (SELECT vec_id id, embedding v FROM embeddings
           WHERE embedding IS NOT NULL),
dims AS (SELECT unnest(generate_series(1, {dim})) i),
rel AS (
  SELECT e.id, CAST({dot} AS DECIMAL(26,24)) rel
  FROM e CROSS JOIN dims d
  JOIN e s ON s.id = 0
  WHERE e.id <> 0
  GROUP BY e.id),
s0 AS (SELECT 0 r, id, rel FROM rel ORDER BY rel DESC, id ASC LIMIT 1),
m0 AS (
  SELECT e.id, CAST({dot} AS DECIMAL(26,24)) ms
  FROM e CROSS JOIN dims d
  JOIN e s ON s.id = (SELECT id FROM s0)
  WHERE e.id <> 0
  GROUP BY e.id)"""]
    for r in range(1, k):
        prev_sel = " UNION ALL ".join(f"SELECT id FROM s{i}" for i in range(r))
        parts.append(f""",
s{r} AS (
  SELECT {r} r, rel.id, rel.rel FROM rel JOIN m{r - 1} USING (id)
  WHERE id NOT IN ({prev_sel})
  ORDER BY 7 * rel.rel - 3 * m{r - 1}.ms DESC, id ASC LIMIT 1)""")
        if r < k - 1:
            parts.append(f""",
m{r} AS (
  SELECT m{r - 1}.id, GREATEST(m{r - 1}.ms,
    (SELECT CAST(SUM(CAST(e.v[d.i] AS DECIMAL(18,12))
                 * CAST(s.v[d.i] AS DECIMAL(18,12))) AS DECIMAL(26,24))
     FROM dims d JOIN e s ON s.id = (SELECT id FROM s{r}))) ms
  FROM e JOIN m{r - 1} USING (id))""")
    union = " UNION ALL ".join(
        f"SELECT CAST(r AS INT) rank, CAST(id AS BIGINT) id,"
        f" CAST(ROUND(rel, 6) AS DOUBLE) rel FROM s{i}"
        for i in range(k)
    )
    parts.append("\n" + union)
    return "".join(parts)


SQL_MMR_SELECTION = _mmr_oracle_sql(5)


def q_mmr_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-diversify MMR (similarity.mmr_selection with
    candidate_top_m): ONE corpus-wide exact-decimal relevance pass keeps
    the 20 most query-relevant vectors, then the λ=0.7 greedy selection
    runs entirely over that pinned 20-row pool — the 100 TB shape for
    greedy selection (per-round cost is pool-sized, flat in corpus
    size). Oracle replays the pool cut and the unrolled selection."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mmr_selection(
        emb, query_id=0, k=5, candidate_top_m=20
    )


def _mmr_pooled_oracle_sql(k: int, m: int, dim: int = 64) -> str:
    dot = (
        "SUM(CAST(e.v[d.i] AS DECIMAL(18,12))"
        " * CAST(s.v[d.i] AS DECIMAL(18,12)))"
    )
    parts = [f"""
WITH e AS (SELECT vec_id id, embedding v FROM embeddings
           WHERE embedding IS NOT NULL),
dims AS (SELECT unnest(generate_series(1, {dim})) i),
rel_all AS (
  SELECT e.id, CAST({dot} AS DECIMAL(26,24)) rel
  FROM e CROSS JOIN dims d
  JOIN e s ON s.id = 0
  WHERE e.id <> 0
  GROUP BY e.id),
rel AS (SELECT * FROM rel_all ORDER BY rel DESC, id ASC LIMIT {m}),
s0 AS (SELECT 0 r, id, rel FROM rel ORDER BY rel DESC, id ASC LIMIT 1),
m0 AS (
  SELECT e.id, CAST({dot} AS DECIMAL(26,24)) ms
  FROM e CROSS JOIN dims d
  JOIN e s ON s.id = (SELECT id FROM s0)
  WHERE e.id IN (SELECT id FROM rel)
  GROUP BY e.id)"""]
    for r in range(1, k):
        prev_sel = " UNION ALL ".join(f"SELECT id FROM s{i}" for i in range(r))
        parts.append(f""",
s{r} AS (
  SELECT {r} r, rel.id, rel.rel FROM rel JOIN m{r - 1} USING (id)
  WHERE id NOT IN ({prev_sel})
  ORDER BY 7 * rel.rel - 3 * m{r - 1}.ms DESC, id ASC LIMIT 1)""")
        if r < k - 1:
            parts.append(f""",
m{r} AS (
  SELECT m{r - 1}.id, GREATEST(m{r - 1}.ms,
    (SELECT CAST(SUM(CAST(e.v[d.i] AS DECIMAL(18,12))
                 * CAST(s.v[d.i] AS DECIMAL(18,12))) AS DECIMAL(26,24))
     FROM dims d JOIN e s ON s.id = (SELECT id FROM s{r}))) ms
  FROM e JOIN m{r - 1} USING (id))""")
    union = " UNION ALL ".join(
        f"SELECT CAST(r AS INT) rank, CAST(id AS BIGINT) id,"
        f" CAST(ROUND(rel, 6) AS DOUBLE) rel FROM s{i}"
        for i in range(k)
    )
    parts.append("\n" + union)
    return "".join(parts)


SQL_MMR_POOLED = _mmr_pooled_oracle_sql(5, 20)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution
    (timeseries.attribution_touchpoints): every purchase is attributed to
    the earliest and the latest click/view of the same user within a
    7-day lookback — two as-of one-window passes (backward for last,
    forward anchored at conv−7d for first), never a conversions × touches
    range join. Grouped into the (first_touch, last_touch) transition
    counts; timestamp ties break on greatest touch event_id in both
    directions, replicated by the oracle."""
    evdf = _t(spark, sf_dir, "events")
    conv = evdf.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = evdf.where(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts",
        F.col("event_type").alias("touch_type"),
        F.col("event_id").alias("touch_id"),
    )
    out = timeseries.attribution_touchpoints(
        conv, touches, "user_id", touch_cols=["touch_type"],
        window="7 days", touch_tie_break="touch_id",
    )
    return out.groupBy(
        F.coalesce("touch_type_first", F.lit("none")).alias("first_touch"),
        F.coalesce("touch_type_last", F.lit("none")).alias("last_touch"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))


SQL_ATTRIBUTION = """
WITH conv AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'),
t AS (SELECT user_id, ts, event_type AS touch_type, event_id AS touch_id
      FROM events WHERE event_type IN ('click', 'view')),
lastt AS (
  SELECT c.event_id, t.touch_type,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts DESC, t.touch_id DESC) rk
  FROM conv c JOIN t ON t.user_id = c.user_id
   AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
),
firstt AS (
  SELECT c.event_id, t.touch_type,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts ASC, t.touch_id DESC) rk
  FROM conv c JOIN t ON t.user_id = c.user_id
   AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
)
SELECT COALESCE(f.touch_type, 'none') AS first_touch,
       COALESCE(l.touch_type, 'none') AS last_touch,
       CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM conv c
LEFT JOIN (SELECT * FROM firstt WHERE rk = 1) f ON f.event_id = c.event_id
LEFT JOIN (SELECT * FROM lastt WHERE rk = 1) l ON l.event_id = c.event_id
GROUP BY 1, 2
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty vs everything earlier in id order
    (textstats.ngram_novelty): fraction of the doc's distinct word
    3-grams whose FIRST corpus occurrence is this doc — the
    memorization/staleness monitor. First occurrence is one MIN
    aggregate over the exploded gram relation, not a sequential scan."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.ngram_novelty(docs, "doc_id", n=3)


SQL_NGRAM_NOVELTY = r"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents)
),
f AS (SELECT g, MIN(doc_id) fid FROM g GROUP BY g)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.fid = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.fid = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS novelty
FROM g JOIN f USING (g)
GROUP BY g.doc_id
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (textstats.vocab_growth): per
    100-doc bucket in id order, the count of token types first seen in
    the bucket, the running cumulative vocabulary, and token volume —
    the corpus-growth diminishing-returns diagnostic."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.vocab_growth(docs, "doc_id", bucket_size=100)


SQL_VOCAB_GROWTH = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents
),
vol AS (
  SELECT CAST(FLOOR(doc_id / 100) AS BIGINT) b,
         CAST(COUNT(*) AS BIGINT) n_tokens
  FROM tok GROUP BY 1
),
first AS (SELECT t, MIN(doc_id) fid FROM tok GROUP BY t),
news AS (
  SELECT CAST(FLOOR(fid / 100) AS BIGINT) b,
         CAST(COUNT(*) AS BIGINT) new_types
  FROM first GROUP BY 1
)
SELECT vol.b AS bucket, vol.n_tokens,
       CAST(COALESCE(news.new_types, 0) AS BIGINT) AS new_types,
       CAST(SUM(COALESCE(news.new_types, 0))
            OVER (ORDER BY vol.b ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_vocab
FROM vol LEFT JOIN news ON news.b = vol.b
"""


def q_bootstrap_ab_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for the A/B difference of mean extended
    prices between returnflag 'A' and 'R' lineitems of a 1-in-10-order
    slice (ml.bootstrap_ab_diff_ci, 32 replicas) — both groups resampled
    independently per replica with the round-7 amortized md5 slicing;
    CI bounds are order statistics of the replica mean differences."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    rows = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_extendedprice",
        "l_returnflag",
    )
    return ml.bootstrap_ab_diff_ci(
        rows, "l_extendedprice", "l_returnflag", "rid", "A", "R",
        n_replicas=32, alpha=0.05,
    )


def _bootstrap_ab_oracle_sql() -> str:
    from ..operators.ml import POISSON1_CUM

    case = "CASE " + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CUM)
    ) + f" ELSE {len(POISSON1_CUM)} END"
    return f"""
WITH v AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid,
         CAST(l_extendedprice AS DECIMAL(28,6)) AS x,
         CASE WHEN l_returnflag = 'A' THEN 'a' ELSE 'b' END AS grp
  FROM lineitem
  WHERE l_orderkey % 10 = 0 AND l_extendedprice IS NOT NULL
    AND l_returnflag IN ('A', 'R')
),
dg AS (
  SELECT v.rid, v.x, v.grp, t.g,
         md5('bootab' || CAST(t.g AS VARCHAR) || '_'
             || CAST(v.rid AS VARCHAR)) AS d
  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS g) t
),
r AS (
  SELECT dg.g * 4 + jt.j AS b, dg.rid, dg.x, dg.grp,
         CAST(('0x' || substring(dg.d, 1 + jt.j * 8, 8))::BIGINT AS DOUBLE)
           / 4294967296.0 AS u
  FROM dg CROSS JOIN (SELECT unnest(range(0, 4)) AS j) jt
),
reps AS (
  SELECT b, grp, SUM(CAST(m AS DECIMAL(10,0)) * x) AS s, SUM(m) AS n
  FROM (SELECT b, grp, x, {case} AS m FROM r)
  GROUP BY b, grp HAVING SUM(m) > 0
),
diffs AS (
  SELECT b,
         MAX(CASE WHEN grp = 'a' THEN CAST(s AS DOUBLE) / n END)
       - MAX(CASE WHEN grp = 'b' THEN CAST(s AS DOUBLE) / n END) AS diff
  FROM reps GROUP BY b
  HAVING MAX(CASE WHEN grp = 'a' THEN 1 END) = 1
     AND MAX(CASE WHEN grp = 'b' THEN 1 END) = 1
),
ranked AS (
  SELECT diff, row_number() OVER (ORDER BY diff ASC) AS rk FROM diffs
),
bounds AS (
  SELECT MAX(CASE WHEN rk = 1 THEN diff END) AS lo,
         MAX(CASE WHEN rk = 32 THEN diff END) AS hi
  FROM ranked
),
stats AS (
  SELECT CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN grp = 'a' THEN x END) AS sa,
         SUM(CASE WHEN grp = 'b' THEN x END) AS sb
  FROM v
)
SELECT stats.n_a, stats.n_b,
       ROUND(CAST(stats.sa AS DOUBLE) / stats.n_a, 6) AS mean_a,
       ROUND(CAST(stats.sb AS DOUBLE) / stats.n_b, 6) AS mean_b,
       ROUND(CAST(stats.sa AS DOUBLE) / stats.n_a
             - CAST(stats.sb AS DOUBLE) / stats.n_b, 6) AS diff,
       ROUND(bounds.lo, 6) AS ci_lo,
       ROUND(bounds.hi, 6) AS ci_hi,
       CAST(32 AS INT) AS n_replicas
FROM stats CROSS JOIN bounds
"""


SQL_BOOTSTRAP_AB_DIFF = _bootstrap_ab_oracle_sql()


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (ml.kaplan_meier): per user,
    hours from first signup to first subsequent purchase; users who never
    convert are right-CENSORED at the fixed 2024-02-01 horizon — exactly
    the bias a mean-of-converted-only hides. One distinct-time aggregate
    + a tiny ordered window; 12dp-rounded log factors decimal-summed so
    the survival product is engine-exact."""
    evdf = _t(spark, sf_dir, "events")
    su = (
        evdf.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    pu = evdf.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    firstp = (
        su.join(pu, "user_id")
        .where(F.col("p_ts") >= F.col("s_ts"))
        .groupBy("user_id", "s_ts")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    horizon = F.lit("2024-02-01 00:00:00").cast("timestamp")
    obs = (
        su.join(firstp.select("user_id", "p_ts"), "user_id", "left")
        .withColumn(
            "event",
            (F.col("p_ts").isNotNull() & (F.col("p_ts") <= horizon)).cast("int"),
        )
        .withColumn(
            "dur_h",
            F.floor(
                (
                    F.unix_micros(
                        F.when(F.col("event") == 1, F.col("p_ts"))
                        .otherwise(horizon)
                        .cast("timestamp")
                    )
                    - F.unix_micros(F.col("s_ts").cast("timestamp"))
                )
                / F.lit(3_600_000_000)
            ).cast("double"),
        )
    )
    return ml.kaplan_meier(obs, "dur_h", "event")


SQL_KAPLAN_MEIER = """
WITH su AS (
  SELECT user_id, MIN(ts) s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
fp AS (
  SELECT su.user_id, MIN(e.ts) p_ts
  FROM su JOIN events e ON e.user_id = su.user_id
   AND e.event_type = 'purchase' AND e.ts >= su.s_ts
  GROUP BY su.user_id
),
obs AS (
  SELECT su.user_id,
    CASE WHEN fp.p_ts IS NOT NULL
          AND fp.p_ts <= TIMESTAMP '2024-02-01 00:00:00'
         THEN 1 ELSE 0 END AS e,
    CAST(FLOOR((epoch_us(CASE WHEN fp.p_ts IS NOT NULL
                   AND fp.p_ts <= TIMESTAMP '2024-02-01 00:00:00'
                  THEN fp.p_ts
                  ELSE TIMESTAMP '2024-02-01 00:00:00' END)
         - epoch_us(su.s_ts)) / 3600000000) AS DOUBLE) AS t
  FROM su LEFT JOIN fp ON fp.user_id = su.user_id
),
per_t AS (
  SELECT t, CAST(SUM(e) AS BIGINT) d, CAST(SUM(1 - e) AS BIGINT) c
  FROM obs GROUP BY t
),
risk AS (
  SELECT t, d, c,
    (SELECT COUNT(*) FROM obs) - COALESCE(SUM(d + c) OVER (
      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM per_t
),
ev AS (
  SELECT t, n, d, c,
    CASE WHEN d < n
         THEN CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                   AS DECIMAL(28,12))
         ELSE CAST(0 AS DECIMAL(28,12)) END AS lnf,
    CASE WHEN d >= n THEN 1 ELSE 0 END AS zf
  FROM risk WHERE d > 0
)
SELECT t, CAST(n AS BIGINT) n_risk, d AS n_events, c AS n_censored,
  CASE WHEN MAX(zf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0
       ELSE ROUND(EXP(CAST(SUM(lnf) OVER (
              ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) END
    AS survival
FROM ev
"""


def q_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (ml.two_proportion_ztest): signup→purchase
    conversion rates of the even vs odd user-id cohorts, pooled-SE z and
    the two-sided 5% decision — the classical A/B significance read next
    to bootstrap_ab_diff's distribution-free CI."""
    evdf = _t(spark, sf_dir, "events")
    users = evdf.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    )
    cohorts = users.withColumn(
        "cohort", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    )
    return ml.two_proportion_ztest(cohorts, "cohort", "converted", "even", "odd")


SQL_TWO_PROPORTION_ZTEST = """
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) conv,
         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END cohort
  FROM events GROUP BY user_id
),
agg AS (
  SELECT CAST(SUM(CASE WHEN cohort = 'even' THEN 1 ELSE 0 END) AS BIGINT) n_a,
         CAST(SUM(CASE WHEN cohort = 'odd' THEN 1 ELSE 0 END) AS BIGINT) n_b,
         SUM(CASE WHEN cohort = 'even' THEN conv ELSE 0 END) sa,
         SUM(CASE WHEN cohort = 'odd' THEN conv ELSE 0 END) sb
  FROM u
),
f AS (
  SELECT n_a, n_b,
    CAST(sa AS DOUBLE) / n_a pa, CAST(sb AS DOUBLE) / n_b pb,
    CAST(sa + sb AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) pool
  FROM agg
)
SELECT n_a, n_b, ROUND(pa, 6) rate_a, ROUND(pb, 6) rate_b,
  ROUND(CASE WHEN SQRT(pool * (1.0 - pool)
             * (1.0 / n_a + 1.0 / n_b)) > 0.0
        THEN (pa - pb) / SQRT(pool * (1.0 - pool)
             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END, 6) z,
  ABS(CASE WHEN SQRT(pool * (1.0 - pool)
           * (1.0 / n_a + 1.0 / n_b)) > 0.0
      THEN (pa - pb) / SQRT(pool * (1.0 - pool)
           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END)
    > 1.96 AS significant
FROM f
"""


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER SIZE distribution: the dedup_clusters
    closure rolled up to (cluster_size → n_clusters, n_docs) — the
    dedup-health dashboard row (a fat head of large clusters means the
    crawl is re-collecting a template). Clusters are size ≥ 2 by
    construction (singletons never enter the pair relation)."""
    docs = dedup.ensure_parallelism(_t(spark, sf_dir, "documents"))
    sh = (
        dedup.minhash_signatures(
            dedup.shingle_hashes(docs, "text", n=3), num_hashes=64
        )
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5)
    clusters = dedup.duplicate_clusters(pairs)
    return (
        clusters.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
        )
    )


SQL_DUP_CLUSTER_SIZES = SQL_DEDUP_CLUSTERS.replace(
    """SELECT node, CAST(MIN(peer) AS BIGINT) AS cluster
FROM reach GROUP BY node""",
    """, cl AS (SELECT node, MIN(peer) AS cluster FROM reach GROUP BY node),
szs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM cl GROUP BY cluster)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM szs GROUP BY cluster_size""",
)
assert ", cl AS" in SQL_DUP_CLUSTER_SIZES  # replace() must not rot


def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outliers (ml.mahalanobis_outliers): top-20 lineitems
    of a 1-in-20-order slice by squared Mahalanobis distance over
    (quantity, extendedprice, discount) — correlation-aware joint
    outliers a per-column z-score misses. Exact decimal moments, the
    CLOSED-FORM 3×3 adjugate inverse in fixed double order, 1-row stats
    broadcast; the oracle replays every term."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 20 == 0)
    rows = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_quantity", "l_extendedprice", "l_discount",
    )
    return ml.mahalanobis_outliers(
        rows, ["l_quantity", "l_extendedprice", "l_discount"], "rid", top=20
    )


SQL_MAHALANOBIS_OUTLIERS = """
WITH v AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid,
         CAST(l_quantity AS DOUBLE) x1,
         CAST(l_extendedprice AS DOUBLE) x2,
         CAST(l_discount AS DOUBLE) x3
  FROM lineitem
  WHERE l_orderkey % 20 = 0 AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) n,
    CAST(SUM(CAST(x1 AS DECIMAL(18,6))) AS DOUBLE) s1,
    CAST(SUM(CAST(x2 AS DECIMAL(18,6))) AS DOUBLE) s2,
    CAST(SUM(CAST(x3 AS DECIMAL(18,6))) AS DOUBLE) s3,
    CAST(SUM(CAST(CAST(x1 AS DECIMAL(18,6)) AS DECIMAL(28,6)) * CAST(CAST(x1 AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE) s11,
    CAST(SUM(CAST(CAST(x2 AS DECIMAL(18,6)) AS DECIMAL(28,6)) * CAST(CAST(x2 AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE) s22,
    CAST(SUM(CAST(CAST(x3 AS DECIMAL(18,6)) AS DECIMAL(28,6)) * CAST(CAST(x3 AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE) s33,
    CAST(SUM(CAST(CAST(x1 AS DECIMAL(18,6)) AS DECIMAL(28,6)) * CAST(CAST(x2 AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE) s12,
    CAST(SUM(CAST(CAST(x1 AS DECIMAL(18,6)) AS DECIMAL(28,6)) * CAST(CAST(x3 AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE) s13,
    CAST(SUM(CAST(CAST(x2 AS DECIMAL(18,6)) AS DECIMAL(28,6)) * CAST(CAST(x3 AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE) s23
  FROM v
),
c AS (
  SELECT s1/n m1, s2/n m2, s3/n m3,
    s11/n - (s1/n)*(s1/n) a,  s12/n - (s1/n)*(s2/n) b,
    s13/n - (s1/n)*(s3/n) cc, s22/n - (s2/n)*(s2/n) d,
    s23/n - (s2/n)*(s3/n) e,  s33/n - (s3/n)*(s3/n) f
  FROM m
),
inv AS (
  SELECT m1, m2, m3,
    (d*f - e*e) / (a*(d*f - e*e) - b*(b*f - e*cc) + cc*(b*e - d*cc)) i11,
    -(b*f - e*cc) / (a*(d*f - e*e) - b*(b*f - e*cc) + cc*(b*e - d*cc)) i12,
    (b*e - d*cc) / (a*(d*f - e*e) - b*(b*f - e*cc) + cc*(b*e - d*cc)) i13,
    (a*f - cc*cc) / (a*(d*f - e*e) - b*(b*f - e*cc) + cc*(b*e - d*cc)) i22,
    -(a*e - b*cc) / (a*(d*f - e*e) - b*(b*f - e*cc) + cc*(b*e - d*cc)) i23,
    (a*d - b*b) / (a*(d*f - e*e) - b*(b*f - e*cc) + cc*(b*e - d*cc)) i33
  FROM c
)
SELECT rid,
  ROUND((v.x1 - m1) * ((v.x1 - m1)*i11 + (v.x2 - m2)*i12 + (v.x3 - m3)*i13)
      + (v.x2 - m2) * ((v.x1 - m1)*i12 + (v.x2 - m2)*i22 + (v.x3 - m3)*i23)
      + (v.x3 - m3) * ((v.x1 - m1)*i13 + (v.x2 - m2)*i23 + (v.x3 - m3)*i33),
      6) AS d2
FROM v CROSS JOIN inv
ORDER BY d2 DESC, rid ASC LIMIT 20
"""


def q_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap + max-duration sessionization (timeseries.sessionize_capped,
    30 min idle / 2 h cap): the production variant whose max-duration
    cut is inherently sequential per key — one Arrow applyInPandas group
    per user, per-user history bounded. Oracle replays the identical
    sequential walk as a per-user recursive CTE. One row per session."""
    evdf = _t(spark, sf_dir, "events")
    return timeseries.sessionize_capped(
        evdf, "user_id", "ts", gap_seconds=1800, max_seconds=7200,
        tie_col="event_id",
    )


SQL_SESSIONIZE_CAPPED = """
WITH RECURSIVE o AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
walk AS (
  SELECT user_id, rn, us, CAST(1 AS BIGINT) AS sid, us AS anchor
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.us,
    CASE WHEN o.us - w.us > 1800000000 OR o.us - w.anchor > 7200000000
         THEN w.sid + 1 ELSE w.sid END,
    CASE WHEN o.us - w.us > 1800000000 OR o.us - w.anchor > 7200000000
         THEN o.us ELSE w.anchor END
  FROM walk w JOIN o ON o.user_id = w.user_id AND o.rn = w.rn + 1
)
SELECT user_id, sid AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       make_timestamp(MIN(us)) AS session_start,
       make_timestamp(MAX(us)) AS session_end
FROM walk
GROUP BY user_id, sid
"""


def q_keyword_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist keyword screening (textstats.keyword_hits): per source,
    documents flagged and total word-boundary hits for a 3-term list —
    the policy-filter stage, pure JVM regexp counting (no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    hits = textstats.keyword_hits(docs, ["fast", "slow", "merge"], "doc_id")
    return (
        docs.select("doc_id", "source")
        .join(hits, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("flagged").cast("int")).cast("long").alias("n_flagged"),
            F.sum("n_hits").cast("long").alias("total_hits"),
        )
    )


SQL_KEYWORD_SCREENING = r"""
WITH h AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(text), '\bfast\b'))
            + len(regexp_extract_all(lower(text), '\bslow\b'))
            + len(regexp_extract_all(lower(text), '\bmerge\b')) AS BIGINT)
           AS n_hits
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits
FROM h GROUP BY source
"""


def q_add_index_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids without a single-partition sort: range
    partition on the key, per-partition row_number + broadcast offsets
    (transform.add_index_col_distributed). o_orderkey is unique, so the
    assignment is total-order deterministic and oracle-checkable."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return transform.add_index_col_distributed(
        orders, "idx", order_by="o_orderkey", num_partitions=8
    )


SQL_ADD_INDEX_DISTRIBUTED = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS idx,
       o_orderkey, o_totalprice
FROM orders
"""


def q_add_index_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids where the bucket id is a pure function of the
    key (driver-computed approxQuantile bounds) — no checkpoint, no pinned
    partitioning (transform.add_index_col_quantile, NEXT.md #12). Unique
    key ⇒ total-order deterministic and oracle-checkable."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return transform.add_index_col_quantile(
        orders, "o_orderkey", col_name="idx", num_partitions=8
    )


SQL_ADD_INDEX_QUANTILE = SQL_ADD_INDEX_DISTRIBUTED


# --------------------------------------------------------------------------
# training-pipeline: sequence packing (fixed token-budget training batches)
# --------------------------------------------------------------------------

def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: per source shard, documents in
    doc_id order are cut into 512-token packs at exact cumulative
    boundaries; output the per-pack roll-up (docs, tokens, fill ratio).
    One shuffle on the shard key; pack ids are shard-local so no global
    sequence exists to bottleneck at 100 TB."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    counted = packing.with_token_count(docs)
    packed = packing.chunk_pack(counted, budget=512)
    return packing.pack_summary(packed, budget=512)


SQL_SEQUENCE_PACKING = """
WITH counted AS (
  SELECT doc_id, source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')), 0)
           AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
           AS BIGINT) AS pack_id
  FROM counted
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(n_tokens) / 512.0, 4) AS fill_ratio
FROM packed
GROUP BY source, pack_id
"""


def q_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document first-fit packing (documents never split): the
    running-reset scan runs per shard via applyInPandas; roll-up per pack.
    Non-window-expressible, but oracle-verified via a recursive CTE that
    walks each shard in doc_id order replicating the running reset."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    counted = packing.with_token_count(docs)
    packed = packing.greedy_pack(counted, budget=256)
    return packing.pack_summary(packed, budget=256)


SQL_GREEDY_PACKING = r"""
WITH RECURSIVE counted AS (
  SELECT doc_id, source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS INT) AS n_tokens
  FROM documents
),
ordered AS (
  SELECT source, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM counted
),
walk AS (
  SELECT source, rn, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.n_tokens,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 256
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 256
              THEN o.n_tokens ELSE w.used + o.n_tokens END
  FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(n_tokens) / 256, 4) AS fill_ratio
FROM walk GROUP BY source, pack_id
"""


def q_chat_template_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template-aware packing (packing.format_aware_pack, VERDICT
    r8 item #8): every document is charged the chat format's 8 sentinel
    tokens and each sequence reserves 2 (BOS + system stub), so packs
    fit a 512 context AFTER serialization - the overflow a naive packer
    silently ships. Whole-document first-fit (turns are atomic);
    per-(source, pack) rollup reports the SERIALIZED size. Oracle walks
    the identical running reset over wrapped costs via a recursive
    CTE."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    counted = packing.with_token_count(docs)
    packed = packing.format_aware_pack(counted, budget=512, template="chat")
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_fmt").alias("sum_tokens_fmt"),
            (F.sum("n_tokens_fmt") + F.lit(2)).alias("seq_tokens"),
            F.round(
                (F.sum("n_tokens_fmt") + F.lit(2)) / F.lit(512), 4
            ).alias("fill_ratio"),
        )
    )


SQL_CHAT_TEMPLATE_PACKING = r"""
WITH RECURSIVE counted AS (
  SELECT doc_id, source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS INT) + 8 AS n_fmt
  FROM documents
),
ordered AS (
  SELECT source, doc_id, n_fmt,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM counted
),
walk AS (
  SELECT source, rn, n_fmt,
         CAST(0 AS BIGINT) AS pack_id, n_fmt AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.n_fmt,
         CASE WHEN w.used > 0 AND w.used + o.n_fmt > 510
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.used > 0 AND w.used + o.n_fmt > 510
              THEN o.n_fmt ELSE w.used + o.n_fmt END
  FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_fmt) AS BIGINT) AS sum_tokens_fmt,
       CAST(SUM(n_fmt) + 2 AS BIGINT) AS seq_tokens,
       ROUND((SUM(n_fmt) + 2) / 512, 4) AS fill_ratio
FROM walk GROUP BY source, pack_id
"""


# --------------------------------------------------------------------------
# remaining TPC-H subquery topologies (Q2/Q9/Q11/Q16/Q20 shapes, adapted to
# the fixtures' star — no partsupp table, so unit supply cost derives from
# lineitem as min(extendedprice/quantity) per (part, supplier))
# --------------------------------------------------------------------------

_SQL_MIN_COST_SUPPLIER_BODY = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM {lineitem} GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       ROUND(ps_supplycost, 2) AS supplycost
FROM {part}
JOIN supply        ON p_partkey = ps_partkey
JOIN {supplier} s1 ON s1.s_suppkey = ps_suppkey
JOIN {nation} n1   ON n1.n_nationkey = s1.s_nationkey
JOIN {region} r1   ON r1.r_regionkey = n1.n_regionkey
WHERE p_type = 'LARGE' AND p_size <= 15 AND r1.r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(s2.ps_supplycost)
    FROM supply s2
    JOIN {supplier} sp2 ON sp2.s_suppkey = s2.ps_suppkey
    JOIN {nation} n2    ON n2.n_nationkey = sp2.s_nationkey
    JOIN {region} r2    ON r2.r_regionkey = n2.n_regionkey
    WHERE s2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest EUROPE supplier per qualifying part via a
    correlated scalar MIN-subquery over the derived supply table. Catalyst
    decorrelates the subquery into an aggregate + join on ps_partkey; the
    supply CTE aggregates lineitem once per side, and the 5-row region /
    25-row nation / 100-row supplier dims all broadcast. At 100 TB the only
    heavy ops are the two lineitem→supply aggregations (map-side partials on
    (partkey, suppkey)); everything after runs on dim-sized data."""
    dfs = [_t(spark, sf_dir, n) for n in ("lineitem", "part", "supplier", "nation", "region")]
    names = ["q2_lineitem", "q2_part", "q2_supplier", "q2_nation", "q2_region"]
    return sql_over(
        spark,
        dfs,
        names,
        _SQL_MIN_COST_SUPPLIER_BODY.format(
            lineitem="q2_lineitem", part="q2_part", supplier="q2_supplier",
            nation="q2_nation", region="q2_region",
        ),
    )


SQL_MIN_COST_SUPPLIER = _SQL_MIN_COST_SUPPLIER_BODY.format(
    lineitem="lineitem", part="part", supplier="supplier",
    nation="nation", region="region",
)


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation per-year profit on one product family
    (cost proxied as 60% of retail price — fixtures carry no ps_supplycost).
    Five-way join where the p_name LIKE filter prunes part BEFORE the join
    (≈13% of parts), shrinking the lineitem↔part hash join's build side;
    supplier/nation broadcast; the final groupBy runs on (nation, year) —
    dozens of groups — after map-side partial aggregation. Decimal-cast
    per-term so the multi-row double sum is rounding-stable."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("profit"))
    )


SQL_PRODUCT_PROFIT = """
SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                           - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
"""

_SQL_IMPORTANT_PART_VALUE_BODY = """
WITH val AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS part_value
  FROM {lineitem}
  JOIN {supplier} ON l_suppkey = s_suppkey
  JOIN {nation}   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT partkey, CAST(part_value AS DOUBLE) AS part_value
FROM val
WHERE part_value > (
  SELECT SUM(part_value) * CAST(0.001 AS DECIMAL(10,6)) FROM val
)
"""


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose one-nation line value exceeds a fraction
    of the nation's total — a scalar subquery aggregating the SAME CTE the
    outer query filters. Spark plans val once per consumer (two lineitem
    aggregations); the subquery side reduces to ONE row broadcast into the
    filter. All arithmetic stays in exact decimal on both engines so the
    threshold comparison has no float boundary."""
    dfs = [_t(spark, sf_dir, n) for n in ("lineitem", "supplier", "nation")]
    names = ["q11_lineitem", "q11_supplier", "q11_nation"]
    return sql_over(
        spark,
        dfs,
        names,
        _SQL_IMPORTANT_PART_VALUE_BODY.format(
            lineitem="q11_lineitem", supplier="q11_supplier", nation="q11_nation"
        ),
    )


SQL_IMPORTANT_PART_VALUE = _SQL_IMPORTANT_PART_VALUE_BODY.format(
    lineitem="lineitem", supplier="supplier", nation="nation"
)


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    excluding blacklisted suppliers via NOT IN. Catalyst turns the NOT IN
    into a null-aware anti join against the 100-row supplier subquery
    (broadcast); COUNT(DISTINCT l_suppkey) expands to a two-phase
    distinct-then-count aggregate keyed on the group columns — no global
    shuffle of raw lineitem beyond the (brand,type,size,suppkey) partials."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    bad = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(
            (F.col("p_brand") != "Brand#45")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_SUPPLIER_PART_COUNTS = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

_SQL_PROMOTION_SUPPLIERS_BODY = """
SELECT s_name, s_acctbal
FROM {supplier}
JOIN {nation} ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_9'
  AND s_suppkey IN (
    SELECT l1.l_suppkey
    FROM {lineitem} l1
    WHERE l1.l_partkey IN (
        SELECT p_partkey FROM {part} WHERE p_name LIKE 'small%'
      )
      AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l1.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l1.l_suppkey, l1.l_partkey
    HAVING SUM(l1.l_quantity) > 0.5 * (
      SELECT SUM(l2.l_quantity) FROM {lineitem} l2
      WHERE l2.l_partkey = l1.l_partkey
        AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l2.l_shipdate <  TIMESTAMP '1997-01-01'
    )
  )
"""


def q_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who dominated (>50% of shipped quantity)
    some 'small%' part in 1996 — nested IN subqueries with a correlated
    scalar aggregate inside HAVING. Catalyst decorrelates the inner SUM into
    a per-part aggregate joined back on l_partkey; the part-name IN becomes
    a broadcast semi join; the outer supplier IN a semi join on the ~100-row
    qualifying set. Quantities are integral doubles so both engines compare
    exact sums — no float boundary on the 0.5 threshold."""
    dfs = [_t(spark, sf_dir, n) for n in ("lineitem", "part", "supplier", "nation")]
    names = ["q20_lineitem", "q20_part", "q20_supplier", "q20_nation"]
    return sql_over(
        spark,
        dfs,
        names,
        _SQL_PROMOTION_SUPPLIERS_BODY.format(
            lineitem="q20_lineitem", part="q20_part",
            supplier="q20_supplier", nation="q20_nation",
        ),
    )


SQL_PROMOTION_SUPPLIERS = _SQL_PROMOTION_SUPPLIERS_BODY.format(
    lineitem="lineitem", part="part", supplier="supplier", nation="nation"
)


def q_tfidf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical similarity search: TF-IDF postings + inverted-index
    join (term-at-a-time), top-5 per query doc. The scale path for text
    similarity — cost bounded by postings-list sizes, never O(n²) dense."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.tfidf_cosine_topk(docs, [1, 2, 3], k=5)


SQL_TFIDF_RETRIEVAL = """
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), dfreq AS (
  SELECT token, COUNT(*) AS df_t FROM tf GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT doc_id, token,
         ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df_t), 6) AS w
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS norm FROM w GROUP BY doc_id),
q AS (
  SELECT doc_id AS query_id, token, w AS qw FROM w WHERE doc_id IN (1, 2, 3)
),
dots AS (
  SELECT q.query_id, w.doc_id AS match_id, SUM(q.qw * w.w) AS dot
  FROM q JOIN w USING (token)
  WHERE w.doc_id <> q.query_id
  GROUP BY 1, 2
),
scored AS (
  SELECT dots.query_id, dots.match_id,
         ROUND(dot / (qn.norm * dn.norm), 6) AS score
  FROM dots
  JOIN norms qn ON qn.doc_id = dots.query_id
  JOIN norms dn ON dn.doc_id = dots.match_id
  WHERE qn.norm > 0 AND dn.norm > 0
)
SELECT query_id, match_id, score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, match_id ASC
       ) AS BIGINT) AS "rank"
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY query_id ORDER BY score DESC, match_id ASC
) <= 5
"""


def q_regr_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit with the SQL-standard regr_* aggregates:
    extendedprice regressed on quantity per returnflag. Single partial-agg
    shuffle; all moments accumulate map-side."""
    li = _t(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).cast("long").alias("n"),
    )


SQL_REGR_METRICS = """
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_argmax_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregates: the order carrying the
    extreme total price per priority, made deterministic under price ties by
    ordering on struct(price, orderkey) — orderkey is unique, so the struct
    ordering key is total. One partial-agg shuffle, no window, no join."""
    orders = _t(spark, sf_dir, "orders")
    by = F.struct("o_totalprice", "o_orderkey")
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", by).alias("top_order"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
        F.min_by("o_orderkey", by).alias("bottom_order"),
        F.round(F.min("o_totalprice"), 2).alias("bottom_price"),
    )


SQL_ARGMAX_EXTREMES = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
  FROM orders
)
SELECT mx.o_orderpriority,
       mx.o_orderkey AS top_order,
       ROUND(mx.o_totalprice, 2) AS top_price,
       mn.o_orderkey AS bottom_order,
       ROUND(mn.o_totalprice, 2) AS bottom_price
FROM (SELECT * FROM ranked WHERE rmax = 1) mx
JOIN (SELECT * FROM ranked WHERE rmin = 1) mn USING (o_orderpriority)
"""


def q_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample: global 200 docs with the smallest
    md5 hash priority — reproducible across engines/retries, planned as
    TakeOrderedAndProject (per-partition heaps, no full sort)."""
    docs = _t(spark, sf_dir, "documents")
    return transform.sample_fixed_n(docs, "doc_id", 200).select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_SAMPLE_TOPN = """
WITH p AS (
  SELECT doc_id, lang, source, n_chars,
         (CAST(('0x' || substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 1)
         / 4294967296.0 AS pri
  FROM documents
)
SELECT doc_id, lang, source, n_chars
FROM p ORDER BY pri ASC, doc_id ASC LIMIT 200
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional fixed-size sample (Efraimidis–Spirakis keys
    -ln(u)/w on a hash-derived uniform): longer documents proportionally
    more likely, yet fully deterministic."""
    docs = _t(spark, sf_dir, "documents")
    return transform.sample_fixed_n(
        docs, "doc_id", 200, weight_col="n_chars"
    ).select("doc_id", "lang", "n_chars")


SQL_WEIGHTED_SAMPLE = """
WITH p AS (
  SELECT doc_id, lang, n_chars,
         -LN((CAST(('0x' || substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 1)
             / 4294967296.0) / CAST(n_chars AS DOUBLE) AS pri
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars
FROM p ORDER BY pri ASC, doc_id ASC LIMIT 200
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: a 'new batch' (doc_id % 7 == 0) is
    LSH-checked against the remaining corpus — band join new×corpus, exact
    Jaccard verify, never corpus×corpus. Oracle-verified against brute-force
    cross-slice Jaccard: with 32x2 banding, P(missing an s=0.5 pair) is
    ~1e-4 (structural recall, not fixture luck), and the exact-verify step
    makes every surfaced pair correct."""
    docs = dedup.ensure_parallelism(_t(spark, sf_dir, "documents"))
    new_batch = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return dedup.neardup_pairs_against_corpus(
        new_batch, corpus, "doc_id", "text", threshold=0.5, bands=32
    ).select(
        F.col("new_id"), F.col("corpus_id"), "jaccard"
    )



# --------------------------------------------------------------------------
# §2.13 — paragraph dedup, decontamination, repetition quality (round 2)
# --------------------------------------------------------------------------

# Fixture documents are single-paragraph; derive deterministic 3-paragraph
# text shared VERBATIM by the Spark query and the DuckDB oracle. The third
# paragraph repeats the first (within-doc duplicate), and documents sharing
# an 80-char prefix duplicate across documents.
PARA_TEXT_EXPR = (
    "substring(text, 1, 80) || chr(10) || chr(10) || substring(text, 81) "
    "|| chr(10) || chr(10) || substring(text, 1, 80)"
)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-paragraph removal (RefinedWeb/CCNet
    boilerplate pruning, dedup.paragraph_dedup): every paragraph kept only
    at its first (doc_id, position) occurrence, documents reassembled from
    survivors. Oracle replicates the keep-first window + ordered
    string_agg reassembly relationally."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(PARA_TEXT_EXPR).alias("text")
    )
    out = dedup.paragraph_dedup(docs, "doc_id")
    return out.select(
        "doc_id", "text",
        F.col("n_paras_kept").cast("long").alias("n_paras_kept"),
        F.col("n_paras_total").cast("long").alias("n_paras_total"),
    )


SQL_PARAGRAPH_DEDUP = rf"""
WITH d AS (SELECT doc_id, {PARA_TEXT_EXPR} AS ptxt FROM documents),
p0 AS (
  SELECT doc_id, unnest(parts) AS para, unnest(range(len(parts))) AS pos
  FROM (SELECT doc_id, string_split_regex(ptxt, '
\s*
') AS parts FROM d)
),
p AS (SELECT * FROM p0 WHERE trim(para) <> ''),
k AS (
  SELECT *, row_number() OVER (
    PARTITION BY md5(lower(trim(regexp_replace(para, '\s+', ' ', 'g'))))
    ORDER BY doc_id, pos) AS rn
  FROM p
),
r AS (
  SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
         COUNT(*) AS kept
  FROM k WHERE rn = 1 GROUP BY doc_id
),
t AS (SELECT doc_id, COUNT(*) AS total FROM p GROUP BY doc_id)
SELECT d.doc_id, COALESCE(r.text, '') AS text,
       CAST(COALESCE(kept, 0) AS BIGINT) AS n_paras_kept,
       CAST(COALESCE(total, 0) AS BIGINT) AS n_paras_total
FROM d LEFT JOIN r USING (doc_id) LEFT JOIN t USING (doc_id)
"""


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination flags (dedup.contamination_flags): corpus
    docs (doc_id >= 20) sharing any distinct 8-gram with the 'benchmark'
    slice (doc_id < 20). The benchmark n-gram hash set is broadcast; the
    oracle recomputes the overlap with string 8-grams (hash/string distinct
    sets agree — 64-bit collision odds negligible, same argument as the
    near-dup oracles)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    corpus = docs.where(F.col("doc_id") >= 20)
    return dedup.contamination_flags(corpus, bench, "doc_id", n=8).select(
        "doc_id", F.col("n_hits").cast("long").alias("n_hits"), "contaminated"
    )


SQL_DECONTAMINATION = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
             || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))
         AS grams
  FROM tok
),
bg AS (SELECT DISTINCT unnest(grams) AS s FROM g WHERE doc_id < 20),
cg AS (SELECT doc_id, unnest(grams) AS s FROM g WHERE doc_id >= 20),
h AS (
  SELECT cg.doc_id, COUNT(DISTINCT cg.s) AS n_hits
  FROM cg JOIN bg ON cg.s = bg.s GROUP BY cg.doc_id
)
SELECT d.doc_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(n_hits, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
LEFT JOIN h USING (doc_id)
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition + symbol quality signals
    (textstats.with_repetition_stats) over the derived paragraph text —
    duplicate-line fraction, top-2-gram mass, symbol/word ratio, alphabetic
    word fraction; all pure column expressions, oracle-replicated with
    DuckDB list lambdas."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(PARA_TEXT_EXPR).alias("text")
    )
    return textstats.with_repetition_stats(docs).select(
        "doc_id", "dup_line_frac", "top_2gram_frac",
        "symbol_word_ratio", "frac_words_alpha",
    )


SQL_REPETITION_STATS = rf"""
WITH d AS (SELECT doc_id, {PARA_TEXT_EXPR} AS ptxt FROM documents),
b AS (
  SELECT doc_id, ptxt,
    list_filter(list_transform(string_split_regex(ptxt, '
'), s -> trim(s)),
                s -> s <> '') AS lines,
    list_filter(string_split_regex(trim(ptxt), '\s+'), w -> w <> '') AS toks
  FROM d
),
g AS (
  SELECT *,
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END AS grams
  FROM b
)
SELECT doc_id,
  ROUND(CASE WHEN len(lines) > 0
    THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
    ELSE 0.0 END, 4) AS dup_line_frac,
  ROUND(CASE WHEN len(grams) > 0
    THEN CAST(list_max(list_transform(list_distinct(grams),
           x -> len(list_filter(grams, y -> y = x)))) AS DOUBLE) / len(grams)
    ELSE 0.0 END, 4) AS top_2gram_frac,
  ROUND(CASE WHEN len(toks) > 0
    THEN CAST(LENGTH(regexp_replace(ptxt, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
         / len(toks)
    ELSE 0.0 END, 4) AS symbol_word_ratio,
  ROUND(CASE WHEN len(toks) > 0
    THEN CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         / len(toks)
    ELSE 0.0 END, 4) AS frac_words_alpha
FROM g
"""


# Shared payload derivation for the REAL image-header-parsing query: both
# engines derive (w, h, format-case) from c_custkey; Spark BUILDS the
# actual binary header bytes and PARSES them back with
# multimodal.parse_image_header; the oracle outputs the constructed values
# directly (construct → parse → must round-trip).
_IMG_W = "(16 + c_custkey % 1000)"
_IMG_H = "(16 + (c_custkey * 7) % 1000)"
_IMG_CASE = "CAST(c_custkey % 5 AS INT)"

_IMG_PAYLOAD_EXPR = f"""CASE {_IMG_CASE}
  WHEN 0 THEN unhex('89504e470d0a1a0a' || '0000000d' || '49484452'
                    || lpad(hex({_IMG_W}), 8, '0') || lpad(hex({_IMG_H}), 8, '0'))
  WHEN 1 THEN unhex('474946383961'
                    || format_string('%02x%02x', {_IMG_W} % 256, {_IMG_W} div 256)
                    || format_string('%02x%02x', {_IMG_H} % 256, {_IMG_H} div 256))
  WHEN 2 THEN unhex('424d' || repeat('00', 16)
                    || format_string('%02x%02x', {_IMG_W} % 256, {_IMG_W} div 256) || '0000'
                    || format_string('%02x%02x', {_IMG_H} % 256, {_IMG_H} div 256) || '0000')
  WHEN 3 THEN unhex('ffd8' || 'ffe0' || '0004' || '4a46'
                    || 'ffc0' || '0008' || '08'
                    || lpad(hex({_IMG_H}), 4, '0') || lpad(hex({_IMG_W}), 4, '0') || '01')
  ELSE encode('P6' || chr(10) || CAST({_IMG_W} AS STRING) || ' '
              || CAST({_IMG_H} AS STRING) || chr(10) || '255' || chr(10), 'utf-8')
END"""


def q_image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata extraction (multimodal.parse_image_header, no
    codec library): per customer a genuine PNG/GIF/BMP/JPEG/PPM header is
    constructed as binary and parsed back via the mapInPandas decode path.
    Oracle-verified round-trip: DuckDB outputs the constructed dimensions/
    format/byte-size; the parse must reproduce them exactly."""
    from ..operators.multimodal import decode_image_meta

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(_IMG_PAYLOAD_EXPR).alias("payload")
    )
    return decode_image_meta(cust, "payload").select(
        "c_custkey", "width", "height", "format",
        F.col("byte_size").cast("long").alias("byte_size"),
    )


SQL_IMAGE_HEADER_META = f"""
SELECT c_custkey,
       CAST({_IMG_W} AS INT) AS width,
       CAST({_IMG_H} AS INT) AS height,
       CASE {_IMG_CASE} WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'
            WHEN 3 THEN 'jpeg' ELSE 'ppm' END AS format,
       CAST(CASE {_IMG_CASE}
         WHEN 0 THEN 24 WHEN 1 THEN 10 WHEN 2 THEN 26 WHEN 3 THEN 18
         ELSE strlen('P6' || chr(10) || CAST({_IMG_W} AS VARCHAR) || ' '
                     || CAST({_IMG_H} AS VARCHAR) || chr(10) || '255' || chr(10))
       END AS BIGINT) AS byte_size
FROM customer
"""


# Solid-color PPM payloads for the REAL pixel-decode query: every 4th
# customer instead gets a JPEG header (compressed → decoded=false, null
# stats). Channel values derive from c_custkey; a solid image's channel
# means ARE those values, so the oracle computes them directly.
_PX_W = "(4 + c_custkey % 8)"
_PX_H = "(3 + c_custkey % 5)"
_PX_R = "CAST(c_custkey % 256 AS INT)"
_PX_G = "CAST((c_custkey * 3) % 256 AS INT)"
_PX_B = "CAST((c_custkey * 7) % 256 AS INT)"

_PX_PAYLOAD_EXPR = f"""CASE WHEN c_custkey % 4 = 0
  THEN unhex('ffd8ffc0000808' || lpad(hex({_PX_H}), 4, '0')
             || lpad(hex({_PX_W}), 4, '0') || '01')
  ELSE unhex(hex(encode('P6' || chr(10) || CAST({_PX_W} AS STRING) || ' '
                        || CAST({_PX_H} AS STRING) || chr(10) || '255'
                        || chr(10), 'utf-8'))
             || repeat(format_string('%02x%02x%02x', {_PX_R}, {_PX_G}, {_PX_B}),
                       {_PX_W} * {_PX_H}))
END"""


def q_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode (multimodal.pixel_stats — numpy over mapInPandas,
    no codec lib): solid-color PPM images constructed per customer are
    decoded to channel means + Rec.601 luma; compressed (JPEG) payloads
    come back decoded=false with null stats. Oracle computes the expected
    means arithmetically (solid color → mean == channel value)."""
    from ..operators.multimodal import pixel_stats

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_PX_PAYLOAD_EXPR).alias("payload")
    )
    return pixel_stats(cust, "payload").select(
        "c_custkey", "decoded", "mean_r", "mean_g", "mean_b", "mean_luma"
    )


SQL_PIXEL_STATS = f"""
SELECT c_custkey,
       c_custkey % 4 <> 0 AS decoded,
       CASE WHEN c_custkey % 4 <> 0 THEN CAST({_PX_R} AS DOUBLE) END AS mean_r,
       CASE WHEN c_custkey % 4 <> 0 THEN CAST({_PX_G} AS DOUBLE) END AS mean_g,
       CASE WHEN c_custkey % 4 <> 0 THEN CAST({_PX_B} AS DOUBLE) END AS mean_b,
       CASE WHEN c_custkey % 4 <> 0 THEN
         ROUND(0.299 * {_PX_R} + 0.587 * {_PX_G} + 0.114 * {_PX_B}, 4)
       END AS mean_luma
FROM customer WHERE c_custkey < 400
"""


# Constant-signal PCM WAV payloads for the REAL audio-decode query.
# Sample value is a multiple of 2048 so rms = peak = k/16 terminates in 4
# decimals (no cross-engine rounding ties); every 5th customer gets a
# non-WAV payload (decoded=false, null stats).
_WAV_N = "(100 + c_custkey % 100)"
_WAV_K = "CAST(c_custkey % 16 AS INT)"
_WAV_S = f"({_WAV_K} * 2048)"


def _le32(expr: str) -> str:
    e = f"({expr})"  # parenthesize: 'a + b % 256' binds % before +
    return (f"format_string('%02x%02x%02x%02x', {e} % 256, "
            f"({e} div 256) % 256, ({e} div 65536) % 256, "
            f"({e} div 16777216) % 256)")


_WAV_PAYLOAD_EXPR = f"""CASE WHEN c_custkey % 5 = 0
  THEN encode('not audio at all', 'utf-8')
  ELSE unhex(
    '52494646' || {_le32(f"36 + 2 * {_WAV_N}")} || '57415645'
    || '666d7420' || '10000000' || '0100' || '0100'
    || '401f0000' || '803e0000' || '0200' || '1000'
    || '64617461' || {_le32(f"2 * {_WAV_N}")}
    || repeat(format_string('%02x%02x', {_WAV_S} % 256, {_WAV_S} div 256),
              {_WAV_N}))
END"""


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM-WAV decode (multimodal.audio_stats — RIFF chunk walk +
    numpy sample decode, no codec lib): constant-signal WAVs constructed
    per customer; header fields, duration, RMS and peak must round-trip
    the construction; non-WAV payloads flagged decoded=false."""
    from ..operators.multimodal import audio_stats

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_WAV_PAYLOAD_EXPR).alias("payload")
    )
    return audio_stats(cust, "payload").select(
        "c_custkey", "decoded", "sample_rate", "channels", "bits",
        "n_samples", "duration_s", "rms", "peak",
    )


SQL_AUDIO_STATS = f"""
SELECT c_custkey,
       c_custkey % 5 <> 0 AS decoded,
       CASE WHEN c_custkey % 5 <> 0 THEN 8000 END AS sample_rate,
       CASE WHEN c_custkey % 5 <> 0 THEN 1 END AS channels,
       CASE WHEN c_custkey % 5 <> 0 THEN 16 END AS bits,
       CASE WHEN c_custkey % 5 <> 0 THEN CAST({_WAV_N} AS BIGINT) END AS n_samples,
       CASE WHEN c_custkey % 5 <> 0
            THEN ROUND(CAST({_WAV_N} AS DOUBLE) / 8000, 6) END AS duration_s,
       CASE WHEN c_custkey % 5 <> 0
            THEN ROUND(CAST({_WAV_K} AS DOUBLE) / 16, 6) END AS rms,
       CASE WHEN c_custkey % 5 <> 0
            THEN ROUND(CAST({_WAV_K} AS DOUBLE) / 16, 6) END AS peak
FROM customer WHERE c_custkey < 400
"""


# Square-wave PCM WAVs for the REAL signal-analysis query: period
# P = 2·(2 + custkey%4) samples at amplitude 8192, m = 50 + custkey%50
# periods. The fundamental of a periodic square wave is the spectrum
# argmax, so dominant_freq = sr/P and zero_crossings = 2m-1 — both
# analytic. Every 6th customer gets a non-WAV payload (decoded=false).
_SQ_H = "(2 + c_custkey % 4)"
_SQ_M = "(50 + c_custkey % 50)"

_SQWAV_PAYLOAD_EXPR = f"""CASE WHEN c_custkey % 6 = 0
  THEN encode('nothing acoustic here', 'utf-8')
  ELSE unhex(
    '52494646' || {_le32(f"36 + 4 * {_SQ_H} * {_SQ_M}")} || '57415645'
    || '666d7420' || '10000000' || '0100' || '0100'
    || '401f0000' || '803e0000' || '0200' || '1000'
    || '64617461' || {_le32(f"4 * {_SQ_H} * {_SQ_M}")}
    || repeat(repeat('0020', {_SQ_H}) || repeat('00e0', {_SQ_H}), {_SQ_M}))
END"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio signal analysis (multimodal.audio_features — numpy rfft
    over mapInPandas): square-wave WAVs constructed per customer; the
    dominant frequency must land on the fundamental sr/P and the
    zero-crossing count on 2m-1 — analytic round-trips of the
    construction. Non-WAV payloads → decoded=false."""
    from ..operators.multimodal import audio_features

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_SQWAV_PAYLOAD_EXPR).alias("payload")
    )
    return audio_features(cust, "payload").select(
        "c_custkey", "decoded", "sample_rate", "n_samples",
        "zero_crossings", "dominant_freq",
    )


SQL_AUDIO_FEATURES = f"""
SELECT c_custkey,
       c_custkey % 6 <> 0 AS decoded,
       CASE WHEN c_custkey % 6 <> 0 THEN 8000 END AS sample_rate,
       CASE WHEN c_custkey % 6 <> 0
            THEN CAST(2 * {_SQ_H} * {_SQ_M} AS BIGINT) END AS n_samples,
       CASE WHEN c_custkey % 6 <> 0
            THEN CAST(2 * {_SQ_M} - 1 AS BIGINT) END AS zero_crossings,
       CASE WHEN c_custkey % 6 <> 0
            THEN ROUND(8000.0 / (2 * {_SQ_H}), 4) END AS dominant_freq
FROM customer WHERE c_custkey < 400
"""


# Minimal-but-valid MP4 (ftyp + moov>mvhd v0) for the REAL container
# metadata query; duration derives from c_custkey at timescale 1000 so
# duration_s terminates in 3 decimals. Every 3rd customer gets a non-MP4
# payload (is_mp4=false, nulls).
_MP4_DUR = "(c_custkey * 10 + 7)"

_MP4_PAYLOAD_EXPR = f"""CASE WHEN c_custkey % 3 = 0
  THEN encode('definitely not an mp4 container', 'utf-8')
  ELSE unhex(
    '00000018' || '66747970' || '69736f6d' || repeat('00', 12)
    || '00000074' || '6d6f6f76'
    || '0000006c' || '6d766864' || '00' || '000000' || repeat('00', 8)
    || '000003e8' || lpad(hex({_MP4_DUR}), 8, '0') || repeat('00', 80))
END"""


def q_video_container_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4/ISO-BMFF container metadata (multimodal.parse_mp4_header —
    box-tree walk, no libav): ftyp brand + moov/mvhd timescale/duration
    parsed back from containers constructed in-query; oracle outputs the
    constructed values (round-trip). Stream/frame decode stays stubbed —
    container metadata never needed it."""
    from ..operators.multimodal import video_meta

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_MP4_PAYLOAD_EXPR).alias("payload")
    )
    return video_meta(cust, "payload").select(
        "c_custkey", "is_mp4", "brand", "timescale",
        F.col("duration").cast("long").alias("duration"), "duration_s",
    )


SQL_VIDEO_CONTAINER_META = f"""
SELECT c_custkey,
       c_custkey % 3 <> 0 AS is_mp4,
       CASE WHEN c_custkey % 3 <> 0 THEN 'isom' END AS brand,
       CASE WHEN c_custkey % 3 <> 0 THEN 1000 END AS timescale,
       CASE WHEN c_custkey % 3 <> 0 THEN CAST({_MP4_DUR} AS BIGINT) END AS duration,
       CASE WHEN c_custkey % 3 <> 0
            THEN ROUND(CAST({_MP4_DUR} AS DOUBLE) / 1000, 6) END AS duration_s
FROM customer WHERE c_custkey < 400
"""


# 12 distinct MJPEG-AVI payloads (3 frame counts × 4 solid-gray colors),
# BYTE-EXACT products of the repo's own fixture builders — frame count
# 2 + custkey%3, color 32/96/160/224 by custkey%4, every 5th customer a
# non-video payload. Solid-gray + all-ones quant makes the JPEG decode
# round-trip EXACT, so the oracle states per-frame channel means
# analytically (same round-trip-identity style as the WAV/MP4 fixtures).
def _avi_payload_expr() -> str:
    from ..operators.multimodal import build_mjpeg_avi, encode_jpeg_solid_gray

    colors = [32, 96, 160, 224]
    cases = []
    for nmod in range(3):
        for cmod in range(4):
            avi = build_mjpeg_avi(
                [encode_jpeg_solid_gray(colors[cmod])] * (2 + nmod), fps=25
            )
            cases.append(
                f"WHEN c_custkey % 3 = {nmod} AND c_custkey % 4 = {cmod} "
                f"THEN unhex('{avi.hex()}')"
            )
    return (
        "CASE WHEN c_custkey % 5 = 0 THEN encode('not a video', 'utf-8') "
        + " ".join(cases)
        + " END"
    )


_AVI_PAYLOAD_EXPR = _avi_payload_expr()


def q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel resize (multimodal.resize_pixels — decode + aspect-fit
    nearest-neighbour resample in numpy): solid-color PPMs resize into an
    8×8 box; output geometry follows scale = min(8/w, 8/h) with epsilon
    floor, and nearest keeps solid colors bit-exact so resized means stay
    the constructed channel values. Compressed (JPEG) payloads →
    decoded=false."""
    from ..operators.multimodal import resize_pixels

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_PX_PAYLOAD_EXPR).alias("payload")
    )
    return resize_pixels(cust, "payload", target=(8, 8)).select(
        "c_custkey", "decoded", "src_width", "src_height",
        "out_width", "out_height", "mean_r", "mean_g", "mean_b",
    )


SQL_IMAGE_RESIZE_STATS = f"""
WITH p AS (
  SELECT c_custkey,
         c_custkey % 4 <> 0 AS ok,
         CAST({_PX_W} AS INT) AS w,
         CAST({_PX_H} AS INT) AS h
  FROM customer WHERE c_custkey < 400
),
g AS (
  SELECT *, least(8.0 / w, 8.0 / h) AS scale FROM p
)
SELECT c_custkey,
       ok AS decoded,
       CASE WHEN ok THEN w END AS src_width,
       CASE WHEN ok THEN h END AS src_height,
       CASE WHEN ok THEN GREATEST(1, CAST(FLOOR(w * scale + 1e-9) AS INT)) END AS out_width,
       CASE WHEN ok THEN GREATEST(1, CAST(FLOOR(h * scale + 1e-9) AS INT)) END AS out_height,
       CASE WHEN ok THEN CAST({_PX_R} AS DOUBLE) END AS mean_r,
       CASE WHEN ok THEN CAST({_PX_G} AS DOUBLE) END AS mean_g,
       CASE WHEN ok THEN CAST({_PX_B} AS DOUBLE) END AS mean_b
FROM g
"""


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-AVI FRAME decode (multimodal.video_frame_stats — RIFF
    movi walk + the repo's baseline-JPEG decoder, no codec library):
    every 2nd frame of each constructed AVI decoded to pixels, per-frame
    channel means; container metadata (codec fourcc, frame count, fps,
    geometry) parsed from avih/strh. Closes VERDICT r2 item 1 — video
    frame decode is no longer stubbed for codec-free formats."""
    from ..operators.multimodal import video_frame_stats

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_AVI_PAYLOAD_EXPR).alias("payload")
    )
    return video_frame_stats(cust, "payload", every_n=2).select(
        "c_custkey", "decoded", "codec", "n_frames", "fps", "width",
        "height", "frame_index", "mean_r", "mean_g", "mean_b",
    )


SQL_VIDEO_FRAME_STATS = """
WITH params AS (
  SELECT c_custkey,
         c_custkey % 5 = 0 AS bad,
         CAST(2 + c_custkey % 3 AS INT) AS n,
         CASE c_custkey % 4 WHEN 0 THEN 32 WHEN 1 THEN 96
                            WHEN 2 THEN 160 ELSE 224 END AS v
  FROM customer WHERE c_custkey < 400
),
expanded AS (
  SELECT c_custkey, bad, n, v,
         unnest(CASE WHEN bad THEN [CAST(NULL AS INT)]
                     ELSE CAST(range(0, n, 2) AS INT[]) END) AS fi
  FROM params
)
SELECT c_custkey,
       NOT bad AS decoded,
       CASE WHEN NOT bad THEN 'MJPG' END AS codec,
       CASE WHEN NOT bad THEN n END AS n_frames,
       CASE WHEN NOT bad THEN 25.0 END AS fps,
       CASE WHEN NOT bad THEN 8 END AS width,
       CASE WHEN NOT bad THEN 8 END AS height,
       fi AS frame_index,
       CASE WHEN NOT bad THEN CAST(v AS DOUBLE) END AS mean_r,
       CASE WHEN NOT bad THEN CAST(v AS DOUBLE) END AS mean_g,
       CASE WHEN NOT bad THEN CAST(v AS DOUBLE) END AS mean_b
FROM expanded
"""


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (joins.range_join_intervals_overlap):
    per-user event windows (even event_ids → 30-min intervals, odd → 45-min)
    matched on overlap via bucketed hash join with claim-once dedup — no
    BroadcastNestedLoopJoin, no post-join distinct. Oracle is the plain
    inequality join in DuckDB."""
    from ..operators.joins import range_join_intervals_overlap

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    left = ev.where(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("lid"), "user_id",
        F.col("ts").alias("l_start"),
        (F.col("ts") + F.expr("INTERVAL 30 minutes")).alias("l_end"),
    )
    right = ev.where(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("rid"), "user_id",
        F.col("ts").alias("r_start"),
        (F.col("ts") + F.expr("INTERVAL 45 minutes")).alias("r_end"),
    )
    return range_join_intervals_overlap(
        left, right, "user_id", "l_start", "l_end", "r_start", "r_end",
        bucket="15 minutes",
    ).select("user_id", "lid", "rid")


SQL_INTERVAL_OVERLAP_JOIN = """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 20),
l AS (SELECT event_id AS lid, user_id, ts AS ls, ts + INTERVAL 30 MINUTE AS le
      FROM e WHERE event_id % 2 = 0),
r AS (SELECT event_id AS rid, user_id, ts AS rs, ts + INTERVAL 45 MINUTE AS re
      FROM e WHERE event_id % 2 = 1)
SELECT user_id, lid, rid
FROM l JOIN r USING (user_id)
WHERE ls < re AND rs < le
"""


def q_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (packing.sample_token_mixture): the
    pre-training data-mixing step — src0 weighted 3x over src1/src2 against
    a 1500-token total, documents admitted per source in deterministic
    md5-priority order while the running token count stays within the
    source budget. Oracle replicates the priority + cumulative window."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = packing.sample_token_mixture(
        docs, {"src0": 3.0, "src1": 1.0, "src2": 1.0}, total_tokens=1500
    )
    return out.select("doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens"))


SQL_TOKEN_MIXTURE = r"""
WITH counted AS (
  SELECT doc_id, source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS BIGINT) AS n_tokens,
         CAST(('0x' || substring(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              AS DOUBLE) AS pri
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
),
budgeted AS (
  SELECT *, CASE source WHEN 'src0' THEN 900 ELSE 300 END AS budget,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY pri, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counted
)
SELECT doc_id, source, n_tokens FROM budgeted WHERE cum <= budget
"""


def q_capped_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution caps (transform.cap_per_group; VERDICT r05
    item #5) — the RefinedWeb/C4 curation rule bounding any single
    domain's share: at most 15 docs per source, selected by
    md5-deterministic priority (salt 'cap', doc_id tiebreak). Output
    aggregates the KEPT set per source with an id checksum, so the oracle
    verifies the exact selection, not just the counts."""
    from ..operators import transform as tf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    capped = tf.cap_per_group(docs, "source", cap=15, id_col="doc_id")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


SQL_CAPPED_MIXTURE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM ranked WHERE rn <= 15
GROUP BY source
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-data shuffle (transform.shuffle_corpus):
    every document gets a contiguous 0-based position in md5-priority
    order — the reproducible replacement for orderBy(rand()). Distributed
    form: range partition on the priority + per-partition row_number +
    broadcast offsets (add_index_col_distributed), no single-task global
    sort. Oracle is the literal row_number over the same priority."""
    from ..operators import transform as tf

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return tf.shuffle_corpus(docs, "doc_id").select("doc_id", "shuffle_pos")


SQL_CORPUS_SHUFFLE = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY pri, doc_id) - 1 AS BIGINT)
         AS shuffle_pos
FROM (
  SELECT doc_id,
         ('0x' || substring(md5('shuffle' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS pri
  FROM documents
)
"""


def q_embedding_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage int8-quantized ANN (similarity.quantized_topk): int8
    approximate-cosine candidate scan (4x less memory bandwidth than the
    float scan) + exact float rerank. FULLY oracled: quantization is
    deterministic (scale = max|x|/127, round half-up), so both stages
    replicate relationally (SQL_EMBEDDING_TOPK_QUANTIZED); recall >= 0.9
    vs brute force additionally asserted in unit tests
    (TestQuantizedTopk)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.quantized_topk(emb, queries, k=10)


# Full oracle for the two-stage quantized ANN (VERDICT r2 item 2): unlike
# sampled/trained ANN, int8 quantization is DETERMINISTIC — scale =
# max|x|/127, qvec = round(x/scale) — so both the approximate candidate
# stage (int dot products, top-40 by dequantized cosine) and the exact
# float rerank replicate relationally. Multiplication order mirrors
# similarity.quantized_topk exactly ((idot*cs)*qs over (sqrt(sc)*cs)*
# (sqrt(sq)*qs)) so doubles match bit-for-bit.
SQL_EMBEDDING_TOPK_QUANTIZED = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
scaled AS (
  SELECT vec_id, cv,
         list_max(list_transform(cv, x -> abs(x))) / 127.0 AS cs
  FROM c
),
qz AS (
  SELECT vec_id, cv, cs,
         list_transform(cv, x -> CAST(round(x / cs) AS DOUBLE)) AS q
  FROM scaled WHERE cs > 0
),
qq AS (
  SELECT vec_id AS query_id, cv AS qcv, cs AS qs, q AS qv
  FROM qz WHERE vec_id < 5
),
approx AS (
  SELECT q.query_id, d.vec_id,
         (list_dot_product(d.q, q.qv) * d.cs * q.qs)
           / ((sqrt(list_dot_product(d.q, d.q)) * d.cs)
              * (sqrt(list_dot_product(q.qv, q.qv)) * q.qs)) AS ap
  FROM qz d CROSS JOIN qq q
  WHERE d.vec_id <> q.query_id
),
cands AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ap DESC, vec_id ASC) AS rn
    FROM approx)
  WHERE rn <= 40
),
exact AS (
  SELECT x.query_id, x.vec_id,
         ROUND(list_dot_product(d.cv, q.qcv)
           / (sqrt(list_dot_product(d.cv, d.cv))
              * sqrt(list_dot_product(q.qcv, q.qcv))), 6) AS score
  FROM cands x
  JOIN c d ON d.vec_id = x.vec_id
  JOIN qq q ON q.query_id = x.query_id
)
SELECT query_id, vec_id, score, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
      FROM exact)
WHERE rn <= 10
"""


def q_embedding_topk_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe mechanics under a FULL oracle (VERDICT r2 item 2): fixed
    centroids — the embeddings of vec_id 0..7 — replace the k-means fit
    (which stays unit-tested; sampling/iteration isn't SQL-expressible),
    so assignment (argmin L2, ties to lowest centroid), query-side n_probe
    selection, and the exact cosine re-score are all deterministic and
    replicated relationally in DuckDB."""
    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("e"))
        .collect()
    )
    centroids = [list(r["e"]) for r in cent_rows]
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, queries, centroids, k=10, n_probe=3)


SQL_EMBEDDING_TOPK_IVF_FIXED = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
cent AS (SELECT vec_id AS cid, cv AS ce FROM c WHERE vec_id < 8),
dists AS (
  SELECT c.vec_id, cent.cid,
         list_sum(list_transform(range(1, 1 + len(c.cv)),
             i -> (c.cv[i] - cent.ce[i]) * (c.cv[i] - cent.ce[i]))) AS d
  FROM c CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists)
  WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cid AS cluster FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists WHERE vec_id < 5)
  WHERE rn <= 3
),
cand AS (
  SELECT q.query_id, a.vec_id
  FROM qprobe q JOIN assigned a USING (cluster)
  WHERE a.vec_id <> q.query_id
),
s AS (
  SELECT x.query_id, x.vec_id,
         list_dot_product(d.cv, q.cv)
           / (sqrt(list_dot_product(d.cv, d.cv))
              * sqrt(list_dot_product(q.cv, q.cv))) AS score
  FROM cand x
  JOIN c d ON d.vec_id = x.vec_id
  JOIN c q ON q.vec_id = x.query_id
)
SELECT query_id, vec_id, ROUND(score, 6) AS score
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
      FROM s)
WHERE rn <= 10
"""


def q_embedding_topk_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under a FULL oracle: fixed codebooks (the
    subvectors of vec_id 0..15 — similarity.pq_codebooks_fixed) replace
    k-means training, so the whole PQ pipeline — per-subspace encode
    (argmin, ties to lowest code), the ADC m-lookup candidate scan, and
    the exact cosine rerank — is deterministic and replicated relationally
    in DuckDB. Trained codebooks (similarity.pq_train) are unit-tested
    separately."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks_fixed(emb, m=8, k=16)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(emb, queries, cbs, k=10)


# MATERIALIZED on dists avoids the CTE-inlining join-order pathology hit
# by SQL_TRIGRAM_LM (dists feeds both the corpus assignment and the
# query-side lookup table).
SQL_EMBEDDING_TOPK_PQ_FIXED = """
WITH c AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
cb AS (
  SELECT code, s.m AS m, s.ce AS ce FROM (
    SELECT vec_id AS code, unnest(list_transform(range(0, 8),
      mi -> {'m': mi, 'ce': cv[mi*8+1 : mi*8+8]})) AS s
    FROM c WHERE vec_id < 16)
),
sub AS (
  SELECT vec_id, s.m AS m, s.sv AS sv FROM (
    SELECT vec_id, unnest(list_transform(range(0, 8),
      mi -> {'m': mi, 'sv': cv[mi*8+1 : mi*8+8]})) AS s
    FROM c)
),
dists AS MATERIALIZED (
  SELECT sub.vec_id, sub.m, cb.code,
         list_sum(list_transform(range(1, 9),
             i -> (sub.sv[i] - cb.ce[i]) * (sub.sv[i] - cb.ce[i]))) AS d
  FROM sub JOIN cb ON cb.m = sub.m
),
assign AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
    FROM dists)
  WHERE rn = 1
),
qd AS (SELECT vec_id AS query_id, m, code, d FROM dists WHERE vec_id < 5),
approx AS (
  -- ordered list_sum, NOT SUM(): Spark folds the m subspace terms in
  -- fixed m=0..7 order; an order-unspecified SUM could differ in the
  -- last ulp and flip a candidate-boundary tie
  SELECT qd.query_id, a.vec_id,
         list_sum(list(qd.d ORDER BY qd.m)) AS d2
  FROM assign a JOIN qd ON qd.m = a.m AND qd.code = a.code
  WHERE a.vec_id <> qd.query_id
  GROUP BY qd.query_id, a.vec_id
),
cands AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY d2 ASC, vec_id ASC) AS rn
    FROM approx)
  WHERE rn <= 40
),
exact AS (
  SELECT x.query_id, x.vec_id,
         ROUND(list_dot_product(d.cv, q.cv)
           / (sqrt(list_dot_product(d.cv, d.cv))
              * sqrt(list_dot_product(q.cv, q.cv))), 6) AS score
  FROM cands x
  JOIN c d ON d.vec_id = x.vec_id
  JOIN c q ON q.vec_id = x.query_id
)
SELECT query_id, vec_id, score, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
      FROM exact)
WHERE rn <= 10
"""


def _lsh_oracle_sql(tables: int = 8, bits: int = 4, dim: int = 64,
                    seed: int = 42) -> str:
    """Generate the FULL multi-table hyperplane-LSH oracle: the planes come
    from similarity.random_hyperplanes' fixed LCG, so the exact plane
    doubles embed as SQL literals (repr() is shortest-round-trip — DuckDB
    parses the identical double Spark gets from F.lit). Bucket bits are
    sign tests of dot products; candidate union across tables; exact
    cosine rerank — same pipeline as similarity.lsh_topk."""
    from ..operators.similarity import random_hyperplanes

    per_table = []
    for t in range(tables):
        planes = random_hyperplanes(dim, bits, seed + 1000 * t)
        terms = []
        for b, plane in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
            terms.append(
                f"CASE WHEN list_dot_product(cv, {lit}) > 0 "
                f"THEN {1 << b} ELSE 0 END"
            )
        bucket = "\n        + ".join(terms)
        per_table.append(
            f"SELECT vec_id, {t} AS t, ({bucket}) AS b FROM c"
        )
    buckets_union = "\n    UNION ALL\n    ".join(per_table)
    return f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
cb AS (
    {buckets_union}
),
qb AS (SELECT vec_id AS query_id, t, b FROM cb WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT q.query_id, d.vec_id
  FROM qb q JOIN cb d USING (t, b)
  WHERE d.vec_id <> q.query_id
),
s AS (
  SELECT x.query_id, x.vec_id,
         list_dot_product(d.cv, q.cv)
           / (sqrt(list_dot_product(d.cv, d.cv))
              * sqrt(list_dot_product(q.cv, q.cv))) AS score
  FROM cand x
  JOIN c d ON d.vec_id = x.vec_id
  JOIN c q ON q.vec_id = x.query_id
)
SELECT query_id, vec_id, ROUND(score, 6) AS score
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
      FROM s)
WHERE rn <= 10
"""


SQL_EMBEDDING_TOPK_LSH = _lsh_oracle_sql()


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram LM quality scores
    (textstats.bigram_lm_scores): add-1 smoothed P(w2|w1) over the corpus,
    each doc scored by mean bigram log-prob — the model-free CCNet-style
    perplexity filter. Oracle replicates counts/smoothing/averaging
    relationally in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = textstats.bigram_lm_scores(docs)
    return out.select(
        "doc_id", "lm_logprob",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
    )


SQL_BIGRAM_LM = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
         i -> {'w1': t[i], 'w2': t[i+1]})) AS g
  FROM base WHERE len(t) >= 2
),
flat AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM grams),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM flat GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM flat GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM base)),
scored AS (
  SELECT doc_id,
         ROUND(AVG(LN((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v))), 4) AS lm_logprob,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM flat JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY doc_id
)
SELECT b.doc_id, s.lm_logprob,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM base b LEFT JOIN scored s USING (doc_id)
"""


def q_trigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram LM quality scores (textstats.trigram_lm_scores):
    λ-mixed add-1 trigram/bigram/unigram probabilities trained on the
    corpus itself, each doc scored by mean trigram log-prob — the backoff
    extension of bigram_lm_scores. Oracle replicates all five count
    levels + the λ mix relationally in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = textstats.trigram_lm_scores(docs)
    return out.select(
        "doc_id", "lm_logprob3",
        F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("long").alias("n_trigrams"),
    )


# MATERIALIZED (DuckDB CTE hint) on base/sc is load-bearing: with the
# default inlined CTEs, DuckDB's optimizer places the 1-row `sc` cross
# join pathologically in the 6-way join tree (observed: minutes + ~100 GB
# at sf0.001 vs 0.1 s materialized).
SQL_TRIGRAM_LM = r"""
WITH base AS MATERIALIZED (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
g3 AS (
  SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      i -> {'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]})) AS g
    FROM base WHERE len(t) >= 3)
),
g2 AS (
  SELECT g.b1 AS b1, g.b2 AS b2 FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      i -> {'b1': t[i], 'b2': t[i+1]})) AS g
    FROM base WHERE len(t) >= 2)
),
c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM g3 GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM g3 GROUP BY 1, 2),
cb2 AS (SELECT b1, b2, COUNT(*) AS cb2 FROM g2 GROUP BY 1, 2),
cb1 AS (SELECT b1, COUNT(*) AS cb1 FROM g2 GROUP BY 1),
tokf AS (SELECT unnest(t) AS w FROM base),
cu AS (SELECT w, COUNT(*) AS cu FROM tokf GROUP BY 1),
sc AS MATERIALIZED (SELECT COUNT(DISTINCT w) AS v, COUNT(*) AS nn FROM tokf),
scored AS (
  SELECT doc_id,
         ROUND(AVG(LN(
             0.6 * ((c3.c3 + 1.0) / (c12.c12 + 1.0 * sc.v))
           + 0.3 * ((cb2.cb2 + 1.0) / (cb1.cb1 + 1.0 * sc.v))
           + 0.1 * ((cu.cu + 1.0) / (sc.nn + 1.0 * sc.v)))), 4) AS lm_logprob3,
         CAST(COUNT(*) AS BIGINT) AS n_trigrams
  FROM g3
  JOIN c3 ON c3.w1 = g3.w1 AND c3.w2 = g3.w2 AND c3.w3 = g3.w3
  JOIN c12 ON c12.w1 = g3.w1 AND c12.w2 = g3.w2
  JOIN cb2 ON cb2.b1 = g3.w2 AND cb2.b2 = g3.w3
  JOIN cb1 ON cb1.b1 = g3.w2
  JOIN cu ON cu.w = g3.w3
  CROSS JOIN sc
  GROUP BY g3.doc_id
)
SELECT b.doc_id, s.lm_logprob3,
       CAST(COALESCE(s.n_trigrams, 0) AS BIGINT) AS n_trigrams
FROM base b LEFT JOIN scored s USING (doc_id)
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift per event type (quality.ks_drift): first half of
    the event stream (by event_id) as reference vs second half as current —
    exact empirical-CDF sweep per group, one (group, value) shuffle + one
    partitioned window. Oracle replicates the CDF window in DuckDB."""
    from ..operators.quality import ks_drift

    evdf = _t(spark, sf_dir, "events")
    median_id = 5000  # fixture event_ids are dense 0..n
    tagged = evdf.withColumn("__is_ref", F.col("event_id") < median_id)
    return ks_drift(tagged, "value", "__is_ref", ["event_type"]).orderBy(
        "event_type"
    )


SQL_KS_DRIFT = """
WITH per_value AS (
  SELECT event_type, value AS v,
         SUM(CASE WHEN event_id < 5000 THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN event_id < 5000 THEN 0 ELSE 1 END) AS nb
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, value
),
cdf AS (
  SELECT event_type,
         SUM(na) OVER w / CAST(SUM(na) OVER g AS DOUBLE) AS fa,
         SUM(nb) OVER w / CAST(SUM(nb) OVER g AS DOUBLE) AS fb,
         SUM(na) OVER g AS ta, SUM(nb) OVER g AS tb
  FROM per_value
  WINDOW w AS (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         g AS (PARTITION BY event_type)
)
SELECT event_type, ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat,
       CAST(MAX(ta) AS BIGINT) AS n_a, CAST(MAX(tb) AS BIGINT) AS n_b
FROM cdf GROUP BY event_type ORDER BY event_type
"""


def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared categorical drift (quality.chi2_drift): event_type
    frequency homogeneity between the first and second half of the event
    stream — the categorical member of the drift toolkit (PSI/KS/chi2).
    Oracle replicates the 2xC expected-count arithmetic."""
    from ..operators.quality import chi2_drift

    evdf = _t(spark, sf_dir, "events")
    tagged = evdf.withColumn("__is_ref", F.col("event_id") < 5000)
    return chi2_drift(tagged, "event_type", "__is_ref")


SQL_CHI2_DRIFT = """
WITH per_cat AS (
  SELECT event_type,
         SUM(CASE WHEN event_id < 5000 THEN 1 ELSE 0 END) AS oa,
         SUM(CASE WHEN event_id < 5000 THEN 0 ELSE 1 END) AS ob
  FROM events WHERE event_type IS NOT NULL
  GROUP BY event_type
),
tot AS (
  SELECT *, SUM(oa) OVER () AS ta, SUM(ob) OVER () AS tb FROM per_cat
),
cells AS (
  SELECT *,
    (oa + ob) * ta / CAST(ta + tb AS DOUBLE) AS ea,
    (oa + ob) * tb / CAST(ta + tb AS DOUBLE) AS eb
  FROM tot
)
SELECT ROUND(SUM(
         CASE WHEN ea > 0 THEN POW(oa - ea, 2) / ea ELSE 0 END
         + CASE WHEN eb > 0 THEN POW(ob - eb, 2) / eb ELSE 0 END), 4) AS chi2,
       CAST(COUNT(*) - 1 AS BIGINT) AS dof,
       CAST(MAX(ta) AS BIGINT) AS n_a,
       CAST(MAX(tb) AS BIGINT) AS n_b
FROM cells
"""


# Pseudo-names for the entity-resolution query: 10-hex-char names derived
# from c_custkey; even customers also get a one-substitution typo variant
# (position 5 → 'z', impossible in hex → edit distance exactly 1).
_ER_NAME = "substring(md5('er' || CAST(c_custkey AS STRING)), 1, 10)"
_ER_NAME_SQL = "substring(md5('er' || CAST(c_custkey AS VARCHAR)), 1, 10)"


def q_er_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate matching (dedup.er_candidate_matches):
    prefix/suffix blocking + levenshtein<=2 verify over pseudo-names with
    planted single-substitution typos. The oracle replicates the SAME
    blocking predicate (prefix3 OR suffix3 equality) + edit distance in
    DuckDB, so blocking semantics are part of the verified contract."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    base = cust.select(
        F.col("c_custkey").alias("rec_id"),
        F.expr(_ER_NAME).alias("name"),
    )
    variants = cust.where(F.col("c_custkey") % 2 == 0).select(
        (F.col("c_custkey") + 100000).alias("rec_id"),
        F.expr(
            f"concat(substring({_ER_NAME}, 1, 4), 'z', substring({_ER_NAME}, 6))"
        ).alias("name"),
    )
    recs = base.unionByName(variants)
    return dedup.er_candidate_matches(recs, "rec_id", "name", max_edit=2).select(
        "id_a", "id_b", "name_a", "name_b",
        F.col("edit_dist").cast("long").alias("edit_dist"),
    )


SQL_ER_MATCHES = f"""
WITH base AS (
  SELECT c_custkey AS rec_id, {_ER_NAME_SQL} AS name FROM customer
),
variants AS (
  SELECT c_custkey + 100000 AS rec_id,
         substring({_ER_NAME_SQL}, 1, 4) || 'z' || substring({_ER_NAME_SQL}, 6) AS name
  FROM customer WHERE c_custkey % 2 = 0
),
recs AS (SELECT * FROM base UNION ALL SELECT * FROM variants)
SELECT a.rec_id AS id_a, b.rec_id AS id_b,
       a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
FROM recs a JOIN recs b ON a.rec_id < b.rec_id
WHERE (substring(a.name, 1, 3) = substring(b.name, 1, 3)
       OR substring(a.name, 8, 3) = substring(b.name, 8, 3))
  AND levenshtein(a.name, b.name) <= 2
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication metric (dedup.duplicate_span_stats,
    Lee et al. style): per document, the fraction of its 10-token windows
    appearing >= 2 times corpus-wide — hashed windows, one count shuffle,
    one join back. Oracle recomputes with string windows (distinct-hash
    equivalence, negligible 64-bit collisions)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.duplicate_span_stats(docs, "doc_id", n=10).select(
        "doc_id", "n_spans", "n_dup_spans", "dup_span_frac"
    )


SQL_DUPLICATE_SPANS = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
spans AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 9, 0) + 1),
    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
      || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' '
      || t[i+8] || ' ' || t[i+9])) AS s
  FROM tok
),
counts AS (SELECT s, COUNT(*) AS c FROM spans GROUP BY s),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM spans JOIN counts USING (s) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN COALESCE(n_spans, 0) > 0
            THEN ROUND(n_dup / CAST(n_spans AS DOUBLE), 4) END AS dup_span_frac
FROM tok t LEFT JOIN per_doc USING (doc_id)
"""


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate REMOVAL (dedup.remove_duplicate_spans,
    completing Lee et al.): every 10-token window duplicated corpus-wide
    keeps only its first occurrence (ordered by doc_id, position); later
    occurrences' tokens are cut and documents reassembled. Oracle
    replicates with string windows + ROW_NUMBER first-occurrence marking
    (hash-window equivalence as in duplicate_spans)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.remove_duplicate_spans(docs, "doc_id", n=10).select(
        "doc_id", "n_tokens_kept", "deduped_text"
    )


SQL_REMOVE_DUP_SPANS = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
spans AS (
  SELECT doc_id, sp.pos AS pos, sp.s AS s FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 9, 0) + 1),
      i -> {'pos': i,
            's': t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
              || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
              || t[i+7] || ' ' || t[i+8] || ' ' || t[i+9]})) AS sp
    FROM tok)
),
marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY s) AS c,
         ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
  FROM spans
),
kills AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + 10)) AS kp
  FROM marked WHERE c >= 2 AND rn >= 2
),
flat AS (
  SELECT doc_id, f.pos AS pos, f.w AS w FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
      i -> {'pos': i, 'w': t[i]})) AS f
    FROM tok)
),
kept AS (
  SELECT fl.doc_id, fl.pos, fl.w
  FROM flat fl LEFT JOIN kills k ON k.doc_id = fl.doc_id AND k.kp = fl.pos
  WHERE k.doc_id IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens_kept,
         string_agg(w, ' ' ORDER BY pos) AS s
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       COALESCE(a.s, '') AS deduped_text
FROM tok t LEFT JOIN agg a USING (doc_id)
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (ev.funnel_stages): view → click → purchase per user,
    stage k counting only strictly after stage k-1 — single shuffle, array
    chain resolution. Stage timestamps emitted as unix micros (the fixture
    parquet is TIMESTAMP_NS; both engines truncate identically to us).
    Oracle = chained conditional-min CTEs."""
    evdf = _t(spark, sf_dir, "events")
    out = ev.funnel_stages(evdf, ["view", "click", "purchase"])
    return out.select(
        "user_id",
        F.unix_micros(F.col("stage_1_ts").cast("timestamp")).alias("t1_us"),
        F.unix_micros(F.col("stage_2_ts").cast("timestamp")).alias("t2_us"),
        F.unix_micros(F.col("stage_3_ts").cast("timestamp")).alias("t3_us"),
        "stages_reached",
    )


SQL_FUNNEL = """
WITH base AS (
  SELECT user_id, event_type, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
s1 AS (
  SELECT user_id,
         MIN(ts) FILTER (WHERE event_type = 'view') AS t1
  FROM base GROUP BY user_id
),
s2 AS (
  SELECT b.user_id, MIN(b.ts) AS t2
  FROM base b JOIN s1 USING (user_id)
  WHERE b.event_type = 'click' AND s1.t1 IS NOT NULL AND b.ts > s1.t1
  GROUP BY b.user_id
),
s3 AS (
  SELECT b.user_id, MIN(b.ts) AS t3
  FROM base b JOIN s2 USING (user_id)
  WHERE b.event_type = 'purchase' AND b.ts > s2.t2
  GROUP BY b.user_id
)
SELECT s1.user_id,
       epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us, epoch_us(t3) AS t3_us,
       CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS stages_reached
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (transform.hash_split):
    80/10/10 by md5 hash bucket, grouped by source so whole shards stay in
    one split (the leakage guard). Oracle replicates the bucket arithmetic;
    counts verify proportionality downstream of determinism."""
    docs = _t(spark, sf_dir, "documents")
    out = transform.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, by_col="source"
    )
    return out.groupBy("split", "source").agg(F.count("*").alias("n_docs"))


SQL_HASH_SPLIT = """
WITH u AS (
  SELECT source,
         (CAST(('0x' || substring(md5('split' || source), 1, 8))::BIGINT AS DOUBLE))
           / 4294967296.0 AS h
  FROM documents
)
SELECT CASE WHEN h < 0.8 THEN 'train' WHEN h < 0.9 THEN 'val' ELSE 'test' END
         AS split,
       source, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM u GROUP BY 1, 2
"""


def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Spark 4 hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate): per-(nation, month) customer sketches merged to
    per-nation estimates — the 100 TB pattern for distinct counts (build
    sketches once per partition/day, merge for any rollup; never recount).
    Oracle-verified via error envelopes, like approx_percentiles: the
    DataSketches HLL guarantees ~1.6% relative standard error at the
    default lgConfigK=12, so both the direct and the merged estimate must
    land within ±5% of the exact distinct (DuckDB supplies exact + TRUEs);
    the merged estimate must also equal the direct one's guarantee — union
    of HLLs is lossless at the same precision."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    per_month = j.groupBy("c_nationkey", "month").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    merged = per_month.groupBy("c_nationkey").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_union")
    )
    direct = j.groupBy("c_nationkey").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").alias("est"),
        F.count_distinct("o_custkey").alias("exact_distinct"),
    )
    tol = 0.05
    return (
        direct.join(merged, "c_nationkey")
        .select(
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= tol * F.col("exact_distinct")
            ).alias("direct_ok"),
            (
                F.abs(F.col("est_union") - F.col("exact_distinct"))
                <= tol * F.col("exact_distinct")
            ).alias("union_ok"),
        )
    )


SQL_HLL_SKETCH_UNION = """
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
       TRUE AS direct_ok,
       TRUE AS union_ok
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def q_incremental_neardup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup through the PERSISTED corpus band index
    (dedup.persist_neardup_index → neardup_pairs_against_index): corpus
    shingling/banding happens once at index build; the probe equi-joins the
    batch's band keys against the band_key-BUCKETED corpus table — no
    corpus-side exchange (plan-tested in tests/test_incremental.py). Same
    semantics and oracle as incremental_neardup; identical results."""
    docs = dedup.ensure_parallelism(_t(spark, sf_dir, "documents"))
    new_batch = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    # corpus identity in the table names: a repeated call in the SAME
    # session (steady-state probing, bench re-runs) reuses the built
    # index; a different sf_dir can never alias it, and the row count in
    # the tag invalidates a stale warehouse dir if fixtures were ever
    # regenerated (a cheap count scan vs re-hashing the corpus)
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    tag = f"{tag}_{corpus.count()}"
    idx = dedup.persist_neardup_index(
        corpus, "doc_id", bands=32,
        band_table=f"q_nd_bands_{tag}", shingle_table=f"q_nd_shingles_{tag}",
        reuse_if_exists=True,
    )
    return dedup.neardup_pairs_against_index(
        new_batch, "doc_id", idx, threshold=0.5
    ).select("new_id", "corpus_id", "jaccard")


SQL_INCREMENTAL_NEARDUP = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM tok
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s
  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
  GROUP BY 1, 2
)
SELECT new_id, corpus_id,
       ROUND(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = new_id
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = corpus_id
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
"""


def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate percentiles, oracle-verified via rank-error
    envelopes: ``approx_percentile(x, p, 1000)`` guarantees rank error ≤
    n/1000, so the estimate must land inside the exact [p-0.01, p+0.01]
    quantile envelope. The query emits exact p50/p95 plus those booleans;
    DuckDB supplies the exact values and literal TRUEs. Deterministic on a
    fixed fixture (the sketch has no randomness)."""
    li = _t(spark, sf_dir, "lineitem")
    x = "l_extendedprice"
    agg = li.groupBy("l_returnflag").agg(
        F.expr(f"approx_percentile({x}, 0.5, 1000)").alias("a50"),
        F.expr(f"approx_percentile({x}, 0.95, 1000)").alias("a95"),
        F.expr(f"percentile({x}, 0.5)").alias("e50"),
        F.expr(f"percentile({x}, 0.95)").alias("e95"),
        F.expr(f"percentile({x}, 0.49)").alias("lo50"),
        F.expr(f"percentile({x}, 0.51)").alias("hi50"),
        F.expr(f"percentile({x}, 0.94)").alias("lo95"),
        F.expr(f"percentile({x}, 0.96)").alias("hi95"),
    )
    return agg.select(
        "l_returnflag",
        F.round("e50", 4).alias("median_price"),
        F.round("e95", 4).alias("p95_price"),
        ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias(
            "approx_p50_ok"
        ),
        ((F.col("a95") >= F.col("lo95")) & (F.col("a95") <= F.col("hi95"))).alias(
            "approx_p95_ok"
        ),
    )


SQL_APPROX_PERCENTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
       TRUE AS approx_p50_ok,
       TRUE AS approx_p95_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary heads: token frequencies grouped by document
    language, top-3 per language (freq desc, token asc — deterministic).
    Two shuffles (token agg, per-lang window over small agg output); partial
    aggregation absorbs token skew map-side."""
    docs = _t(spark, sf_dir, "documents")
    freqs = (
        docs.select("lang", F.explode(textstats.tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("freq"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("token"))
    return (
        freqs.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("lang", "token", "freq", "rn")
    )


SQL_TOP_TOKENS_PER_LANG = """
WITH tok AS (
  SELECT lang, token FROM (
    SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), freqs AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok GROUP BY lang, token
)
SELECT lang, token, freq,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY lang ORDER BY freq DESC, token ASC
       ) AS BIGINT) AS rn
FROM freqs
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, token ASC) <= 3
"""


_PR_ITERS = 5
_PR_DAMPING = 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized customer–supplier trade graph
    (an edge per distinct (customer, supplier) pair that shared an order),
    5 synchronous join-aggregate rounds from the uniform vector.

    Oracle: DuckDB runs the SAME 5 rounds unrolled as chained CTEs —
    iterative algorithms are SQL-expressible when the round count is fixed,
    so this stays hash-verified rather than rows-only."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    pr = graph.pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_DAMPING, symmetrize=True
    )
    return pr.select("node", F.col("rank").alias("pr"))


def _pagerank_oracle_sql(iters: int, d: float) -> str:
    """Unroll the fixed PageRank rounds as chained CTEs (DuckDB side)."""
    one_minus_d = repr(1.0 - d)
    parts = [
        """
WITH raw_edges AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM raw_edges
  UNION
  SELECT dst AS src, src AS dst FROM raw_edges
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
it0 AS (SELECT node, 1.0::DOUBLE / n AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
it{k} AS (
  SELECT nodes.node,
         {one_minus_d}::DOUBLE / nn.n
           + {d!r}::DOUBLE * COALESCE(s.s, CAST(0 AS DOUBLE)) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.pr / dg.deg) AS s
    FROM edges e
    JOIN it{k - 1} r ON e.src = r.node
    JOIN deg dg ON e.src = dg.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        )
    parts.append(f"\nSELECT node, ROUND(pr, 6) AS pr FROM it{iters}")
    return "".join(parts)


SQL_PAGERANK = _pagerank_oracle_sql(_PR_ITERS, _PR_DAMPING)


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: same trade graph, edge weight = number of shared
    order lines, contributions split ∝ weight (rank·w/Σw). Same unrolled-CTE
    oracle with weighted degree sums."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    pr = graph.pagerank(
        edges,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        symmetrize=True,
        weight_col="w",
    )
    return pr.select("node", F.col("rank").alias("pr"))


def _pagerank_weighted_oracle_sql(iters: int, d: float) -> str:
    one_minus_d = repr(1.0 - d)
    parts = [
        """
WITH raw AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT src, dst, SUM(w) AS w FROM (
    SELECT src, dst, w FROM raw
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM raw
  ) GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, SUM(w) AS deg FROM edges GROUP BY src),
it0 AS (SELECT node, 1.0::DOUBLE / n AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
it{k} AS (
  SELECT nodes.node,
         {one_minus_d}::DOUBLE / nn.n
           + {d!r}::DOUBLE * COALESCE(s.s, CAST(0 AS DOUBLE)) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.pr * e.w / dg.deg) AS s
    FROM edges e
    JOIN it{k - 1} r ON e.src = r.node
    JOIN deg dg ON e.src = dg.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        )
    parts.append(f"\nSELECT node, ROUND(pr, 6) AS pr FROM it{iters}")
    return "".join(parts)


SQL_PAGERANK_WEIGHTED = _pagerank_weighted_oracle_sql(_PR_ITERS, _PR_DAMPING)


_PPR_SEEDS = ["c1", "c2", "c3"]


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from three seed customers: initial and teleport
    mass concentrate on the seeds, so rank measures proximity to them —
    the graph-retrieval primitive (recommendation / related-entity
    queries). Same unrolled-CTE oracle with CASE-gated teleport."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    pr = graph.pagerank(
        edges,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        symmetrize=True,
        seeds=_PPR_SEEDS,
    )
    return pr.select("node", F.col("rank").alias("pr"))


def _pagerank_personalized_oracle_sql(iters: int, d: float, seeds: list) -> str:
    one_minus_d = repr(1.0 - d)
    seed_list = ", ".join(f"'{x}'" for x in seeds)
    init_r = repr(1.0 / len(seeds))
    tele_r = repr((1.0 - d) / len(seeds))
    parts = [
        f"""
WITH raw_edges AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM raw_edges
  UNION
  SELECT dst AS src, src AS dst FROM raw_edges
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
it0 AS (
  SELECT node,
         CASE WHEN node IN ({seed_list}) THEN {init_r}::DOUBLE
              ELSE 0.0::DOUBLE END AS pr
  FROM nodes
)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
it{k} AS (
  SELECT nodes.node,
         CASE WHEN nodes.node IN ({seed_list}) THEN {tele_r}::DOUBLE
              ELSE 0.0::DOUBLE END
           + {d!r}::DOUBLE * COALESCE(s.s, CAST(0 AS DOUBLE)) AS pr
  FROM nodes
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.pr / dg.deg) AS s
    FROM edges e
    JOIN it{k - 1} r ON e.src = r.node
    JOIN deg dg ON e.src = dg.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        )
    parts.append(f"\nSELECT node, ROUND(pr, 6) AS pr FROM it{iters}")
    return "".join(parts)


SQL_PAGERANK_PERSONALIZED = _pagerank_personalized_oracle_sql(
    _PR_ITERS, _PR_DAMPING, _PPR_SEEDS
)


def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension from the event log: per user, one
    version row per consecutive run of equal event_type, with
    valid_from/valid_to/is_current (gaps-and-islands, one key shuffle).
    event_id tie-breaks same-timestamp events so output is deterministic."""
    evdf = _t(spark, sf_dir, "events")
    return star.scd2_from_events(
        evdf, "user_id", ["event_type"], "ts", tiebreak_cols=["event_id"]
    )


SQL_SCD2_DIMENSION = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM events
),
runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM flagged
),
versions AS (
  SELECT user_id, run, event_type, MIN(ts) AS valid_from
  FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL AS is_current
FROM versions
"""


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (idf · saturating-tf · length
    normalization) over the inverted-index plan, top-5 per query doc.
    Constants are cast to DOUBLE on the oracle side so both engines do the
    same IEEE arithmetic (DuckDB would otherwise fold 1.2+1.0 in DECIMAL)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.bm25_topk(docs, [1, 2, 3], k=5)


SQL_BM25_RETRIEVAL = """
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
), dfreq AS (
  SELECT token, COUNT(*) AS df_t FROM tf GROUP BY 1
), scal AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM dl) AS avgdl
), w AS (
  SELECT tf.doc_id, tf.token,
         LN(1.0::DOUBLE + (n_docs - df_t + 0.5::DOUBLE) / (df_t + 0.5::DOUBLE))
         * (tf * (1.2::DOUBLE + 1.0::DOUBLE))
         / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                + 0.75::DOUBLE * dl / avgdl)) AS w
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN scal
),
q AS (SELECT doc_id AS query_id, token FROM w WHERE doc_id IN (1, 2, 3)),
scored AS (
  SELECT q.query_id, w.doc_id AS match_id, ROUND(SUM(w.w), 6) AS score
  FROM q JOIN w USING (token)
  WHERE w.doc_id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, match_id, score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, match_id ASC
       ) AS BIGINT) AS "rank"
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY query_id ORDER BY score DESC, match_id ASC
) <= 5
"""


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 and TF-IDF
    cosine rankings (score = Σ 1/(60+rank) across lists) — the standard
    combiner when lexical and a second ranking disagree; rank-based, so no
    score calibration between the lists is needed."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.rrf_fuse(
        textstats.bm25_topk(docs, [1, 2, 3], k=5),
        textstats.tfidf_cosine_topk(docs, [1, 2, 3], k=5),
        k=5,
    )


SQL_HYBRID_RETRIEVAL = f"""
WITH bm AS (SELECT query_id, match_id, "rank" FROM ({SQL_BM25_RETRIEVAL}) x),
tfc AS (SELECT query_id, match_id, "rank" FROM ({SQL_TFIDF_RETRIEVAL}) y),
u AS (
  SELECT query_id, match_id, 1.0::DOUBLE / (60 + "rank") AS c FROM bm
  UNION ALL
  SELECT query_id, match_id, 1.0::DOUBLE / (60 + "rank") AS c FROM tfc
),
scored AS (
  SELECT query_id, match_id, ROUND(SUM(c), 6) AS score
  FROM u GROUP BY 1, 2
)
SELECT query_id, match_id, score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, match_id ASC
       ) AS BIGINT) AS "rank"
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY query_id ORDER BY score DESC, match_id ASC
) <= 5
"""


_BM25_TEXT_QUERIES = [
    "hash join shuffle",
    "customer order line",
    "vector scan batch window",
]


def q_bm25_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc free-text BM25 search (query strings, not query docs) — the
    search-box entry point. Query side = distinct tokens of each string;
    terms absent from the corpus simply contribute nothing."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.bm25_topk_text(docs, _BM25_TEXT_QUERIES, k=5)


def _bm25_text_oracle_sql(queries: list[str]) -> str:
    values = ", ".join(
        f"({qi}, '{tok}')"
        for qi, q in enumerate(queries)
        for tok in sorted(set(q.split()))
    )
    return f"""
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
), dfreq AS (
  SELECT token, COUNT(*) AS df_t FROM tf GROUP BY 1
), scal AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM dl) AS avgdl
), w AS (
  SELECT tf.doc_id, tf.token,
         LN(1.0::DOUBLE + (n_docs - df_t + 0.5::DOUBLE) / (df_t + 0.5::DOUBLE))
         * (tf * (1.2::DOUBLE + 1.0::DOUBLE))
         / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                + 0.75::DOUBLE * dl / avgdl)) AS w
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN scal
),
q AS (SELECT * FROM (VALUES {values}) AS v(query_id, token)),
scored AS (
  SELECT q.query_id, w.doc_id AS match_id, ROUND(SUM(w.w), 6) AS score
  FROM q JOIN w USING (token)
  GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, match_id, score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, match_id ASC
       ) AS BIGINT) AS "rank"
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY query_id ORDER BY score DESC, match_id ASC
) <= 5
"""


SQL_BM25_TEXT_SEARCH = _bm25_text_oracle_sql(_BM25_TEXT_QUERIES)


def q_bm25f_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F fielded search: title (first 40 chars, weight 2.0) + body
    (rest, weight 1.0), per-field length normalization, saturation + idf
    applied once to the combined weighted tf — not a naive sum of
    per-field BM25 scores. Field derivation is a deterministic character
    split so the oracle replicates it byte-for-byte."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 40).alias("title"),
        F.expr("substring(text, 41)").alias("body"),
    )
    return textstats.bm25f_topk_text(
        docs, _BM25_TEXT_QUERIES, {"title": 2.0, "body": 1.0}, k=5
    )


def _bm25f_oracle_sql(queries: list[str]) -> str:
    values = ", ".join(
        f"({qi}, '{tok}')"
        for qi, q in enumerate(queries)
        for tok in sorted(set(q.split()))
    )
    field_cte = """
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim({fld}), '\\s+')) AS token
    FROM docs2
  ) WHERE token <> ''
  GROUP BY 1, 2"""
    return f"""
WITH docs2 AS (
  SELECT doc_id, substring(text, 1, 40) AS title, substring(text, 41) AS body
  FROM documents
),
tf_t AS ({field_cte.format(fld="title")}),
tf_b AS ({field_cte.format(fld="body")}),
dl_t AS (SELECT doc_id, SUM(tf) AS dl FROM tf_t GROUP BY 1),
dl_b AS (SELECT doc_id, SUM(tf) AS dl FROM tf_b GROUP BY 1),
avg_t AS (SELECT AVG(dl) AS avgdl FROM dl_t),
avg_b AS (SELECT AVG(dl) AS avgdl FROM dl_b),
tfn AS (
  SELECT doc_id, token, SUM(tfn) AS tfn FROM (
    SELECT tf_t.doc_id, token,
           2.0::DOUBLE * tf / (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl) AS tfn
    FROM tf_t JOIN dl_t USING (doc_id) CROSS JOIN avg_t
    UNION ALL
    SELECT tf_b.doc_id, token,
           1.0::DOUBLE * tf / (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl) AS tfn
    FROM tf_b JOIN dl_b USING (doc_id) CROSS JOIN avg_b
  ) GROUP BY 1, 2
),
dfreq AS (SELECT token, COUNT(*) AS df_t FROM tfn GROUP BY 1),
scal AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs),
w AS (
  SELECT tfn.doc_id, tfn.token,
         LN(1.0::DOUBLE + (n_docs - df_t + 0.5::DOUBLE) / (df_t + 0.5::DOUBLE))
         * tfn / (1.2::DOUBLE + tfn) AS w
  FROM tfn JOIN dfreq USING (token) CROSS JOIN scal
),
q AS (SELECT * FROM (VALUES {values}) AS v(query_id, token)),
scored AS (
  SELECT q.query_id, w.doc_id AS match_id, ROUND(SUM(w.w), 6) AS score
  FROM q JOIN w USING (token)
  GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, match_id, score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, match_id ASC
       ) AS BIGINT) AS "rank"
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY query_id ORDER BY score DESC, match_id ASC
) <= 5
"""


SQL_BM25F_RETRIEVAL = _bm25f_oracle_sql(_BM25_TEXT_QUERIES)


_LPA_ITERS = 5


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the verified MinHash near-dup
    pair graph (deterministic min-label tie rule, 5 synchronous rounds) —
    the community-detection complement to the connected-components
    dedup_clusters query, sharing its edge relation."""
    docs = dedup.ensure_parallelism(_t(spark, sf_dir, "documents"))
    sh = (
        dedup.minhash_signatures(dedup.shingle_hashes(docs, "text", n=3), num_hashes=64)
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    pairs = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    verified = dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.5)
    return graph.label_propagation(
        verified.select("id_a", "id_b"), "id_a", "id_b", iterations=_LPA_ITERS
    )


def _lpa_oracle_sql(iters: int) -> str:
    parts = [
        f"""
WITH pairs AS (SELECT id_a, id_b FROM ({SQL_MINHASH_NEARDUP}) p),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node AS label FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
l{k} AS (
  SELECT node, label FROM (
    SELECT e.dst AS node, r.label, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (
             PARTITION BY e.dst ORDER BY COUNT(*) DESC, r.label ASC
           ) AS rn
    FROM edges e JOIN l{k - 1} r ON e.src = r.node
    GROUP BY e.dst, r.label
  ) WHERE rn = 1
)"""
        )
    parts.append(f"\nSELECT node, label FROM l{iters}")
    return "".join(parts)


SQL_LPA_COMMUNITIES = _lpa_oracle_sql(_LPA_ITERS)


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly flags: events deviating >2σ from the
    per-user trailing-hour mean. Mean/σ come from exact decimal window
    sums (float window accumulation is engine/partitioning-dependent;
    decimal prefix sums are not), converted to double only at the end."""
    evdf = _t(spark, sf_dir, "events")
    return ev.with_anomaly_flags(evdf, window_seconds=3600, sigmas=2.0).select(
        "user_id", "event_id", "trailing_n", "trailing_mean",
        "trailing_std", "is_anomaly",
    )


SQL_EVENTS_ANOMALY = """
WITH b AS (
  SELECT user_id, event_id, value,
         COUNT(value) OVER w AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              OVER w AS DOUBLE) AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
),
d AS (
  SELECT user_id, event_id, value, n,
         s1 / CAST(n AS DOUBLE) AS mean,
         CASE WHEN n >= 2 THEN
           SQRT(GREATEST((s2 - s1 * s1 / CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1.0), 0.0))
         END AS std
  FROM b
)
SELECT user_id, event_id, n AS trailing_n,
       ROUND(mean, 4) AS trailing_mean,
       ROUND(std, 4) AS trailing_std,
       COALESCE(ABS(value - mean) > 2.0 * std, FALSE) AS is_anomaly
FROM d
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: per-bin PSI of l_extendedprice between the
    first-half and second-half shipping periods — the accept/reject check a
    pipeline runs on each incoming batch against the reference
    distribution."""
    from ..operators import quality

    li = _t(spark, sf_dir, "lineitem")
    cut = "1996-07-01"
    ref = li.where(F.col("l_shipdate") < cut)
    cur = li.where(F.col("l_shipdate") >= cut)
    return quality.psi_drift(ref, cur, "l_extendedprice", bins=10)


SQL_PSI_DRIFT = """
WITH ref AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
  WHERE l_shipdate < TIMESTAMP '1996-07-01'
),
cur AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-07-01'
),
stats AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM ref),
rb AS (
  SELECT LEAST(9, GREATEST(0,
           CAST(FLOOR((v - mn) / ((mx - mn) / 10.0)) AS INT))) AS bin,
         COUNT(*) AS n_ref
  FROM ref CROSS JOIN stats GROUP BY 1
),
cb AS (
  SELECT LEAST(9, GREATEST(0,
           CAST(FLOOR((v - mn) / ((mx - mn) / 10.0)) AS INT))) AS bin,
         COUNT(*) AS n_cur
  FROM cur CROSS JOIN stats GROUP BY 1
),
spine AS (SELECT CAST(range AS INT) AS bin FROM range(0, 10)),
j AS (
  SELECT spine.bin,
         COALESCE(n_ref, 0) AS n_ref,
         COALESCE(n_cur, 0) AS n_cur
  FROM spine LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)
),
t AS (
  SELECT bin, n_ref, n_cur,
         n_ref / CAST(SUM(n_ref) OVER () AS DOUBLE) + 0.000001 AS p,
         n_cur / CAST(SUM(n_cur) OVER () AS DOUBLE) + 0.000001 AS q
  FROM j
)
SELECT bin, n_ref, n_cur,
       ROUND(p, 6) AS p_ref,
       ROUND(q, 6) AS p_cur,
       ROUND((p - q) * LN(p / q), 6) AS psi
FROM t
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two deterministic snapshots of orders (hand-rolled
    Change Data Feed): one full-outer join + one null-safe struct
    equality — the old/new images travel as single structs so update
    detection is atomic. Keys %7==0 exist only in the new snapshot
    (inserts), %13==0 only in the old (deletes), %11==0 have a perturbed
    price (updates); everything else drops out as unchanged."""
    from ..sources.incremental import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.where(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.round(F.col("o_totalprice") + 1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    new = orders.where(F.col("o_orderkey") % 13 != 0)
    d = snapshot_diff(old, new, ["o_orderkey"])
    return d.select(
        "o_orderkey",
        "change_type",
        F.col("old_image.o_totalprice").alias("old_price"),
        F.col("new_image.o_totalprice").alias("new_price"),
    )


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN ROUND(o_totalprice + 1, 2)
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 7 <> 0
),
new AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 13 <> 0
),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_totalprice AS old_price, n.o_totalprice AS new_price,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'update'
         END AS change_type
  FROM old o FULL OUTER JOIN new n USING (o_orderkey)
)
SELECT o_orderkey, change_type, old_price, new_price
FROM j WHERE change_type IS NOT NULL
"""


def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori pruned market-basket pairs: suppliers co-occurring in ≥ 25
    orders. The broadcast semi-join of frequent items bounds the basket
    self-join to the frequent head — the VLDB'94 pruning that keeps pair
    mining linear in the long tail."""
    li = _t(spark, sf_dir, "lineitem")
    return skew.frequent_pairs(
        li, "l_orderkey", "l_suppkey", min_support=25
    ).select(
        F.col("item_a").cast("long").alias("supp_a"),
        F.col("item_b").cast("long").alias("supp_b"),
        "pair_count",
    )


SQL_FREQUENT_PAIRS = """
WITH base AS (
  SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem
),
freq AS (
  SELECT i FROM base GROUP BY i HAVING COUNT(*) >= 25
),
pruned AS (
  SELECT b, i FROM base WHERE i IN (SELECT i FROM freq)
)
SELECT x.i AS supp_a, y.i AS supp_b, COUNT(*) AS pair_count
FROM pruned x JOIN pruned y ON x.b = y.b AND x.i < y.i
GROUP BY 1, 2
HAVING COUNT(*) >= 25
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. NeurIPS'23): hashed-bigram bag
    likelihood ratio of the English slice (target) vs the rest (raw) —
    the data-mixing signal for importance resampling. md5 bucket hashing
    keeps the computation ANSI-SQL-replicable; fixed 1024-bucket feature
    domain caps cardinality at any corpus size. Rounded to 4dp (the
    weight is an order-insensitive sum of a few hundred doubles)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.dsir_importance_weights(
        docs, F.col("lang") == "en", round_to=4
    )


SQL_DSIR_WEIGHTS = r"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS tgt,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, tgt,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM tok
),
b AS (
  SELECT doc_id, tgt,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1024 AS bucket
  FROM grams
),
totals AS (
  SELECT bucket,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t,
         SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS c_r
  FROM b GROUP BY bucket
),
ratios AS (
  SELECT bucket,
         LN((c_t + 1.0) / (SUM(c_t) OVER () + 1024.0))
         - LN((c_r + 1.0) / (SUM(c_r) OVER () + 1024.0)) AS log_ratio
  FROM totals
),
doc_counts AS (
  SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2
),
w AS (
  SELECT doc_id, ROUND(SUM(c * log_ratio), 4) + 0.0 AS dsir_weight
  FROM doc_counts JOIN ratios USING (bucket)
  GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(w.dsir_weight, 0.0) AS dsir_weight
FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
"""


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's selection step: Gumbel-top-k resampling over the importance
    weights — k=100 docs drawn without replacement ∝ exp(weight), via
    deterministic hash-derived Gumbel noise (no RNG: reproducible at any
    partitioning, and the draw is a TakeOrderedAndProject top-k, not a
    full sort)."""
    docs = _t(spark, sf_dir, "documents")
    w = textstats.dsir_importance_weights(docs, F.col("lang") == "en", round_to=4)
    return textstats.gumbel_topk_resample(w, "dsir_weight", k=100).select(
        "doc_id", "dsir_weight", "resample_score"
    )


SQL_DSIR_RESAMPLE = f"""
WITH w AS ({SQL_DSIR_WEIGHTS}),
scored AS (
  SELECT doc_id, dsir_weight,
         ROUND(dsir_weight / 1.0
               + (-LN(-LN(
                   ((CAST(('0x' || substr(md5('42' || '#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 9007199254740992) + 0.5) / 9007199254740992.0
                 ))), 6) AS resample_score
  FROM w
)
SELECT doc_id, dsir_weight, resample_score
FROM scored
ORDER BY resample_score DESC, doc_id ASC
LIMIT 100
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the supplier co-occurrence graph (edge =
    two suppliers sharing an order) via degree-ordered orientation — the
    wedge join generates from the low-degree endpoint, bounding the
    quadratic step at O(m^1.5) regardless of hub suppliers. The graph is
    a deterministic 5%-of-orders slice: at sf0.1 the UNfiltered
    co-occurrence graph saturates into a near-complete K1000 (every
    supplier pair eventually shares an order — a fixture artifact, not a
    real-world shape), which no triangle algorithm escapes; the slice
    keeps realistic sparsity at every sf. Oracle is the brute-force
    a<b<c triple join in DuckDB."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    a = li.alias("x")
    b = li.alias("y")
    edges = (
        a.join(b, F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .where(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").cast("string").alias("src"),
            F.col("y.l_suppkey").cast("string").alias("dst"),
        )
        .distinct()
    )
    return graph.triangle_count(edges)


SQL_TRIANGLE_COUNT = """
WITH edges AS (
  SELECT DISTINCT CAST(x.l_suppkey AS VARCHAR) AS a,
                  CAST(y.l_suppkey AS VARCHAR) AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_suppkey < y.l_suppkey AND x.l_orderkey % 20 = 0
),
und AS (
  SELECT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM edges
)
SELECT COUNT(*) AS n_triangles
FROM und e1
JOIN und e2 ON e1.b = e2.a
JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
"""


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-50-row Pearson correlation between event value and
    event time (drift-of-value-with-time detector): one shuffle on
    user_id, bounded ROWS frame so WindowExec streams without
    materializing partitions. Emitted only where the frame holds ≥ 10
    rows — below that both engines' corr edge cases (single point,
    zero variance) diverge in representation, not meaning."""
    evdf = ev.ensure_event_time(_t(spark, sf_dir, "events"))
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")), F.col("event_id"))
        .rowsBetween(-49, 0)
    )
    t_sec = F.unix_micros(F.col("ts")).cast("double") / 1e6
    return evdf.select(
        "user_id",
        "event_id",
        F.when(
            F.count("value").over(w) >= 10,
            # + 0.0 collapses IEEE negative zero so both engines emit +0
            F.round(F.corr(F.col("value"), t_sec).over(w), 4) + F.lit(0.0),
        ).alias("corr_value_time"),
    )


SQL_ROLLING_CORR = """
SELECT user_id, event_id,
       CASE WHEN COUNT(value) OVER w >= 10 THEN
         ROUND(corr(value, epoch_us(ts) / 1000000.0) OVER w, 4) + 0.0
       END AS corr_value_time
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 tokens via two-pass heavy hitters: per-partition
    mergeable Misra-Gries candidates (bounded memory, no full-domain
    shuffle) + broadcast-semi-join exact recount, provably exact at this
    capacity (strict post-hoc support check). Oracle is the brute-force
    full groupBy — results must be identical."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(textstats.tokens("text")).alias("token"))
    return skew.heavy_hitters_exact(toks, "token", k=10, capacity=256)


SQL_HEAVY_HITTERS = r"""
SELECT token, cnt, rank FROM (
  SELECT token, COUNT(*) AS cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS BIGINT)
           AS rank
  FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
    FROM documents
  ) WHERE token <> ''
  GROUP BY token
) WHERE rank <= 10
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication: k-means clusters bound the
    candidate join (Σ|cluster|² pairs, never n²), within-cluster cosine ≥
    0.95 drops all but the min-id member of each near-dup group.

    Exact duplicates of vec_ids 0-2 are planted at +100000. Oracle-verified
    against brute-force all-pairs cosine in DuckDB: identical vectors get
    identical centroid assignments (the same deterministic expression), so
    cluster-bounded recall for the planted pairs is 1 BY CONSTRUCTION, and
    no other pair on this corpus reaches 0.95 (max pairwise ≈ 0.46)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    planted = emb.where(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    kept = similarity.semantic_dedup(
        emb.unionByName(planted), k=8, threshold=0.95
    )
    return kept.select("vec_id", "label")


SQL_SEMANTIC_DEDUP = """
WITH all_vecs AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id < 3
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.embedding, b.embedding) /
          (sqrt(list_dot_product(a.embedding, a.embedding)) *
           sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.95
)
SELECT vec_id, label FROM all_vecs
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


# --------------------------------------------------------------------------
# time-series family (operators/timeseries.py)
# --------------------------------------------------------------------------


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type resampling onto a regular grid: one
    partial-aggregated shuffle (map-side combine), pure-expression bucket.
    decimal(18,6) mean so the result is association-order independent."""
    evdf = ev.ensure_event_time(_t(spark, sf_dir, "events"))
    return timeseries.resample(
        evdf, step_seconds=3600, keys=["event_type"]
    ).select("event_type", "bucket", "n_events", "avg_value")


SQL_EVENTS_RESAMPLE = """
SELECT event_type,
       CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS bucket,
       COUNT(*) AS n_events,
       CAST(ROUND(AVG(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS avg_value
FROM events
GROUP BY 1, 2
"""


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily grid per (small-id) user with last-observation-carried-
    forward fill. Spine from a one-row-per-key bounds agg + map-side
    sequence/explode; fill via a bounded-preceding window on the same key
    partitioning as the spine join."""
    evdf = ev.ensure_event_time(
        _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    )
    res = timeseries.resample(evdf, step_seconds=86400, keys=["user_id"])
    return timeseries.gap_fill(
        res, ["user_id"], step_seconds=86400, method="locf"
    ).select("user_id", "bucket", "avg_value", "is_filled")


SQL_EVENTS_GAP_FILL = """
WITH res AS (
  SELECT user_id,
         CAST(to_timestamp(floor(epoch(ts) / 86400) * 86400) AS TIMESTAMP) AS bucket,
         CAST(ROUND(AVG(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS avg_value
  FROM events WHERE user_id < 20
  GROUP BY 1, 2
),
spine AS (
  SELECT user_id, unnest(generate_series(min(bucket), max(bucket),
                                         INTERVAL 1 DAY)) AS bucket
  FROM res GROUP BY user_id
)
SELECT s.user_id, s.bucket,
       last_value(r.avg_value IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
       r.avg_value IS NULL AS is_filled
FROM spine s LEFT JOIN res r USING (user_id, bucket)
"""


def q_events_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across interior gaps of the per-user daily
    grid; neighbours carried as single structs so value/position stay
    paired. The spine spans min..max observed, so every hole has both
    neighbours by construction."""
    evdf = ev.ensure_event_time(
        _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    )
    res = timeseries.resample(evdf, step_seconds=86400, keys=["user_id"])
    return timeseries.gap_fill(
        res, ["user_id"], step_seconds=86400, method="linear"
    ).select("user_id", "bucket", "avg_value", "is_filled")


SQL_EVENTS_GAP_FILL_INTERP = """
WITH res AS (
  SELECT user_id,
         CAST(to_timestamp(floor(epoch(ts) / 86400) * 86400) AS TIMESTAMP) AS bucket,
         CAST(ROUND(AVG(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS avg_value
  FROM events WHERE user_id < 20
  GROUP BY 1, 2
),
spine AS (
  SELECT user_id, unnest(generate_series(min(bucket), max(bucket),
                                         INTERVAL 1 DAY)) AS bucket
  FROM res GROUP BY user_id
),
dense AS (
  SELECT s.user_id, s.bucket, r.avg_value,
         last_value((CASE WHEN r.avg_value IS NOT NULL THEN
             {'v': r.avg_value, 't': epoch(s.bucket)} END) IGNORE NULLS)
           OVER (PARTITION BY s.user_id ORDER BY s.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         first_value((CASE WHEN r.avg_value IS NOT NULL THEN
             {'v': r.avg_value, 't': epoch(s.bucket)} END) IGNORE NULLS)
           OVER (PARTITION BY s.user_id ORDER BY s.bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM spine s LEFT JOIN res r USING (user_id, bucket)
)
SELECT user_id, bucket,
       COALESCE(avg_value,
                ROUND(prev.v + (nxt.v - prev.v)
                      * (epoch(bucket) - prev.t) / (nxt.t - prev.t)
                      + 1e-9, 4))
         AS avg_value,
       avg_value IS NULL AS is_filled
FROM dense
"""


def q_events_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands per user (6-hour tolerance): lag-flag + running
    sum, one shuffle on user_id; island membership depends only on the
    timestamp multiset so the result is partitioning-deterministic."""
    evdf = ev.ensure_event_time(_t(spark, sf_dir, "events"))
    return timeseries.islands(evdf, ["user_id"], max_gap_seconds=21600).select(
        "user_id", "island_id", "island_start", "island_end", "n_events", "sum_value"
    )


SQL_EVENTS_ISLANDS = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
              THEN 1 ELSE 0 END AS new_island
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
),
tagged AS (
  SELECT user_id, ts, value,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
)
SELECT user_id, island_id,
       MIN(ts) AS island_start,
       MAX(ts) AS island_end,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM tagged
GROUP BY 1, 2
"""


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — windowed
    COUNT(DISTINCT) via bounded fan-out: each (user, day) pair explodes
    to the ≤7 report days it serves, then one count-distinct aggregate.
    No engine supports DISTINCT in window frames; this is the one-pass
    shape that replaces a per-day correlated rescan."""
    evdf = ev.ensure_event_time(_t(spark, sf_dir, "events"))
    return timeseries.trailing_distinct_count(
        evdf, window_days=7
    ).select("report_day", "active_entities")


SQL_ROLLING_ACTIVE_USERS = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
  FROM events
),
observed AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events
)
SELECT o.d AS report_day,
       (SELECT COUNT(DISTINCT a.user_id) FROM active a
        WHERE a.d <= o.d AND a.d > o.d - INTERVAL 7 DAY) AS active_entities
FROM observed o
"""


def q_events_trailing_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-25-row median per user. Spark rejects median() with
    a window FRAME (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the
    frame's values are collected per row (bounded: ≤ 25 doubles),
    sorted, and the middle element(s) read out — exact, deterministic
    (frame ordered on the unique (event-time, event_id) pair), and the
    state per row is capped by the frame length, not the partition."""
    evdf = ev.ensure_event_time(_t(spark, sf_dir, "events"))
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")), F.col("event_id"))
        .rowsBetween(-24, 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    return evdf.select(
        "user_id",
        "event_id",
        F.round((mid_lo + mid_hi) / 2.0, 6).alias("trailing_median"),
    )


SQL_EVENTS_TRAILING_MEDIAN = """
SELECT user_id, event_id,
       ROUND(median(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 6) AS trailing_median
FROM events
"""


def q_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent l_returnflag per order
    priority, ties broken to the lexicographically smallest value —
    count-then-min_by(struct), never the engine's tie-arbitrary mode()."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    counts = joined.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count(F.lit(1)).alias("n")
    )
    # struct ordering: highest n wins; ties -> smallest flag (invert
    # count sign so one min_by expresses "max count, then min value")
    return counts.groupBy("o_orderpriority").agg(
        F.min_by(
            "l_returnflag", F.struct((-F.col("n")).alias("neg"), F.col("l_returnflag"))
        ).alias("mode_flag"),
        F.max("n").alias("mode_count"),
    )


SQL_MODE_BY_GROUP = """
WITH counts AS (
  SELECT o_orderpriority, l_returnflag, COUNT(*) AS n
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT o_orderpriority, l_returnflag, n,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY n DESC, l_returnflag ASC) AS rn
  FROM counts
)
SELECT o_orderpriority, l_returnflag AS mode_flag, n AS mode_count
FROM ranked WHERE rn = 1
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key compaction as a max_by(struct) aggregate —
    map-side partial reduction to one candidate per key, no full-sort
    window. Tie on ts breaks by unique event_id."""
    evdf = ev.ensure_event_time(_t(spark, sf_dir, "events"))
    return timeseries.latest_by_key(
        evdf.select("user_id", "ts", "event_id", "event_type", "value"),
        ["user_id"],
        tiebreak_col="event_id",
    ).select("user_id", "event_id", "event_type", "ts", "value")


SQL_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id, event_type, ts, value
FROM (
  SELECT user_id, event_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window EWMA per user (timeseries.ewma): 10-term
    exponentially-decayed weighted mean over (ts, event_id)-ordered
    values — the windowed form that stays inside codegen instead of a
    sequential recurrence. Weights are literal doubles on both sides (no
    libm pow parity risk); oracle replicates with a window list
    aggregate."""
    from ..operators.timeseries import ewma

    evdf = _t(spark, sf_dir, "events")
    return ewma(
        evdf, "ts", "value", ["user_id"], alpha=0.3, window_n=10,
        order_tiebreak=["event_id"],
    ).select("user_id", "event_id", "ewma")


def _ewma_oracle_sql(alpha: float = 0.3, window_n: int = 10) -> str:
    wlits = "[" + ", ".join(repr((1.0 - alpha) ** kk) for kk in range(window_n)) + "]"
    return f"""
WITH b AS (
  SELECT user_id, event_id,
         list(value) FILTER (WHERE value IS NOT NULL)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {window_n - 1} PRECEDING AND CURRENT ROW) AS arr
  FROM events
)
SELECT user_id, event_id,
       ROUND(
         list_sum(list_transform(range(1, len(arr) + 1),
             j -> arr[j] * ({wlits})[len(arr) - j + 1]))
         / list_sum(list_transform(range(1, len(arr) + 1),
             j -> ({wlits})[len(arr) - j + 1]))
         + 1e-9, 4) AS ewma
FROM b
"""


SQL_EVENTS_EWMA = _ewma_oracle_sql()


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier flags per event type (quality.mad_outliers):
    exact group median + median absolute deviation, flag beyond
    3·1.4826·MAD — the heavy-tail-safe alternative to z-scores. Oracle
    replicates with DuckDB's interpolated quantile_cont(0.5)."""
    from ..operators.quality import mad_outliers

    evdf = _t(spark, sf_dir, "events")
    return mad_outliers(evdf, "value", ["event_type"], k=3.0).select(
        "event_id", "event_type", "group_median", "group_mad", "is_outlier"
    )


SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, med.m,
         abs(e.value - med.m) AS adev
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS md
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type,
       ROUND(d.m + 1e-9, 6) AS group_median,
       ROUND(mad.md + 1e-9, 6) AS group_mad,
       CASE WHEN mad.md > 0 THEN d.adev > 3.0 * 1.4826 * mad.md
            ELSE d.adev > 0 END AS is_outlier
FROM dev d JOIN mad USING (event_type)
"""


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 4-gram type/token diversity (textstats.ngram_diversity):
    distinct windows over total windows, pure array expressions, zero
    shuffles. Oracle recomputes with string windows in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.ngram_diversity(docs, n=4).select(
        "doc_id", "n_ngrams", "distinct_ngrams", "ngram_diversity"
    )


SQL_NGRAM_DIVERSITY = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4 THEN
           list_transform(range(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         ELSE [] END AS grams
  FROM tok
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_ngrams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_ngrams,
       CASE WHEN len(grams) > 0
            THEN ROUND(CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                       + 1e-9, 4) END AS ngram_diversity
FROM g
"""


def q_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions per customer segment:
    percent_rank and cume_dist of account balances — identical engine
    semantics, 6dp."""
    from pyspark.sql.window import Window as W

    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey", "c_mktsegment",
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w) + F.lit(1e-9), 6).alias("cume"),
    )


SQL_PERCENT_RANK_CUME = """
SELECT c_custkey, c_mktsegment,
       ROUND(percent_rank() OVER w + 1e-9, 6) AS pct_rank,
       ROUND(cume_dist() OVER w + 1e-9, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
"""


def q_group_concat_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG: per region, the sorted comma-joined nation
    list — collect_list is order-nondeterministic, so the engine-portable
    form sorts INSIDE the aggregate result before joining (Spark
    array_sort; DuckDB string_agg ORDER BY)."""
    nation = _t(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        F.count("*").cast("long").alias("n"),
    )


SQL_GROUP_CONCAT_SORTED = """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nation
GROUP BY n_regionkey
"""


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/aggstate): per-custkey
    order stats kept current by MERGING a new batch's mergeable state
    (count/decimal-sum/min/max monoids) into the history's state — no
    re-scan of history. The merged+finalized result must equal the full
    recompute, which is exactly what the oracle does."""
    from ..operators import aggstate

    orders = _t(spark, sf_dir, "orders")
    hist = orders.where(F.col("o_orderkey") % 2 == 0)
    batch = orders.where(F.col("o_orderkey") % 2 == 1)
    s1 = aggstate.agg_state(hist, ["o_custkey"], "o_totalprice", with_hll=False)
    s2 = aggstate.agg_state(batch, ["o_custkey"], "o_totalprice", with_hll=False)
    merged = aggstate.merge_agg_states(s1, s2, ["o_custkey"])
    return aggstate.finalize_state(merged, ["o_custkey"]).select(
        "o_custkey", "n", "sum_v", "min_v", "max_v", "avg_v"
    )


SQL_INCREMENTAL_AGG_MERGE = """
SELECT o_custkey,
       CAST(COUNT(o_totalprice) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_v,
       MIN(o_totalprice) AS min_v,
       MAX(o_totalprice) AS max_v,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o_totalprice) + 1e-9, 6) AS avg_v
FROM orders
GROUP BY o_custkey
"""


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SUBWORD token counts under the fixed BYTE-LEVEL BPE
    merge table (operators/bpe.py MERGES_DOCS_BYTES_V1; VERDICT r05 item
    #3) — GPT-2-style pre-split (letter/digit/punct runs, leading-space
    convention, whitespace-run tokens) + byte-symbol alphabet, so no
    pre-token is ever OOV. Spark side: regex pre-split → explode →
    DISTINCT vocab byte-mapped + encoded once in a pandas UDF → broadcast
    join → per-doc sum (Python cost is O(|vocab|), corpus-proportional
    work stays JVM-side). Oracle: the same independent recursive-CTE BPE
    encoder in DuckDB, now seeded from byte-mapped chars — merge the
    leftmost occurrence of the lowest-rank applicable pair until no merge
    applies (provably equivalent to the GPT-2 merge-all loop; see
    operators/bpe.py module docstring)."""
    from ..operators import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_token_counts(docs, bpe.MERGES_DOCS_BYTES_V1, byte_level=True)


def _bpe_merge_map_sql() -> str:
    """The fixed byte-level merge table as a DuckDB MAP literal: key =
    left||chr(1)||right, value = rank. chr(1) can't collide: byte-level
    symbols are printable by construction (bytes_to_unicode maps every
    byte to a printable codepoint)."""
    from ..operators.bpe import MERGES_DOCS_BYTES_V1

    def esc(s: str) -> str:
        return s.replace("'", "''")

    keys = ", ".join(
        f"'{esc(left)}' || chr(1) || '{esc(right)}'"
        for left, right in MERGES_DOCS_BYTES_V1
    )
    ranks = ", ".join(str(i) for i in range(len(MERGES_DOCS_BYTES_V1)))
    return f"MAP([{keys}], [{ranks}])"


def _b2u_charmap_sql() -> str:
    """GPT-2 bytes_to_unicode as a DuckDB MAP literal over the ASCII
    range (chr(1)..chr(127); DuckDB strings cannot hold NUL, and the
    fixtures are ASCII — the Spark path handles full unicode via real
    utf-8 byte fallback)."""
    from ..operators.bpe import bytes_to_unicode

    b2u = bytes_to_unicode()
    keys = ", ".join(f"chr({i})" for i in range(1, 128))
    vals = ", ".join(
        "'" + b2u[i].replace("'", "''") + "'" for i in range(1, 128)
    )
    return f"MAP([{keys}], [{vals}])"


#: the GPT-2-style pre-split regex as a SQL string literal (RE2-safe —
#: see operators/bpe.py GPT2_PRETOK_RE for the verified Java/RE2 parity)
def _gpt2_re_sql() -> str:
    # plain (non-E) DuckDB string literal: backslashes pass through
    # verbatim, only quotes need doubling
    from ..operators.bpe import GPT2_PRETOK_RE

    return "'" + GPT2_PRETOK_RE.replace("'", "''") + "'"


_SQL_BPE_WORD_TOK_CTES = f"""
words AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, {_gpt2_re_sql()})) AS w
    FROM documents) t
  WHERE w IS NOT NULL AND w <> ''
),
vocab AS MATERIALIZED (SELECT DISTINCT w FROM words),
enc AS (
  SELECT w,
         list_transform(regexp_extract_all(w, '.'),
                        c -> {_b2u_charmap_sql()}[c][1]) AS toks
  FROM vocab
  UNION ALL
  SELECT w,
         toks[1:best.i-1] || [toks[best.i] || toks[best.i+1]] || toks[best.i+2:]
  FROM (
    SELECT w, toks,
      list_sort(list_filter(
        list_transform(range(1, len(toks)),
          i -> {{'r': {_bpe_merge_map_sql()}[toks[i] || chr(1) || toks[i+1]][1],
                'i': i}}),
        x -> x.r IS NOT NULL))[1] AS best
    FROM enc) s
  WHERE best IS NOT NULL
),
word_tok AS MATERIALIZED (
  SELECT w, MIN(len(toks)) AS n_tok FROM enc GROUP BY w
)
"""

SQL_BPE_TOKEN_COUNTS = f"""
WITH RECURSIVE
{_SQL_BPE_WORD_TOK_CTES},
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM words JOIN word_tok USING (w)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-ID encoding (bpe.bpe_encode_ids) — the artifact a training
    pipeline materializes: GPT-2-layout vocab (ids 0..255 = byte
    alphabet, 256+rank = merge products) applied per document, long-form
    (doc_id, pos, token_id). Oracle: the same recursive-CTE encoder's
    FINAL token list per pre-token (unique minimal length), positional
    zip-unnest reassembly, and a literal token→id map."""
    from ..operators import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_encode_ids(docs, bpe.MERGES_DOCS_BYTES_V1)


def _bpe_id_map_sql() -> str:
    """token→id MAP literal: ASCII byte alphabet (keyed by its MAPPED
    char — e.g. 'Ġ'→32) + merge products at 256+rank."""
    from ..operators.bpe import MERGES_DOCS_BYTES_V1, bytes_to_unicode

    b2u = bytes_to_unicode()

    def esc(s: str) -> str:
        return s.replace("'", "''")

    items = [(b2u[i], i) for i in range(1, 128)] + [
        (left + right, 256 + k)
        for k, (left, right) in enumerate(MERGES_DOCS_BYTES_V1)
    ]
    keys = ", ".join(f"'{esc(t)}'" for t, _ in items)
    vals = ", ".join(str(i) for _, i in items)
    return f"MAP([{keys}], [{vals}])"


SQL_BPE_ENCODE_IDS = f"""
WITH RECURSIVE
{_SQL_BPE_WORD_TOK_CTES},
final_toks AS MATERIALIZED (
  SELECT w, toks FROM (
    SELECT w, toks,
           row_number() OVER (PARTITION BY w ORDER BY len(toks) ASC) AS rn
    FROM enc)
  WHERE rn = 1
),
dw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, {_gpt2_re_sql()})) AS w,
         unnest(range(1, len(regexp_extract_all(text, {_gpt2_re_sql()})) + 1)) AS wpos
  FROM documents
),
tr AS (
  SELECT dw.doc_id, dw.wpos,
         unnest(ft.toks) AS tok,
         unnest(range(1, len(ft.toks) + 1)) AS tpos
  FROM dw JOIN final_toks ft USING (w)
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1
            AS INT) AS pos,
       CAST({_bpe_id_map_sql()}[tok][1] AS INT) AS token_id
FROM tr
"""


def q_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing budgeted by REAL subword tokens (VERDICT r3 item
    1's "packing accepting the real counts"): BPE token counts feed
    packing.chunk_pack via its token_col parameter, then the per-pack
    roll-up. Same single shard-key shuffle as sequence_packing."""
    from ..operators import bpe, packing

    docs = _t(spark, sf_dir, "documents")
    counted = bpe.bpe_token_counts(
        docs, bpe.MERGES_DOCS_BYTES_V1, byte_level=True
    ).join(docs.select("doc_id", "source"), "doc_id")
    packed = packing.chunk_pack(counted, budget=512)
    return packing.pack_summary(packed, budget=512)


SQL_BPE_PACKING = f"""
WITH RECURSIVE
{_SQL_BPE_WORD_TOK_CTES},
counted AS (
  SELECT d.doc_id, d.source,
         CAST(COALESCE(SUM(wt.n_tok), 0) AS BIGINT) AS n_tokens
  FROM documents d
  LEFT JOIN words w ON d.doc_id = w.doc_id
  LEFT JOIN word_tok wt ON w.w = wt.w
  GROUP BY d.doc_id, d.source
),
packed AS (
  SELECT source, n_tokens,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
           AS BIGINT) AS pack_id
  FROM counted
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(n_tokens) / 512.0, 4) AS fill_ratio
FROM packed
GROUP BY source, pack_id
"""


def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality-classifier scoring (CCNet/DCLM-style distillation)
    with FIXED weights (operators/classifier.py WEIGHTS_QUALITY_V1 —
    deterministic full-batch logreg over hashed BOW + log-length +
    diversity, seed labels = heuristic quality_score >= 0.75). The scoring
    pass is pure column expressions (portable md5 hash buckets, literal
    weight array, decimal-summed contributions) — the oracle replays the
    identical arithmetic in SQL."""
    from ..operators import classifier

    docs = _t(spark, sf_dir, "documents")
    return classifier.classifier_scores(docs, classifier.WEIGHTS_QUALITY_V1)


def _clf_weights_sql() -> str:
    from ..operators.classifier import WEIGHTS_QUALITY_V1

    return "[" + ", ".join(repr(w) for w in WEIGHTS_QUALITY_V1) + "]"


SQL_QUALITY_CLASSIFIER_SCORES = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x IS NOT NULL AND x <> '') AS toks
  FROM documents
),
sized AS MATERIALIZED (
  SELECT doc_id, toks,
         CAST(len(toks) AS DOUBLE) AS nw,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
  FROM base
),
bow AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS INT) AS idx,
         CAST(COUNT(*) AS DOUBLE) / nw AS value
  FROM (SELECT doc_id, nw, unnest(toks) AS w FROM sized) t
  GROUP BY doc_id, nw, idx
),
dense AS (
  SELECT doc_id, 256 AS idx, ROUND(LN(nw + 1.0) + 1e-9, 6) AS value
  FROM sized WHERE nw > 0
  UNION ALL
  SELECT doc_id, 257, nd / nw FROM sized WHERE nw > 0
  UNION ALL
  SELECT doc_id, 258, 1.0 FROM sized
),
wt AS MATERIALIZED (SELECT {_clf_weights_sql()} AS w),
z AS MATERIALIZED (
  SELECT doc_id,
         CAST(SUM(CAST(ROUND(value * w[idx + 1], 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS z
  FROM (SELECT * FROM bow UNION ALL SELECT * FROM dense) f CROSS JOIN wt
  GROUP BY doc_id
)
SELECT d.doc_id,
       ROUND(1.0 / (1.0 + EXP(-ROUND(z.z, 6))) + 1e-9, 6) AS clf_score
FROM documents d JOIN z USING (doc_id)
"""


def _mov_payload_expr() -> str:
    """MJPEG-in-MOV fixtures (multimodal.build_mjpeg_mov) keyed on
    c_custkey: 2+k%3 solid-gray frames of color (32/96/160/224)[k%4];
    k%5==0 rows are garbage bytes; k%7==0 rows get their stsd fourcc
    flipped to 'avc1' — a REAL sample table whose codec is inter-frame,
    proving the honest codec-unsupported row."""
    from ..operators.multimodal import build_mjpeg_mov, encode_jpeg_solid_gray

    colors = [32, 96, 160, 224]
    cases = []
    for nmod in range(3):
        for cmod in range(4):
            mov = build_mjpeg_mov(
                [encode_jpeg_solid_gray(colors[cmod])] * (2 + nmod), fps=25
            )
            avc = mov.replace(b"\x00\x00\x00\x56jpeg", b"\x00\x00\x00\x56avc1")
            cases.append(
                f"WHEN c_custkey % 7 = 0 AND c_custkey % 3 = {nmod} "
                f"AND c_custkey % 4 = {cmod} THEN unhex('{avc.hex()}')"
            )
            cases.append(
                f"WHEN c_custkey % 3 = {nmod} AND c_custkey % 4 = {cmod} "
                f"THEN unhex('{mov.hex()}')"
            )
    return (
        "CASE WHEN c_custkey % 5 = 0 THEN encode('not a video', 'utf-8') "
        + " ".join(cases)
        + " END"
    )


_MOV_PAYLOAD_EXPR = _mov_payload_expr()


def q_video_mov_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-in-MP4/MOV FRAME decode (VERDICT r3 item 3): the ISO-BMFF
    sample-table walk (multimodal._mp4_video_sample_info — stsd/stts/stsc/
    stsz/stco) composes per-frame byte ranges, each decoded by the repo's
    own baseline-JPEG decoder; every 2nd frame's channel means. Payloads
    with a REAL sample table but an inter-frame fourcc (avc1) produce the
    honest decoded=false row that still reports the table's metadata —
    the NotImplementedError now covers only genuinely inter-frame codecs."""
    from ..operators.multimodal import video_frame_stats

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_MOV_PAYLOAD_EXPR).alias("payload")
    )
    return video_frame_stats(cust, "payload", every_n=2).select(
        "c_custkey", "decoded", "codec", "n_frames", "fps", "width",
        "height", "frame_index", "mean_r", "mean_g", "mean_b",
    )


SQL_VIDEO_MOV_FRAME_STATS = """
WITH params AS (
  SELECT c_custkey,
         c_custkey % 5 = 0 AS bad,
         c_custkey % 5 <> 0 AND c_custkey % 7 = 0 AS interframe,
         CAST(2 + c_custkey % 3 AS INT) AS n,
         CASE c_custkey % 4 WHEN 0 THEN 32 WHEN 1 THEN 96
                            WHEN 2 THEN 160 ELSE 224 END AS v
  FROM customer WHERE c_custkey < 400
),
expanded AS (
  SELECT c_custkey, bad, interframe, n, v,
         unnest(CASE WHEN bad OR interframe THEN [CAST(NULL AS INT)]
                     ELSE CAST(range(0, n, 2) AS INT[]) END) AS fi
  FROM params
)
SELECT c_custkey,
       NOT bad AND NOT interframe AS decoded,
       CASE WHEN interframe THEN 'avc1'
            WHEN NOT bad THEN 'jpeg' END AS codec,
       CASE WHEN NOT bad THEN n END AS n_frames,
       CASE WHEN NOT bad THEN 25.0 END AS fps,
       CASE WHEN NOT bad THEN 8 END AS width,
       CASE WHEN NOT bad THEN 8 END AS height,
       fi AS frame_index,
       CASE WHEN NOT bad AND NOT interframe THEN CAST(v AS DOUBLE) END AS mean_r,
       CASE WHEN NOT bad AND NOT interframe THEN CAST(v AS DOUBLE) END AS mean_g,
       CASE WHEN NOT bad AND NOT interframe THEN CAST(v AS DOUBLE) END AS mean_b
FROM expanded
"""


def q_bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-proportional stage of BPE TRAINING (operators/bpe.py
    word_counts): one distributed word-frequency shuffle; the driver-side
    merge loop consumes exactly this table."""
    from ..operators import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.word_counts(docs, byte_level=True).select(
        "word", F.col("cnt").cast("long").alias("cnt")
    )


SQL_BPE_WORD_COUNTS = f"""
SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(regexp_extract_all(text, {_gpt2_re_sql()})) AS w
  FROM documents
) t
WHERE w IS NOT NULL AND w <> ''
GROUP BY w
"""


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY report (subword tokens per pre-token, the
    standard tokenizer-quality metric) per source shard, under the fixed
    byte-level merge table — rides on bpe_token_counts, one extra
    aggregate. n_words counts GPT-2 pre-tokens (whitespace runs are real
    tokens in the byte-level scheme)."""
    from ..operators import bpe

    docs = _t(spark, sf_dir, "documents")
    counted = bpe.bpe_token_counts(
        docs, bpe.MERGES_DOCS_BYTES_V1, byte_level=True
    ).join(docs.select("doc_id", "source"), "doc_id")
    return counted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.round(
            F.sum("n_tokens") / F.sum("n_words") + F.lit(1e-9), 6
        ).alias("fertility"),
    )


SQL_BPE_FERTILITY = f"""
WITH RECURSIVE
{_SQL_BPE_WORD_TOK_CTES},
counted AS (
  SELECT d.doc_id, d.source,
         CAST(COUNT(w.w) AS BIGINT) AS n_words,
         CAST(COALESCE(SUM(wt.n_tok), 0) AS BIGINT) AS n_tokens
  FROM documents d
  LEFT JOIN words w ON d.doc_id = w.doc_id
  LEFT JOIN word_tok wt ON w.w = wt.w
  GROUP BY d.doc_id, d.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS sum_words,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words) + 1e-9, 6)
         AS fertility
FROM counted
GROUP BY source
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixing weights (packing.
    temperature_mixture_weights, alpha=0.5 — the mC4/XLM-R upsampling
    form): w_s = sqrt(tokens_s) / SUM sqrt(tokens_t). SQRT is IEEE
    correctly-rounded, so the oracle replays it bit-exactly; the
    normalizer decimal-sums 6dp-rounded powers."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents")
    return packing.temperature_mixture_weights(docs, alpha=0.5)


SQL_MIXTURE_WEIGHTS = """
WITH counted AS (
  SELECT source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')), 0)
           AS BIGINT) AS n_tokens
  FROM documents
),
per_src AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM counted
  GROUP BY source
),
powed AS (
  SELECT source, n_tokens,
         ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS p
  FROM per_src
)
SELECT source, n_tokens,
       ROUND(p / CAST(SUM(CAST(p AS DECIMAL(28,6))) OVER () AS DOUBLE)
             + 1e-9, 6) AS weight
FROM powed
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / MERGE-INTO compaction (star.apply_changelog): an I/U/D
    changelog with two competing changes per touched key merges into the
    snapshot, last writer by (ts, seq) wins, 'D' removes the key, changes
    on absent keys insert. One union + one key window — the relational
    MERGE plan, no table format needed."""
    from ..operators import star

    orders = _t(spark, sf_dir, "orders")
    snap = orders.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    touched = orders.where(F.col("o_orderkey") % 3 == 0)
    chg1 = touched.select(
        "o_orderkey",
        F.lit("C1").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(1).alias("seq"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    # a second, later change for half the touched keys: supersedes chg1
    chg2 = touched.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("C2").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 3, 2).alias("o_totalprice"),
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    return star.apply_changelog(
        snap, chg1.unionByName(chg2), "o_orderkey", seq_col="seq"
    )


SQL_CDC_APPLY = """
WITH snap AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(NULL AS TIMESTAMP) AS ts, 0 AS seq, 'I' AS op
  FROM orders WHERE o_orderkey % 7 <> 0
),
chg AS (
  SELECT o_orderkey, 'C1' AS o_orderstatus,
         ROUND(o_totalprice * 2, 2) AS o_totalprice,
         TIMESTAMP '2024-06-01 00:00:00' AS ts, 1 AS seq,
         CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 'C2', ROUND(o_totalprice * 3, 2),
         TIMESTAMP '2024-06-01 00:00:00', 2, 'U'
  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_orderkey
    ORDER BY ts DESC NULLS LAST, seq DESC
  ) AS rn
  FROM (SELECT * FROM snap UNION ALL SELECT * FROM chg) u
)
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def q_event_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst dedup / throttling (streaming.events.throttle_dedup): within
    (user, event_type), an event under 600 s after the previous raw event
    of that key is dropped; first event always survives. One key window."""
    evdf = ev.ensure_event_time(_t(spark, sf_dir, "events"))
    return ev.throttle_dedup(
        evdf.select("user_id", "event_type", "event_id", "ts"),
        ["user_id", "event_type"],
        min_gap_seconds=600,
        tiebreak_cols=["event_id"],
    )


SQL_EVENT_THROTTLE = """
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS gap_us
  FROM events
) t
WHERE gap_us IS NULL OR gap_us >= 600 * 1000000
"""


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic (skew.key_skew_report): per-hash-bucket row
    counts + share for the o_custkey join key over 32 virtual reducers —
    the report that decides whether a join needs salting/AQE skew
    handling. Portable md5 bucket so the report is engine-replayable."""
    from ..operators import skew

    orders = _t(spark, sf_dir, "orders")
    return skew.key_skew_report(orders, "o_custkey", buckets=32)


SQL_KEY_SKEW_REPORT = """
WITH b AS (
  SELECT CAST(CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 32 AS INT) AS bucket
  FROM orders
),
total AS (SELECT COUNT(*) AS n FROM orders)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(COUNT(*) / (SELECT CAST(n AS DOUBLE) FROM total) + 1e-9, 6)
         AS share
FROM b
GROUP BY bucket
"""


def q_bpe_encode_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL byte-level BPE token sequences (not just counts) for a 50-doc
    sample, flattened to a space-joined string so the driver's
    canonicalizer can hash them — end-to-end parity proof for
    bpe_encode's reassembly (posexplode + broadcast join + ordered
    flatten) against the recursive-CTE encoder. Unambiguous join: byte
    mapping turns every raw space into 'Ġ', so token strings never
    contain literal spaces."""
    from ..operators import bpe

    sub = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    enc = bpe.bpe_encode(sub, bpe.MERGES_DOCS_BYTES_V1, byte_level=True)
    return (
        sub.select("doc_id")
        .join(enc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.array_join("tokens", " "), F.lit("")).alias("tokens"),
        )
    )


SQL_BPE_ENCODE_SAMPLE = f"""
WITH RECURSIVE
wp AS MATERIALIZED (
  SELECT doc_id, unnest(arr) AS w, generate_subscripts(arr, 1) AS pos
  FROM (
    SELECT doc_id, regexp_extract_all(text, {_gpt2_re_sql()}) AS arr
    FROM documents WHERE doc_id < 50) t
),
words AS MATERIALIZED (
  SELECT doc_id, pos, w FROM wp WHERE w IS NOT NULL AND w <> ''
),
vocab AS MATERIALIZED (SELECT DISTINCT w FROM words),
enc AS (
  SELECT w,
         list_transform(regexp_extract_all(w, '.'),
                        c -> {_b2u_charmap_sql()}[c][1]) AS toks
  FROM vocab
  UNION ALL
  SELECT w,
         toks[1:best.i-1] || [toks[best.i] || toks[best.i+1]] || toks[best.i+2:]
  FROM (
    SELECT w, toks,
      list_sort(list_filter(
        list_transform(range(1, len(toks)),
          i -> {{'r': {_bpe_merge_map_sql()}[toks[i] || chr(1) || toks[i+1]][1],
                'i': i}}),
        x -> x.r IS NOT NULL))[1] AS best
    FROM enc) s
  WHERE best IS NOT NULL
),
word_final AS MATERIALIZED (
  SELECT w, arg_min(toks, len(toks)) AS toks FROM enc GROUP BY w
)
SELECT d.doc_id, COALESCE(sa.tokens, '') AS tokens
FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
LEFT JOIN (
  SELECT doc_id,
         string_agg(array_to_string(wf.toks, ' '), ' ' ORDER BY pos) AS tokens
  FROM words JOIN word_final wf USING (w)
  GROUP BY doc_id
) sa USING (doc_id)
"""


def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES per group (RANK, not ROW_NUMBER): every order tying
    the group's 3rd-highest total price is kept — the FETCH FIRST k ROWS
    WITH TIES semantics."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc()
    )
    return (
        orders.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


SQL_TOPK_WITH_TIES = """
SELECT o_orderpriority, o_orderkey, o_totalprice,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         RANK() OVER (
           PARTITION BY o_orderpriority ORDER BY o_totalprice DESC
         ) AS rnk
  FROM orders
) t
WHERE rnk <= 3
"""


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous BFS (graph.bfs_hops): minimum hop distance from
    two seed customers over the symmetrized customer–supplier trade graph,
    3 bounded rounds (frontier equi-join + reached anti-join per round —
    never a path enumeration, so dense bipartite graphs can't explode).
    Oracle: the same 3 levels unrolled as chained CTEs, like pagerank's
    fixed rounds."""
    from ..operators import graph

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # NO pre-dedup (round-6 re-measurement): the (cust, supp) pair table
    # is ~98% distinct already, so a dedup shuffle of the whole fact join
    # costs far more than the ~2% duplicate fanout it saves — BFS
    # correctness never depends on edge multiplicity (each round's
    # frontier dedups), so dedup_edges=False keeps the edge build
    # entirely scan-side (no shuffle before the persist).
    pairs = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_suppkey"
    )
    e = pairs.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = spark.createDataFrame([("c1",), ("c2",)], "node string")
    return graph.bfs_hops(edges, sources, max_hops=3, dedup_edges=False)


SQL_BFS_HOPS = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                  's' || CAST(l_suppkey AS VARCHAR) AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
eb AS MATERIALIZED (SELECT s, d FROM e UNION SELECT d, s FROM e),
l0 AS (SELECT node FROM (VALUES ('c1'), ('c2')) t(node)),
l1 AS MATERIALIZED (
  SELECT DISTINCT d AS node FROM eb JOIN l0 ON eb.s = l0.node
  WHERE d NOT IN (SELECT node FROM l0)
),
l2 AS MATERIALIZED (
  SELECT DISTINCT d AS node FROM eb JOIN l1 ON eb.s = l1.node
  WHERE d NOT IN (SELECT node FROM l0)
    AND d NOT IN (SELECT node FROM l1)
),
l3 AS (
  SELECT DISTINCT d AS node FROM eb JOIN l2 ON eb.s = l2.node
  WHERE d NOT IN (SELECT node FROM l0)
    AND d NOT IN (SELECT node FROM l1)
    AND d NOT IN (SELECT node FROM l2)
)
SELECT node, CAST(0 AS INT) AS hop FROM l0
UNION ALL SELECT node, CAST(1 AS INT) FROM l1
UNION ALL SELECT node, CAST(2 AS INT) FROM l2
UNION ALL SELECT node, CAST(3 AS INT) FROM l3
"""


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (textstats.normalize_unicode) — the dedup
    prerequisite: composed 'é' and decomposed 'e'+U+0301 spellings must
    hash identically. Fixture: customer names suffixed with a composed or
    decomposed accent by parity; output the normalized text, its md5, and
    whether normalization changed the string. Oracle: DuckDB's native
    nfc_normalize — an independent NFC implementation."""
    from ..operators import textstats

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    mixed = cust.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.when(F.col("c_custkey") % 2 == 0, F.lit("é"))   # U+00E9 composed
            .otherwise(F.lit("é")),                    # e + U+0301 combining
        ).alias("text"),
    )
    out = textstats.normalize_unicode(mixed, "text", "text_norm", "NFC")
    return out.select(
        "c_custkey",
        "text_norm",
        F.md5("text_norm").alias("norm_md5"),
        (F.col("text_norm") != F.col("text")).alias("changed"),
    )


SQL_UNICODE_NORMALIZE = """
WITH mixed AS (
  SELECT c_custkey,
         c_name || CASE WHEN c_custkey % 2 = 0
                        THEN chr(233)              -- composed é
                        ELSE 'e' || chr(769)       -- e + combining acute
                   END AS text
  FROM customer WHERE c_custkey < 500
)
SELECT c_custkey,
       nfc_normalize(text) AS text_norm,
       md5(nfc_normalize(text)) AS norm_md5,
       nfc_normalize(text) <> text AS changed
FROM mixed
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "flagship_pricing_summary": q_flagship_pricing_summary,
    "sql_over_views": q_sql_over_views,
    "project_distinct": q_project_distinct,
    "scan_filter_project": q_scan_filter_project,
    "select_sql_distinct": q_select_sql_distinct,
    "shipping_priority": q_shipping_priority,
    "local_supplier_volume": q_local_supplier_volume,
    "pii_redaction": q_pii_redaction,
    "quality_report": q_quality_report,
    "histogram": q_histogram,
    "string_functions": q_string_functions,
    "array_functions": q_array_functions,
    "order_priority_check": q_order_priority_check,
    "customer_distribution": q_customer_distribution,
    "dormant_rich_customers": q_dormant_rich_customers,
    "volume_shipping": q_volume_shipping,
    "market_share": q_market_share,
    "late_lines_by_priority": q_late_lines_by_priority,
    "promo_revenue": q_promo_revenue,
    "top_supplier": q_top_supplier,
    "small_qty_revenue": q_small_qty_revenue,
    "large_volume_customers": q_large_volume_customers,
    "disc_revenue_or": q_disc_revenue_or,
    "waiting_suppliers": q_waiting_suppliers,
    "forecast_revenue": q_forecast_revenue,
    "returned_items": q_returned_items,
    "tf_idf": q_tf_idf,
    "tfidf_retrieval": q_tfidf_retrieval,
    "bm25_retrieval": q_bm25_retrieval,
    "hybrid_retrieval": q_hybrid_retrieval,
    "bm25_text_search": q_bm25_text_search,
    "regr_metrics": q_regr_metrics,
    "argmax_extremes": q_argmax_extremes,
    "stratified_sample": q_stratified_sample,
    "sample_topn": q_sample_topn,
    "weighted_sample": q_weighted_sample,
    "incremental_neardup": q_incremental_neardup,
    "paragraph_dedup": q_paragraph_dedup,
    "hll_sketch_union": q_hll_sketch_union,
    "image_header_meta": q_image_header_meta,
    "pixel_stats": q_pixel_stats,
    "audio_stats": q_audio_stats,
    "video_container_meta": q_video_container_meta,
    "video_frame_stats": q_video_frame_stats,
    "image_resize_stats": q_image_resize_stats,
    "audio_features": q_audio_features,
    "interval_overlap_join": q_interval_overlap_join,
    "token_mixture": q_token_mixture,
    "capped_mixture": q_capped_mixture,
    "bpe_encode_ids": q_bpe_encode_ids,
    "neardup_decontamination": q_neardup_decontamination,
    "corpus_shuffle": q_corpus_shuffle,
    "embedding_topk_quantized": q_embedding_topk_quantized,
    "bigram_lm_scores": q_bigram_lm_scores,
    "trigram_lm_scores": q_trigram_lm_scores,
    "ks_drift": q_ks_drift,
    "chi2_drift": q_chi2_drift,
    "er_matches": q_er_matches,
    "duplicate_spans": q_duplicate_spans,
    "remove_dup_spans": q_remove_dup_spans,
    "funnel": q_funnel,
    "hash_split": q_hash_split,
    "decontamination": q_decontamination,
    "repetition_stats": q_repetition_stats,
    "incremental_neardup_indexed": q_incremental_neardup_indexed,
    "approx_percentiles": q_approx_percentiles,
    "top_tokens_per_lang": q_top_tokens_per_lang,
    "pagerank": q_pagerank,
    "pagerank_weighted": q_pagerank_weighted,
    "pagerank_personalized": q_pagerank_personalized,
    "lpa_communities": q_lpa_communities,
    "events_anomaly": q_events_anomaly,
    "psi_drift": q_psi_drift,
    "scd2_dimension": q_scd2_dimension,
    "events_trailing_window": q_events_trailing_window,
    "semantic_dedup": q_semantic_dedup,
    "bm25f_retrieval": q_bm25f_retrieval,
    "heavy_hitters": q_heavy_hitters,
    "rolling_corr": q_rolling_corr,
    "triangle_count": q_triangle_count,
    "dsir_weights": q_dsir_weights,
    "dsir_resample": q_dsir_resample,
    "frequent_pairs": q_frequent_pairs,
    "snapshot_diff": q_snapshot_diff,
    "events_resample": q_events_resample,
    "events_gap_fill": q_events_gap_fill,
    "events_gap_fill_interp": q_events_gap_fill_interp,
    "events_islands": q_events_islands,
    "latest_event_per_user": q_latest_event_per_user,
    "events_ewma": q_events_ewma,
    "mad_outliers": q_mad_outliers,
    "ngram_diversity": q_ngram_diversity,
    "incremental_agg_merge": q_incremental_agg_merge,
    "grouping_sets": q_grouping_sets,
    "percent_rank_cume": q_percent_rank_cume,
    "bpe_token_counts": q_bpe_token_counts,
    "bpe_packing": q_bpe_packing,
    "quality_classifier_scores": q_quality_classifier_scores,
    "video_mov_frame_stats": q_video_mov_frame_stats,
    "bpe_word_counts": q_bpe_word_counts,
    "bpe_fertility": q_bpe_fertility,
    "mixture_weights": q_mixture_weights,
    "cdc_apply": q_cdc_apply,
    "event_throttle": q_event_throttle,
    "key_skew_report": q_key_skew_report,
    "bpe_encode_sample": q_bpe_encode_sample,
    "topk_with_ties": q_topk_with_ties,
    "bfs_hops": q_bfs_hops,
    "unicode_normalize": q_unicode_normalize,
    "minhash_dedup_transitive": q_minhash_dedup_transitive,
    "group_concat_sorted": q_group_concat_sorted,
    "rolling_active_users": q_rolling_active_users,
    "events_trailing_median": q_events_trailing_median,
    "mode_by_group": q_mode_by_group,
    "corpus_dedup": q_corpus_dedup,
    "array_agg_sorted": q_array_agg_sorted,
    "cumulative_spend": q_cumulative_spend,
    "posexplode_tokens": q_posexplode_tokens,
    "median_by_segment": q_median_by_segment,
    "multiset_nation_balance": q_multiset_nation_balance,
    "percent_rank": q_percent_rank,
    "levenshtein_pairs": q_levenshtein_pairs,
    "stats_agg": q_stats_agg,
    "orders_by_quarter": q_orders_by_quarter,
    "split_by_hash": q_split_by_hash,
    "exists_subquery": q_exists_subquery,
    "scalar_subquery": q_scalar_subquery,
    "embedding_stats": q_embedding_stats,
    "null_profile": q_null_profile,
    "dim_build": q_dim_build,
    "dim_build_counts": q_dim_build_counts,
    "dim_build_multi": q_dim_build_multi,
    "simple_map": q_simple_map,
    "simple_map_multi": q_simple_map_multi,
    "null_safe_join": q_null_safe_join,
    "cast_columns": q_cast_columns,
    "null_to_zero": q_null_to_zero,
    "text_when_null": q_text_when_null,
    "add_index": q_add_index,
    "rename_prefix": q_rename_prefix,
    "extra_row": q_extra_row,
    "garbage_flags": q_garbage_flags,
    "clean_string": q_clean_string,
    "df_shape": q_df_shape,
    "topk_per_group": q_topk_per_group,
    "window_lag": q_window_lag,
    "rollup_agg": q_rollup,
    "exact_dedup": q_exact_dedup,
    "minhash_neardup_pairs": q_minhash_neardup_pairs,
    "dedup_clusters": q_dedup_clusters,
    "simhash_signatures": q_simhash_signatures,
    "embedding_neardup": q_embedding_neardup,
    "fingerprint": q_fingerprint,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "token_frequencies": q_token_frequencies,
    "lang_id": q_lang_id,
    "lang_id_trained": q_lang_id_trained,
    "lang_budget_enforce": q_lang_budget_enforce,
    "doc_chunking": q_doc_chunking,
    "bpe_token_count": q_bpe_token_count,
    "ntile_binning": q_ntile_binning,
    "embedding_topk": q_embedding_topk,
    "embedding_topk_lsh": q_embedding_topk_lsh,
    "text_embedding_topk": q_text_embedding_topk,
    "embedding_topk_ivf": q_embedding_topk_ivf,
    "embedding_topk_ivf_fixed": q_embedding_topk_ivf_fixed,
    "embedding_topk_pq_fixed": q_embedding_topk_pq_fixed,
    "events_tumbling": q_events_tumbling,
    "events_sessionize": q_events_sessionize,
    "events_parse_props": q_events_parse_props,
    "events_lag_lead": q_events_lag_lead,
    "events_sliding": q_events_sliding,
    "session_window_native": q_session_window_native,
    "cube_agg": q_cube_agg,
    "pivot_status": q_pivot_status,
    "except_antijoin": q_except_antijoin,
    "intersect_keys": q_intersect_keys,
    "window_moving_avg": q_window_moving_avg,
    "percentiles": q_percentiles,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "setsim_prefix_pairs": q_setsim_prefix_pairs,
    "count_min_freq": q_count_min_freq,
    "table_profile": q_table_profile,
    "phrase_search": q_phrase_search,
    "histogram_quantiles": q_histogram_quantiles,
    "negative_samples": q_negative_samples,
    "containment_pairs": q_containment_pairs,
    "sssp_weighted": q_sssp_weighted,
    "cms_join_size": q_cms_join_size,
    "grouped_quantiles": q_grouped_quantiles,
    "transition_matrix": q_transition_matrix,
    "pareto_frontier": q_pareto_frontier,
    "association_rules": q_association_rules,
    "state_quantiles": q_state_quantiles,
    "merge_intervals": q_merge_intervals,
    "pmi_collocations": q_pmi_collocations,
    "corpus_overlap": q_corpus_overlap,
    "top_terms_per_doc": q_top_terms_per_doc,
    "embedding_exact_dedup": q_embedding_exact_dedup,
    "approx_distinct": q_approx_distinct,
    "grouped_zscore": q_grouped_zscore,
    "grouped_agg_udaf": q_grouped_agg_udaf,
    "salted_join": q_salted_join,
    "salted_distinct_count": q_salted_distinct_count,
    "fixup_names": q_fixup_names,
    "relationships": q_relationships,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_retrieval": q_multimodal_retrieval,
    "cohort_retention": q_cohort_retention,
    "event_funnel": q_event_funnel,
    "ffd_packing": q_ffd_packing,
    "unpivot_metrics": q_unpivot_metrics,
    "first_last_window": q_first_last_window,
    "corpus_prepare": q_corpus_prepare,
    "corpus_prepare_full": q_corpus_prepare_full,
    "asof_join_forward": q_asof_join_forward,
    "asof_join_nearest": q_asof_join_nearest,
    "asof_nearest_subsecond": q_asof_nearest_subsecond,
    "twap": q_twap,
    "ohlc_bars": q_ohlc_bars,
    "vocabulary_drift": q_vocabulary_drift,
    "mmr_selection": q_mmr_selection,
    "mmr_pooled": q_mmr_pooled,
    "attribution": q_attribution,
    "ngram_novelty": q_ngram_novelty,
    "vocab_growth": q_vocab_growth,
    "bootstrap_ab_diff": q_bootstrap_ab_diff,
    "kaplan_meier": q_kaplan_meier,
    "two_proportion_ztest": q_two_proportion_ztest,
    "dup_cluster_sizes": q_dup_cluster_sizes,
    "mahalanobis_outliers": q_mahalanobis_outliers,
    "sessionize_capped": q_sessionize_capped,
    "keyword_screening": q_keyword_screening,
    "add_index_distributed": q_add_index_distributed,
    "add_index_quantile": q_add_index_quantile,
    "sequence_packing": q_sequence_packing,
    "greedy_packing": q_greedy_packing,
    "chat_template_packing": q_chat_template_packing,
    "min_cost_supplier": q_min_cost_supplier,
    "product_profit": q_product_profit,
    "important_part_value": q_important_part_value,
    "supplier_part_counts": q_supplier_part_counts,
    "promotion_suppliers": q_promotion_suppliers,
}

ORACLES: dict[str, str] = {
    "flagship_pricing_summary": SQL_FLAGSHIP,
    "sql_over_views": SQL_SQL_OVER_VIEWS,
    "project_distinct": SQL_PROJECT_DISTINCT,
    "scan_filter_project": SQL_SCAN_FILTER_PROJECT,
    "select_sql_distinct": SQL_SELECT_SQL_DISTINCT,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
    "pii_redaction": SQL_PII_REDACTION,
    "quality_report": SQL_QUALITY_REPORT,
    "histogram": SQL_HISTOGRAM,
    "string_functions": SQL_STRING_FUNCTIONS,
    "array_functions": SQL_ARRAY_FUNCTIONS,
    "order_priority_check": SQL_ORDER_PRIORITY_CHECK,
    "customer_distribution": SQL_CUSTOMER_DISTRIBUTION,
    "dormant_rich_customers": SQL_DORMANT_RICH_CUSTOMERS,
    "volume_shipping": SQL_VOLUME_SHIPPING,
    "market_share": SQL_MARKET_SHARE,
    "late_lines_by_priority": SQL_LATE_LINES_BY_PRIORITY,
    "promo_revenue": SQL_PROMO_REVENUE,
    "top_supplier": SQL_TOP_SUPPLIER,
    "small_qty_revenue": SQL_SMALL_QTY_REVENUE,
    "large_volume_customers": SQL_LARGE_VOLUME_CUSTOMERS,
    "disc_revenue_or": SQL_DISC_REVENUE_OR,
    "waiting_suppliers": SQL_WAITING_SUPPLIERS,
    "forecast_revenue": SQL_FORECAST_REVENUE,
    "returned_items": SQL_RETURNED_ITEMS,
    "tf_idf": SQL_TF_IDF,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "events_trailing_window": SQL_EVENTS_TRAILING_WINDOW,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "bm25f_retrieval": SQL_BM25F_RETRIEVAL,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "rolling_corr": SQL_ROLLING_CORR,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "dsir_resample": SQL_DSIR_RESAMPLE,
    "frequent_pairs": SQL_FREQUENT_PAIRS,
    "snapshot_diff": SQL_SNAPSHOT_DIFF,
    "events_resample": SQL_EVENTS_RESAMPLE,
    "events_gap_fill": SQL_EVENTS_GAP_FILL,
    "events_gap_fill_interp": SQL_EVENTS_GAP_FILL_INTERP,
    "events_islands": SQL_EVENTS_ISLANDS,
    "latest_event_per_user": SQL_LATEST_EVENT_PER_USER,
    "relationships": SQL_RELATIONSHIPS,
    "events_ewma": SQL_EVENTS_EWMA,
    "mad_outliers": SQL_MAD_OUTLIERS,
    "ngram_diversity": SQL_NGRAM_DIVERSITY,
    "incremental_agg_merge": SQL_INCREMENTAL_AGG_MERGE,
    "grouping_sets": SQL_GROUPING_SETS,
    "percent_rank_cume": SQL_PERCENT_RANK_CUME,
    "bpe_token_counts": SQL_BPE_TOKEN_COUNTS,
    "bpe_packing": SQL_BPE_PACKING,
    "quality_classifier_scores": SQL_QUALITY_CLASSIFIER_SCORES,
    "video_mov_frame_stats": SQL_VIDEO_MOV_FRAME_STATS,
    "bpe_word_counts": SQL_BPE_WORD_COUNTS,
    "bpe_fertility": SQL_BPE_FERTILITY,
    "mixture_weights": SQL_MIXTURE_WEIGHTS,
    "cdc_apply": SQL_CDC_APPLY,
    "event_throttle": SQL_EVENT_THROTTLE,
    "key_skew_report": SQL_KEY_SKEW_REPORT,
    "bpe_encode_sample": SQL_BPE_ENCODE_SAMPLE,
    "topk_with_ties": SQL_TOPK_WITH_TIES,
    "bfs_hops": SQL_BFS_HOPS,
    "unicode_normalize": SQL_UNICODE_NORMALIZE,
    "minhash_dedup_transitive": SQL_MINHASH_DEDUP_TRANSITIVE,
    "group_concat_sorted": SQL_GROUP_CONCAT_SORTED,
    "rolling_active_users": SQL_ROLLING_ACTIVE_USERS,
    "events_trailing_median": SQL_EVENTS_TRAILING_MEDIAN,
    "mode_by_group": SQL_MODE_BY_GROUP,
    "corpus_dedup": SQL_CORPUS_DEDUP,
    "array_agg_sorted": SQL_ARRAY_AGG_SORTED,
    "cumulative_spend": SQL_CUMULATIVE_SPEND,
    "posexplode_tokens": SQL_POSEXPLODE_TOKENS,
    "median_by_segment": SQL_MEDIAN_BY_SEGMENT,
    "multiset_nation_balance": SQL_MULTISET_NATION_BALANCE,
    "percent_rank": SQL_PERCENT_RANK,
    "levenshtein_pairs": SQL_LEVENSHTEIN_PAIRS,
    "stats_agg": SQL_STATS_AGG,
    "tfidf_retrieval": SQL_TFIDF_RETRIEVAL,
    "bm25_retrieval": SQL_BM25_RETRIEVAL,
    "hybrid_retrieval": SQL_HYBRID_RETRIEVAL,
    "bm25_text_search": SQL_BM25_TEXT_SEARCH,
    "regr_metrics": SQL_REGR_METRICS,
    "argmax_extremes": SQL_ARGMAX_EXTREMES,
    "sample_topn": SQL_SAMPLE_TOPN,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "incremental_neardup": SQL_INCREMENTAL_NEARDUP,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "hll_sketch_union": SQL_HLL_SKETCH_UNION,
    "image_header_meta": SQL_IMAGE_HEADER_META,
    "pixel_stats": SQL_PIXEL_STATS,
    "audio_stats": SQL_AUDIO_STATS,
    "video_container_meta": SQL_VIDEO_CONTAINER_META,
    "video_frame_stats": SQL_VIDEO_FRAME_STATS,
    "image_resize_stats": SQL_IMAGE_RESIZE_STATS,
    "audio_features": SQL_AUDIO_FEATURES,
    "interval_overlap_join": SQL_INTERVAL_OVERLAP_JOIN,
    "token_mixture": SQL_TOKEN_MIXTURE,
    "capped_mixture": SQL_CAPPED_MIXTURE,
    "bpe_encode_ids": SQL_BPE_ENCODE_IDS,
    "neardup_decontamination": SQL_NEARDUP_DECONTAMINATION,
    "corpus_shuffle": SQL_CORPUS_SHUFFLE,
    "bigram_lm_scores": SQL_BIGRAM_LM,
    "trigram_lm_scores": SQL_TRIGRAM_LM,
    "ks_drift": SQL_KS_DRIFT,
    "chi2_drift": SQL_CHI2_DRIFT,
    "er_matches": SQL_ER_MATCHES,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "remove_dup_spans": SQL_REMOVE_DUP_SPANS,
    "funnel": SQL_FUNNEL,
    "hash_split": SQL_HASH_SPLIT,
    "decontamination": SQL_DECONTAMINATION,
    "repetition_stats": SQL_REPETITION_STATS,
    "incremental_neardup_indexed": SQL_INCREMENTAL_NEARDUP,
    "approx_percentiles": SQL_APPROX_PERCENTILES,
    "top_tokens_per_lang": SQL_TOP_TOKENS_PER_LANG,
    "pagerank": SQL_PAGERANK,
    "pagerank_weighted": SQL_PAGERANK_WEIGHTED,
    "pagerank_personalized": SQL_PAGERANK_PERSONALIZED,
    "lpa_communities": SQL_LPA_COMMUNITIES,
    "events_anomaly": SQL_EVENTS_ANOMALY,
    "psi_drift": SQL_PSI_DRIFT,
    "scd2_dimension": SQL_SCD2_DIMENSION,
    "orders_by_quarter": SQL_ORDERS_BY_QUARTER,
    "split_by_hash": SQL_SPLIT_BY_HASH,
    "exists_subquery": SQL_EXISTS_SUBQUERY,
    "scalar_subquery": SQL_SCALAR_SUBQUERY,
    "embedding_stats": SQL_EMBEDDING_STATS,
    "null_profile": SQL_NULL_PROFILE,
    "dim_build": SQL_DIM_BUILD,
    "dim_build_counts": SQL_DIM_BUILD_COUNTS,
    "dim_build_multi": SQL_DIM_BUILD_MULTI,
    "simple_map": SQL_SIMPLE_MAP,
    "simple_map_multi": SQL_SIMPLE_MAP_MULTI,
    "null_safe_join": SQL_NULL_SAFE_JOIN,
    "cast_columns": SQL_CAST_COLUMNS,
    "null_to_zero": SQL_NULL_TO_ZERO,
    "text_when_null": SQL_TEXT_WHEN_NULL,
    "add_index": SQL_ADD_INDEX,
    "rename_prefix": SQL_RENAME_PREFIX,
    "extra_row": SQL_EXTRA_ROW,
    "garbage_flags": SQL_GARBAGE_FLAGS,
    "clean_string": SQL_CLEAN_STRING,
    "df_shape": SQL_DF_SHAPE,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "window_lag": SQL_WINDOW_LAG,
    "rollup_agg": SQL_ROLLUP,
    "exact_dedup": SQL_EXACT_DEDUP,
    "text_token_stats": SQL_TEXT_TOKEN_STATS,
    "text_quality": SQL_TEXT_QUALITY,
    "token_frequencies": SQL_TOKEN_FREQUENCIES,
    "doc_chunking": SQL_DOC_CHUNKING,
    "bpe_token_count": SQL_BPE_TOKEN_COUNT,
    "ntile_binning": SQL_NTILE_BINNING,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "events_parse_props": SQL_EVENTS_PARSE_PROPS,
    "events_lag_lead": SQL_EVENTS_LAG_LEAD,
    "events_sliding": SQL_EVENTS_SLIDING,
    "session_window_native": SQL_SESSION_WINDOW_NATIVE,
    "cube_agg": SQL_CUBE_AGG,
    "pivot_status": SQL_PIVOT_STATUS,
    "except_antijoin": SQL_EXCEPT_ANTIJOIN,
    "intersect_keys": SQL_INTERSECT_KEYS,
    "window_moving_avg": SQL_WINDOW_MOVING_AVG,
    "percentiles": SQL_PERCENTILES,
    "asof_join": SQL_ASOF_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "setsim_prefix_pairs": SQL_SETSIM_PREFIX_PAIRS,
    "count_min_freq": SQL_COUNT_MIN_FREQ,
    "table_profile": SQL_TABLE_PROFILE,
    "phrase_search": SQL_PHRASE_SEARCH,
    "histogram_quantiles": SQL_HISTOGRAM_QUANTILES,
    "negative_samples": SQL_NEGATIVE_SAMPLES,
    "containment_pairs": SQL_CONTAINMENT_PAIRS,
    "sssp_weighted": SQL_SSSP_WEIGHTED,
    "cms_join_size": SQL_CMS_JOIN_SIZE,
    "grouped_quantiles": SQL_GROUPED_QUANTILES,
    "transition_matrix": SQL_TRANSITION_MATRIX,
    "pareto_frontier": SQL_PARETO_FRONTIER,
    "association_rules": SQL_ASSOCIATION_RULES,
    "state_quantiles": SQL_STATE_QUANTILES,
    "merge_intervals": SQL_MERGE_INTERVALS,
    "pmi_collocations": SQL_PMI_COLLOCATIONS,
    "corpus_overlap": SQL_CORPUS_OVERLAP,
    "top_terms_per_doc": SQL_TOP_TERMS_PER_DOC,
    "embedding_exact_dedup": SQL_EMBEDDING_EXACT_DEDUP,
    "grouped_zscore": SQL_GROUPED_ZSCORE,
    "grouped_agg_udaf": SQL_GROUPED_AGG_UDAF,
    "salted_join": SQL_SALTED_JOIN,
    "salted_distinct_count": SQL_SALTED_DISTINCT_COUNT,
    "lang_id": SQL_LANG_ID,
    "lang_id_trained": SQL_LANG_ID_TRAINED,
    "lang_budget_enforce": SQL_LANG_BUDGET_ENFORCE,
    "text_embedding_topk": SQL_TEXT_EMBEDDING_TOPK,
    "embedding_topk_quantized": SQL_EMBEDDING_TOPK_QUANTIZED,
    "embedding_topk_ivf": SQL_EMBEDDING_TOPK_IVF,
    "embedding_topk_ivf_fixed": SQL_EMBEDDING_TOPK_IVF_FIXED,
    "embedding_topk_pq_fixed": SQL_EMBEDDING_TOPK_PQ_FIXED,
    "embedding_topk_lsh": SQL_EMBEDDING_TOPK_LSH,
    "minhash_neardup_pairs": SQL_MINHASH_NEARDUP,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "simhash_signatures": SQL_SIMHASH_SIGNATURES,
    "fingerprint": SQL_FINGERPRINT,
    "approx_distinct": SQL_APPROX_DISTINCT,
    "fixup_names": SQL_FIXUP_NAMES,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "multimodal_retrieval": SQL_MULTIMODAL_RETRIEVAL,
    "corpus_prepare": SQL_CORPUS_PREPARE,
    "corpus_prepare_full": SQL_CORPUS_PREPARE_FULL,
    "asof_join_forward": SQL_ASOF_JOIN_FORWARD,
    "asof_join_nearest": SQL_ASOF_JOIN_NEAREST,
    "asof_nearest_subsecond": SQL_ASOF_NEAREST_SUBSECOND,
    "twap": SQL_TWAP,
    "ohlc_bars": SQL_OHLC_BARS,
    "vocabulary_drift": SQL_VOCABULARY_DRIFT,
    "mmr_selection": SQL_MMR_SELECTION,
    "mmr_pooled": SQL_MMR_POOLED,
    "attribution": SQL_ATTRIBUTION,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "vocab_growth": SQL_VOCAB_GROWTH,
    "bootstrap_ab_diff": SQL_BOOTSTRAP_AB_DIFF,
    "kaplan_meier": SQL_KAPLAN_MEIER,
    "two_proportion_ztest": SQL_TWO_PROPORTION_ZTEST,
    "dup_cluster_sizes": SQL_DUP_CLUSTER_SIZES,
    "mahalanobis_outliers": SQL_MAHALANOBIS_OUTLIERS,
    "sessionize_capped": SQL_SESSIONIZE_CAPPED,
    "keyword_screening": SQL_KEYWORD_SCREENING,
    "greedy_packing": SQL_GREEDY_PACKING,
    "chat_template_packing": SQL_CHAT_TEMPLATE_PACKING,
    "ffd_packing": SQL_FFD_PACKING,
    "cohort_retention": SQL_COHORT_RETENTION,
    "event_funnel": SQL_EVENT_FUNNEL,
    "unpivot_metrics": SQL_UNPIVOT_METRICS,
    "first_last_window": SQL_FIRST_LAST_WINDOW,
    "add_index_distributed": SQL_ADD_INDEX_DISTRIBUTED,
    "add_index_quantile": SQL_ADD_INDEX_QUANTILE,
    "sequence_packing": SQL_SEQUENCE_PACKING,
    "min_cost_supplier": SQL_MIN_COST_SUPPLIER,
    "product_profit": SQL_PRODUCT_PROFIT,
    "important_part_value": SQL_IMPORTANT_PART_VALUE,
    "supplier_part_counts": SQL_SUPPLIER_PART_COUNTS,
    "promotion_suppliers": SQL_PROMOTION_SUPPLIERS,
}


# --------------------------------------------------------------------------
# Round-5 additions: bloom decontamination, line boilerplate removal,
# char-distribution signals, stemming, JL projection ANN, Morton codes
# --------------------------------------------------------------------------

def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a FIXED-SIZE Bloom prefilter
    (dedup.bloom_contamination_flags): same slices and bit-identical
    output as `decontamination` (the Bloom never false-negatives and
    survivors are exactly re-verified), but the corpus-side check is k
    map-side broadcast joins against an m/8-byte bitset instead of a
    broadcast of the full benchmark n-gram set — the shape that still
    works when the blocklist has billions of grams. Oracle: the exact
    8-gram overlap (same as the direct query)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    corpus = docs.where(F.col("doc_id") >= 20)
    return dedup.bloom_contamination_flags(
        corpus, bench, "doc_id", n=8, m_bits=1 << 18, k=5
    ).select(
        "doc_id", F.col("n_hits").cast("long").alias("n_hits"), "contaminated"
    )


BOILER_TEXT_EXPR = (
    "substring(text, 1, 80) || chr(10) || 'subscribe to our newsletter' || "
    "chr(10) || (CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved' "
    "ELSE 'unique footer ' || CAST(doc_id AS STRING) END) || chr(10) || "
    "substring(text, 81)"
)


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus boilerplate removal (RefinedWeb/CCNet line
    filtering, textstats.remove_boilerplate_lines): lines whose normalized
    form appears in >= 3 distinct documents are dropped EVERYWHERE (unlike
    paragraph_dedup's keep-first); documents reassembled in order. The
    payload injects a universal banner line and a 1-in-3 footer so the
    threshold actually separates classes; oracle replicates the count +
    filter + ordered string_agg relationally."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(BOILER_TEXT_EXPR).alias("text")
    )
    return textstats.remove_boilerplate_lines(docs, "doc_id", min_docs=3)


SQL_BOILERPLATE_REMOVAL = rf"""
WITH d AS (SELECT doc_id, {BOILER_TEXT_EXPR} AS btxt FROM documents),
l0 AS (
  SELECT doc_id,
         unnest(string_split(btxt, chr(10))) AS line,
         unnest(range(1, len(string_split(btxt, chr(10))) + 1)) AS pos
  FROM d
),
l AS (
  SELECT doc_id, pos, line,
         lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS nk
  FROM l0 WHERE trim(line) <> ''
),
common AS (
  SELECT nk FROM l GROUP BY nk HAVING COUNT(DISTINCT doc_id) >= 3
),
k AS (
  SELECT l.*, (common.nk IS NOT NULL) AS rm
  FROM l LEFT JOIN common ON l.nk = common.nk
),
g AS (
  SELECT doc_id,
         COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT rm), '') AS text,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
  FROM k GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(g.text, '') AS text,
       CAST(COALESCE(g.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(g.n_removed, 0) AS BIGINT) AS n_removed
FROM d LEFT JOIN g ON d.doc_id = g.doc_id
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy
    (textstats.char_entropy) — the compressibility-proxy quality signal:
    both engines compute H = log2(n) - sum(c*log2 c)/n over per-(doc,char)
    counts, rounded 6dp."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.char_entropy(docs, "doc_id")


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
f AS (
  SELECT doc_id, ch, COUNT(*) AS cnt FROM ch WHERE ch <> '' GROUP BY doc_id, ch
)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
       ROUND(log2(SUM(cnt)) - SUM(cnt * log2(cnt)) / SUM(cnt), 6) AS entropy
FROM f GROUP BY doc_id
"""


SCRIPT_TEXT_EXPR = (
    "substring(text, 1, 40) || repeat('д', doc_id % 5) || "
    "repeat('日', doc_id % 4) || repeat('α', doc_id % 3) || "
    "repeat('7', doc_id % 3) || repeat('ب', doc_id % 2)"
)


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script composition per document (textstats.script_mix):
    fractions of non-space chars per coarse script class from codepoint
    ranges — pure filter/size expressions, no explode. The payload mixes
    deterministic Cyrillic/CJK/Greek/Arabic/digit runs into the Latin
    fixture text so every range is exercised; the oracle classifies with
    the same ranges via unicode()."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(SCRIPT_TEXT_EXPR).alias("text")
    )
    return textstats.script_mix(docs, "doc_id")


def _script_mix_oracle_sql() -> str:
    from ..operators.textstats import _SCRIPT_RANGES

    fracs = []
    names = []
    for name, ranges in _SCRIPT_RANGES.items():
        cond = " OR ".join(
            f"(unicode(ch) BETWEEN {lo} AND {hi})" for lo, hi in ranges
        )
        fracs.append(
            f"CASE WHEN len(chs) > 0 THEN ROUND(CAST(len(list_filter(chs, "
            f"ch -> {cond})) AS DOUBLE) / len(chs), 6) ELSE 0.0 END AS frac_{name}"
        )
        names.append(f"frac_{name}")
    all_cond = " OR ".join(
        f"(unicode(ch) BETWEEN {lo} AND {hi})"
        for ranges in _SCRIPT_RANGES.values()
        for lo, hi in ranges
    )
    fracs.append(
        f"CASE WHEN len(chs) > 0 THEN ROUND(CAST(len(list_filter(chs, "
        f"ch -> NOT ({all_cond}))) AS DOUBLE) / len(chs), 6) ELSE 0.0 END"
        " AS frac_other"
    )
    names.append("frac_other")
    return f"""
WITH d AS (SELECT doc_id, {SCRIPT_TEXT_EXPR} AS stxt FROM documents),
c AS (
  SELECT doc_id,
         list_filter(string_split(stxt, ''),
                     ch -> ch <> '' AND NOT regexp_matches(ch, '^\\s$')) AS chs
  FROM d
)
SELECT doc_id, CAST(len(chs) AS BIGINT) AS n_chars,
       {', '.join(fracs)}
FROM c
"""


STEM_TEXT_EXPR = (
    "text || ' queries sorting sorted batches bus miss classes flies ' || "
    "source || 's'"
)


def q_stemmed_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies after suffix stripping
    (textstats.stemmed_token_counts): the engine-portable Porter-step-1
    CASE rules fold plural/gerund/past families; the payload appends
    suffixed forms (plus a per-doc pluralized source tag) so every rule
    fires. Oracle: identical CASE rules over unnested whitespace tokens."""
    docs = _t(spark, sf_dir, "documents").select(
        F.expr(STEM_TEXT_EXPR).alias("text")
    )
    return textstats.stemmed_token_counts(docs)


SQL_STEMMED_TOP_TOKENS = rf"""
WITH d AS (SELECT {STEM_TEXT_EXPR} AS stxt FROM documents),
t AS (
  SELECT unnest(list_filter(string_split_regex(trim(stxt), '\s+'), w -> w <> '')) AS w
  FROM d
),
s AS (
  SELECT CASE
    WHEN w LIKE '%sses' THEN substr(w, 1, length(w) - 2)
    WHEN w LIKE '%ies' THEN substr(w, 1, length(w) - 2)
    WHEN w LIKE '%s' AND w NOT LIKE '%ss' AND w NOT LIKE '%us'
      THEN substr(w, 1, length(w) - 1)
    WHEN w LIKE '%ing' AND length(w) > 5 THEN substr(w, 1, length(w) - 3)
    WHEN w LIKE '%ed' AND length(w) > 4 THEN substr(w, 1, length(w) - 2)
    ELSE w END AS stem_tok
  FROM t
)
SELECT stem_tok, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY stem_tok
"""


def q_embedding_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection ANN (similarity.rp_topk):
    corpus and queries projected 64→16 dims with the deterministic
    Achlioptas ±1/4 sign matrix (fixed LCG), exact top-10 cosine in
    projected space. FULLY oracled: the oracle regenerates the same
    matrix as a literal and replicates projection, cosine, and the
    (score desc, vec_id) tie-break."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.rp_topk(emb, queries, k=10, out_dim=16, seed=7)


def _rp_topk_oracle_sql() -> str:
    mat = similarity.projection_matrix(64, 16, seed=7)
    mat_lit = "[" + ", ".join(
        "[" + ", ".join(f"{x:.6f}" for x in row) + "]" for row in mat
    ) + "]"
    return f"""
WITH m AS (SELECT CAST({mat_lit} AS DOUBLE[][]) AS mat),
q AS (
  SELECT vec_id AS query_id,
         list_transform(range(1, 17),
           j -> list_dot_product(CAST(embedding AS DOUBLE[]), mat[j])) AS qv
  FROM embeddings, m WHERE vec_id < 5
),
c AS (
  SELECT vec_id,
         list_transform(range(1, 17),
           j -> list_dot_product(CAST(embedding AS DOUBLE[]), mat[j])) AS cv
  FROM embeddings, m
),
s AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.cv, q.qv)
           / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))) AS score
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id, ROUND(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM s)
WHERE rn <= 10
"""


def q_zvalue_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave codes (functions.zorder
    .morton_interleave — the clustering key behind io.zorder_table's
    multi-dimension data skipping): 8-bit x/y from order keys,
    bit-interleaved with pure shift/mask expressions. Oracle: the same
    16-term shift/mask sum in SQL."""
    from ..functions.zorder import morton_interleave

    orders = _t(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(256)).cast("long")
    y = F.pmod(F.col("o_orderkey"), F.lit(256)).cast("long")
    return orders.select(
        "o_orderkey",
        x.alias("x"),
        y.alias("y"),
        morton_interleave([x, y], bits=8).alias("zval"),
    )


def _zvalue_oracle_sql() -> str:
    terms = []
    for i in range(8):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    return f"""
WITH b AS (
  SELECT o_orderkey,
         CAST(o_custkey % 256 AS BIGINT) AS x,
         CAST(o_orderkey % 256 AS BIGINT) AS y
  FROM orders
)
SELECT o_orderkey, x, y, CAST({' + '.join(terms)} AS BIGINT) AS zval FROM b
"""


QUERIES.update({
    "bloom_decontamination": q_bloom_decontamination,
    "boilerplate_removal": q_boilerplate_removal,
    "char_entropy": q_char_entropy,
    "script_mix": q_script_mix,
    "stemmed_top_tokens": q_stemmed_top_tokens,
    "embedding_rp_topk": q_embedding_rp_topk,
    "zvalue_codes": q_zvalue_codes,
})

ORACLES.update({
    "bloom_decontamination": SQL_DECONTAMINATION,
    "boilerplate_removal": SQL_BOILERPLATE_REMOVAL,
    "char_entropy": SQL_CHAR_ENTROPY,
    "script_mix": _script_mix_oracle_sql(),
    "stemmed_top_tokens": SQL_STEMMED_TOP_TOKENS,
    "embedding_rp_topk": _rp_topk_oracle_sql(),
    "zvalue_codes": _zvalue_oracle_sql(),
})


# --------------------------------------------------------------------------
# Round-5 batch 2: k-core, table fingerprints, event paths, mutual matches
# --------------------------------------------------------------------------

def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (graph.k_core): 5 bounded peel rounds at k=4
    over the symmetrized customer–supplier trade graph (o_orderkey%5
    slice; converges by round 4 at every fixture SF — round 5 proves the
    fixed point). Oracle: the same 5 peels unrolled as chained CTEs,
    like pagerank/bfs fixed rounds."""
    from ..operators import graph

    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    e = pairs.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return graph.k_core(e, k=4, rounds=5)


def _k_core_oracle_sql(k: int = 4, rounds: int = 5) -> str:
    parts = [
        "WITH p AS (",
        "  SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,",
        "         's' || CAST(l_suppkey AS STRING) AS dst",
        "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        "  WHERE o_orderkey % 5 = 0",
        "),",
        "e0 AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f", n{r} AS (SELECT src FROM e{r-1} GROUP BY src"
            f" HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f", e{r} AS (SELECT e.src, e.dst FROM e{r-1} e"
            f" JOIN n{r} a ON e.src = a.src JOIN n{r} b ON e.dst = b.src)"
        )
    parts.append(
        f"SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree"
        f" FROM e{rounds} GROUP BY src"
    )
    return "\n".join(parts)


_FPRINT_SEP = chr(31)
_HEX_PARSE = (
    "list_reduce(list_transform(string_split(substr(md5({s}), 1, 15), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)),"
    " (a, b) -> a * 16 + b)"
)


def _orders_canonical_spark(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("o_orderkey").cast("string").alias("c1"),
        F.col("o_custkey").cast("string").alias("c2"),
        F.col("o_orderstatus").alias("c3"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("c4"),
        F.col("o_orderdate").cast("date").cast("string").alias("c5"),
    )


_ORDERS_CANON_DUCK = (
    "SELECT CAST(o_orderkey AS STRING) AS c1, CAST(o_custkey AS STRING) AS c2,"
    " o_orderstatus AS c3,"
    " CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING) AS c4,"
    " CAST(CAST(o_orderdate AS DATE) AS STRING) AS c5 FROM orders"
)


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content fingerprint
    (transform.table_fingerprint): summed 60-bit row hashes + row count
    over a canonicalized orders projection (explicit decimal/date casts
    make the row string engine-portable). One map-side pass, mergeable
    state — the migration-verification primitive. Oracle parses the same
    md5 prefix with a hex fold and sums as HUGEINT."""
    canon = _orders_canonical_spark(_t(spark, sf_dir, "orders"))
    out = transform.table_fingerprint(canon)
    return out.select("n_rows", F.col("checksum").cast("string").alias("checksum"))


SQL_TABLE_CHECKSUM = f"""
WITH canon AS ({_ORDERS_CANON_DUCK}),
h AS (
  SELECT {_HEX_PARSE.format(s="concat_ws(chr(31), c1, c2, c3, c4, c5)")} AS rh
  FROM canon
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(rh) AS STRING) AS checksum
FROM h
"""


def q_grouped_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group content checksums (transform.grouped_fingerprint) keyed
    by order status: version-diff verification narrowed to the partitions
    that changed, no row comparison. Same row hash as table_checksum,
    one grouped aggregate."""
    canon = _orders_canonical_spark(_t(spark, sf_dir, "orders"))
    out = transform.grouped_fingerprint(canon, "c3")
    return out.select(
        F.col("c3").alias("status"),
        "n_rows",
        F.col("checksum").cast("string").alias("checksum"),
    )


SQL_GROUPED_CHECKSUM = f"""
WITH canon AS ({_ORDERS_CANON_DUCK}),
h AS (
  SELECT c3, {_HEX_PARSE.format(s="concat_ws(chr(31), c1, c2, c4, c5)")} AS rh
  FROM canon
)
SELECT c3 AS status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(rh) AS STRING) AS checksum
FROM h GROUP BY c3
"""


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3-step event paths (timeseries.event_path_ngrams): per-user
    consecutive event-type trigrams in (ts, event_id) order — the
    order-2 sequence-mining generalization of transition_matrix. Oracle:
    the same two leads + count + (count desc, path) top-20."""
    ev = _t(spark, sf_dir, "events")
    return timeseries.event_path_ngrams(
        ev, "user_id", "ts", "event_type", n=3, top=20, tie_col="event_id"
    )


SQL_EVENT_TRIGRAMS = """
WITH s AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path FROM s WHERE e3 IS NOT NULL
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM g GROUP BY path
ORDER BY n_paths DESC, path LIMIT 20
"""


def q_mutual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-match embedding alignment (similarity.mutual_topk):
    (a, b) kept only when each is in the other's top-3 between two fixed
    vector slices — the hub-killing criterion behind entity alignment /
    bitext mining. Oracle replicates both directional top-3 windows and
    the mutuality join."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") < 100)
    b = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 300))
    return similarity.mutual_topk(a, b, k=3)


SQL_MUTUAL_TOPK = """
WITH a AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 100
),
b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id >= 100 AND vec_id < 300
),
ab AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_dot_product(b.v, a.v)
           / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(a.v, a.v))) AS score
  FROM a CROSS JOIN b
),
ab_r AS (
  SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY score DESC, b_id) AS rn
  FROM ab
),
ba_r AS (
  SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY score DESC, a_id) AS rn
  FROM ab
)
SELECT x.a_id, x.b_id, ROUND(x.score, 6) AS score
FROM (SELECT a_id, b_id, score FROM ab_r WHERE rn <= 3) x
JOIN (SELECT a_id, b_id FROM ba_r WHERE rn <= 3) y
  ON x.a_id = y.a_id AND x.b_id = y.b_id
"""


QUERIES.update({
    "k_core": q_k_core,
    "table_checksum": q_table_checksum,
    "grouped_checksum": q_grouped_checksum,
    "event_trigrams": q_event_trigrams,
    "mutual_topk": q_mutual_topk,
})

ORACLES.update({
    "k_core": _k_core_oracle_sql(),
    "table_checksum": SQL_TABLE_CHECKSUM,
    "grouped_checksum": SQL_GROUPED_CHECKSUM,
    "event_trigrams": SQL_EVENT_TRIGRAMS,
    "mutual_topk": SQL_MUTUAL_TOPK,
})


# --------------------------------------------------------------------------
# Round-5 batch 3: markup stripping, target encoding, co-occurrence CF,
# exact bitmap distinct rollups
# --------------------------------------------------------------------------

HTML_TEXT_EXPR = (
    "'<html><body><p class=\"x\">' || substring(text, 1, 60) || "
    "'</p><script>var x = 1;</script>' || "
    "(CASE WHEN doc_id % 2 = 0 THEN '<b>bold</b> extra' "
    "ELSE '&amp; &lt;tag&gt; &quot;q&quot;' END) || '</body></html>'"
)


def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus markup stripping (textstats.with_stripped_markup):
    script/style blocks dropped with contents, tags removed, the six
    ubiquitous entities decoded, whitespace collapsed — plus the
    markup-fraction audit column. RE2-safe patterns replicate verbatim
    in the oracle (DuckDB needs the explicit 'g' flag where Spark
    replaces all matches by default)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(HTML_TEXT_EXPR).alias("text")
    )
    return textstats.with_stripped_markup(docs).select(
        "doc_id", "clean_text", "markup_frac"
    )


SQL_HTML_STRIP = rf"""
WITH d AS (SELECT doc_id, {HTML_TEXT_EXPR} AS htxt FROM documents),
s AS (
  SELECT doc_id, htxt,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(htxt, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      '\s+', ' ', 'g')) AS clean_text
  FROM d
)
SELECT doc_id, clean_text,
       CASE WHEN LENGTH(htxt) > 0
            THEN ROUND(1.0 - CAST(LENGTH(clean_text) AS DOUBLE) / LENGTH(htxt), 4)
            ELSE 0.0 END AS markup_frac
FROM s
"""


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free out-of-fold target encoding
    (transform.target_encode_oof): order priority encoded by the
    smoothed mean of the is-F label computed from the other 5 folds only
    (md5 fold assignment so the oracle replicates the buckets). Output
    aggregated per (priority, fold) — every distinct encoded value the
    fact rows carry."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("double").alias("label"),
    )
    out = transform.target_encode_oof(
        orders,
        "o_orderpriority",
        "label",
        n_folds=5,
        fold_key="o_orderkey",
        prior_weight=10.0,
        hash_algo="md5",
    )
    return (
        out.groupBy("o_orderpriority", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.first("te_o_orderpriority"), 6).alias("te"),
        )
    )


SQL_TARGET_ENCODING = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS label,
         CAST(('0x' || substring(md5(CAST(o_orderkey AS STRING)), 1, 15))::BIGINT % 5 AS INT) AS fold
  FROM orders
),
pf AS (
  SELECT o_orderpriority, fold, SUM(label) AS s, COUNT(*) AS c
  FROM o GROUP BY o_orderpriority, fold
),
pc AS (
  SELECT o_orderpriority, SUM(s) AS cat_s, SUM(c) AS cat_c
  FROM pf GROUP BY o_orderpriority
),
g AS (SELECT AVG(label) AS gmean FROM o),
enc AS (
  SELECT pf.o_orderpriority, pf.fold,
         (pc.cat_s - pf.s + 10.0 * g.gmean) / (pc.cat_c - pf.c + 10.0) AS te
  FROM pf JOIN pc USING (o_orderpriority) CROSS JOIN g
)
SELECT o.o_orderpriority, o.fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(ANY_VALUE(enc.te), 6) AS te
FROM o JOIN enc ON o.o_orderpriority = enc.o_orderpriority AND o.fold = enc.fold
GROUP BY o.o_orderpriority, o.fold
"""


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (skew.cooccurrence_similarity):
    supplier pairs scored by co-purchase cosine n_ij/sqrt(n_i*n_j) over
    the 5%-of-orders basket slice, a-priori pruned, top-5 neighbors per
    item — the popularity-debiased cousin of frequent_pairs. Oracle is
    the same normalized self-join."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    return skew.cooccurrence_similarity(
        li, "l_orderkey", "l_suppkey", min_support=3, top_per_item=5
    )


SQL_ITEM_SIMILARITY = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, CAST(l_suppkey AS STRING) AS item
  FROM lineitem WHERE l_orderkey % 20 = 0
),
ic AS (
  SELECT item, COUNT(*) AS n FROM b GROUP BY item HAVING COUNT(*) >= 3
),
pruned AS (SELECT b.* FROM b JOIN ic USING (item)),
pc AS (
  SELECT x.item AS item_a, y.item AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM pruned x JOIN pruned y ON x.bk = y.bk AND x.item < y.item
  GROUP BY x.item, y.item HAVING COUNT(*) >= 3
),
sc AS (
  SELECT pc.item_a, pc.item_b, pc.pair_count,
         ROUND(pc.pair_count / sqrt(na.n * nb.n), 6) AS cosine
  FROM pc
  JOIN ic na ON pc.item_a = na.item
  JOIN ic nb ON pc.item_b = nb.item
)
SELECT item_a, item_b, pair_count, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY item_a ORDER BY cosine DESC, item_b) AS rk FROM sc)
WHERE rk <= 5
"""


def q_bitmap_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct users from per-day bitmap states
    (aggstate.bitmap_distinct_state + rolling_distinct_from_bitmaps):
    Spark's bitmap aggregate family as the mergeable EXACT alternative
    to HLL rollups — per-(day,bucket) 4KB bitmaps OR-merge across the
    trailing window, never rescanning events. Oracle: the literal
    trailing COUNT(DISTINCT)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    state = aggstate.bitmap_distinct_state(ev, ["day"], "user_id")
    return aggstate.rolling_distinct_from_bitmaps(state, "day", 7).select(
        "day", "n_distinct"
    )


SQL_BITMAP_ROLLING_DISTINCT = """
WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
d AS (SELECT DISTINCT day FROM e)
SELECT d.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_distinct
FROM d JOIN e ON e.day <= d.day AND e.day > d.day - 7
GROUP BY d.day
"""


QUERIES.update({
    "html_strip": q_html_strip,
    "target_encoding": q_target_encoding,
    "item_similarity": q_item_similarity,
    "bitmap_rolling_distinct": q_bitmap_rolling_distinct,
})

ORACLES.update({
    "html_strip": SQL_HTML_STRIP,
    "target_encoding": SQL_TARGET_ENCODING,
    "item_similarity": SQL_ITEM_SIMILARITY,
    "bitmap_rolling_distinct": SQL_BITMAP_ROLLING_DISTINCT,
})


# --------------------------------------------------------------------------
# Round-5 batch 4 — ML metrics / regression / change detection / winnowing
# --------------------------------------------------------------------------

def q_linreg_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS (ml.linreg_simple): extendedprice regressed on
    quantity within each returnflag, one aggregate pass over exact decimal
    moments — slope/intercept/r2 bit-match the closed forms the oracle
    computes from the same moments."""
    li = _t(spark, sf_dir, "lineitem")
    return ml.linreg_simple(
        li, "l_quantity", "l_extendedprice", by=["l_returnflag"]
    )


SQL_LINREG_PRICE_QUANTITY = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
    SUM(CAST(l_quantity AS DECIMAL(18,6))) sx,
    SUM(CAST(l_extendedprice AS DECIMAL(18,6))) sy,
    SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) AS DECIMAL(28,6))
        * CAST(CAST(l_quantity AS DECIMAL(18,6)) AS DECIMAL(28,6))) sxx,
    SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) AS DECIMAL(28,6))
        * CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS DECIMAL(28,6))) sxy,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS DECIMAL(28,6))
        * CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS DECIMAL(28,6))) syy
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY l_returnflag),
f AS (
  SELECT l_returnflag, CAST(n AS BIGINT) n,
    CAST(n AS DOUBLE) nd, CAST(sx AS DOUBLE) sx, CAST(sy AS DOUBLE) sy,
    CAST(sxx AS DOUBLE) sxx, CAST(sxy AS DOUBLE) sxy, CAST(syy AS DOUBLE) syy
  FROM m)
SELECT l_returnflag, n,
  ROUND(CASE WHEN nd*sxx - sx*sx <> 0.0
        THEN (nd*sxy - sx*sy)/(nd*sxx - sx*sx) END, 6) AS slope,
  ROUND(CASE WHEN nd*sxx - sx*sx <> 0.0
        THEN (sy - ((nd*sxy - sx*sy)/(nd*sxx - sx*sx))*sx)/nd END, 6) AS intercept,
  ROUND(CASE WHEN nd*sxx - sx*sx <> 0.0 AND nd*syy - sy*sy <> 0.0
        THEN ((nd*sxy - sx*sy)*(nd*sxy - sx*sy))
             /((nd*sxx - sx*sx)*(nd*syy - sy*sy)) END, 6) AS r2
FROM f
"""


def q_linreg_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight multivariate OLS scoring (ml.linreg_score with the
    frozen WEIGHTS_PRICE_V1 — provenance-tested against a deterministic
    refit): price prediction from (quantity, discount) as a pure codegen
    projection, residual magnitude aggregated per returnflag with exact
    decimal sums."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    scored = ml.linreg_score(
        li, ["l_quantity", "l_discount"], ml.WEIGHTS_PRICE_V1
    )
    resid = (F.col("l_extendedprice") - F.col("prediction")).cast(
        "decimal(18,6)"
    )
    return scored.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.abs(resid)).cast("double") / F.count(F.lit(1)), 4).alias(
            "mean_abs_resid"
        ),
    )


SQL_LINREG_RESIDUALS = """
WITH s AS (
  SELECT l_returnflag,
    CAST(CAST(l_extendedprice AS DOUBLE)
         - (52606.64529631023
            + (-20.77891171879111) * CAST(l_quantity AS DOUBLE)
            + 16147.383298783216 * CAST(l_discount AS DOUBLE))
         AS DECIMAL(18,6)) AS resid
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL)
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(ABS(resid)) AS DOUBLE) / COUNT(*), 4) AS mean_abs_resid
FROM s GROUP BY l_returnflag
"""


def q_lang_id_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware ROC AUC (ml.auc_score, midrank/Mann-Whitney form) of
    document length as an is-English detector — the rank sum runs over
    per-distinct-score counts (never a per-row global sort) in exact
    integer arithmetic until one final division."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    return ml.auc_score(docs, "n_chars", "label")


SQL_LANG_ID_AUC = """
WITH d AS (
  SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
ps AS (SELECT s, COUNT(*) cnt, SUM(lab) pos FROM d GROUP BY s),
r AS (SELECT *, COALESCE(SUM(cnt) OVER (
        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) below
      FROM ps),
a AS (SELECT SUM(pos*(2*below + cnt + 1)) s2, SUM(pos) p, SUM(cnt - pos) n FROM r)
SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
  ROUND(CASE WHEN p > 0 AND n > 0
        THEN CAST(s2 - p*(p+1) AS DOUBLE)
             / (CAST(2 AS DOUBLE)*CAST(p AS DOUBLE)*CAST(n AS DOUBLE)) END, 6) AS auc
FROM a
"""


def q_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary confusion counts + precision/recall/F1 at a fixed threshold
    (ml.confusion_metrics): one aggregate pass of four conditional
    counts; the float ratios come from exact counts."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    return ml.confusion_metrics(docs, "n_chars", "label", threshold=120.0)


SQL_CONFUSION_THRESHOLD = """
WITH d AS (
  SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END = 1 AS lab
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
c AS (SELECT
  CAST(SUM(CASE WHEN s >= 120.0 AND lab THEN 1 ELSE 0 END) AS BIGINT) tp,
  CAST(SUM(CASE WHEN s >= 120.0 AND NOT lab THEN 1 ELSE 0 END) AS BIGINT) fp,
  CAST(SUM(CASE WHEN s < 120.0 AND lab THEN 1 ELSE 0 END) AS BIGINT) fn,
  CAST(SUM(CASE WHEN s < 120.0 AND NOT lab THEN 1 ELSE 0 END) AS BIGINT) tn
  FROM d)
SELECT tp, fp, fn, tn,
  ROUND(CASE WHEN tp + fp > 0
        THEN CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)) END, 6)
    AS "precision",
  ROUND(CASE WHEN tp + fn > 0
        THEN CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE)) END, 6)
    AS recall,
  ROUND(CASE WHEN 2*tp + fp + fn > 0
        THEN (2.0*CAST(tp AS DOUBLE))
             /(2.0*CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)+CAST(fn AS DOUBLE)) END, 6)
    AS f1
FROM c
"""


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix over the four lineitem measures
    (ml.correlation_matrix): one aggregate pass of exact decimal moments
    (k(k+1)/2 product sums, map-side combined) unpivoted to
    (col_x, col_y, corr) — bit-deterministic, unlike float F.corr."""
    li = _t(spark, sf_dir, "lineitem")
    return ml.correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _corr_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    d = lambda c: f"CAST({c} AS DECIMAL(18,6))"  # noqa: E731
    d28 = lambda c: f"CAST(CAST({c} AS DECIMAL(18,6)) AS DECIMAL(28,6))"  # noqa: E731
    terms = ["COUNT(*) n"]
    for i, c in enumerate(cols):
        terms.append(f"SUM({d(c)}) s_{i}")
        terms.append(f"SUM({d28(c)}*{d28(c)}) ss_{i}")
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            terms.append(f"SUM({d28(cols[i])}*{d28(cols[j])}) p_{i}_{j}")
    pair_sql = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            vx = f"(CAST(n AS DOUBLE)*CAST(ss_{i} AS DOUBLE)-CAST(s_{i} AS DOUBLE)*CAST(s_{i} AS DOUBLE))"
            vy = f"(CAST(n AS DOUBLE)*CAST(ss_{j} AS DOUBLE)-CAST(s_{j} AS DOUBLE)*CAST(s_{j} AS DOUBLE))"
            cv = f"(CAST(n AS DOUBLE)*CAST(p_{i}_{j} AS DOUBLE)-CAST(s_{i} AS DOUBLE)*CAST(s_{j} AS DOUBLE))"
            pair_sql.append(
                f"SELECT '{cols[i]}' AS col_x, '{cols[j]}' AS col_y,\n"
                f" ROUND(CASE WHEN {vx} > 0.0 AND {vy} > 0.0\n"
                f"  THEN {cv}/(SQRT({vx})*SQRT({vy})) END, 6) AS corr FROM m"
            )
    where = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    return (
        "WITH m AS (SELECT "
        + ", ".join(terms)
        + f" FROM lineitem WHERE {where})\n"
        + "\nUNION ALL ".join(pair_sql)
    )


SQL_CORRELATION_MATRIX = _corr_sql()


def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type autocorrelation at lags 1..3 (timeseries.autocorrelation):
    one fused lag-window sort per key, exact decimal moments per
    (type, lag), deterministic (ts, event_id) ordering."""
    evts = _t(spark, sf_dir, "events")
    return timeseries.autocorrelation(
        evts, ["event_type"], "ts", "value", max_lag=3, tie_col="event_id"
    )


SQL_EVENTS_AUTOCORRELATION = """
WITH b AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) v, ts, event_id
  FROM events WHERE value IS NOT NULL),
s AS (SELECT event_type, v,
  LAG(v,1) OVER w vl1, LAG(v,2) OVER w vl2, LAG(v,3) OVER w vl3
 FROM b WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
p AS (
 SELECT event_type, 1 lag, v, vl1 vl FROM s WHERE vl1 IS NOT NULL
 UNION ALL SELECT event_type, 2, v, vl2 FROM s WHERE vl2 IS NOT NULL
 UNION ALL SELECT event_type, 3, v, vl3 FROM s WHERE vl3 IS NOT NULL),
m AS (SELECT event_type, lag, COUNT(*) n, SUM(v) sx, SUM(vl) sy,
  SUM(CAST(v AS DECIMAL(28,6))*CAST(v AS DECIMAL(28,6))) sxx,
  SUM(CAST(vl AS DECIMAL(28,6))*CAST(vl AS DECIMAL(28,6))) syy,
  SUM(CAST(v AS DECIMAL(28,6))*CAST(vl AS DECIMAL(28,6))) sxy
 FROM p GROUP BY event_type, lag),
f AS (SELECT event_type, lag, CAST(n AS BIGINT) n,
  CAST(n AS DOUBLE) nd, CAST(sx AS DOUBLE) sx, CAST(sy AS DOUBLE) sy,
  CAST(sxx AS DOUBLE) sxx, CAST(syy AS DOUBLE) syy, CAST(sxy AS DOUBLE) sxy
 FROM m)
SELECT event_type, CAST(lag AS INT) AS lag, n AS n_pairs,
 ROUND(CASE WHEN nd*sxx - sx*sx > 0.0 AND nd*syy - sy*sy > 0.0
  THEN (nd*sxy - sx*sy)/(SQRT(nd*sxx - sx*sx)*SQRT(nd*syy - sy*sy)) END, 6) AS acf
FROM f
"""


def q_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection (timeseries.cusum_scores): the classic
    recursion rewritten as cumulative-sum-minus-running-min window
    identities over DECIMAL-exact state; per type: the max upper/lower
    statistics and how many points breached the h=100 decision line."""
    evts = _t(spark, sf_dir, "events")
    cus = timeseries.cusum_scores(
        evts, ["event_type"], "ts", "value",
        target=50.0, slack=0.25, tie_col="event_id",
    )
    return cus.groupBy("event_type").agg(
        F.round(F.max("cusum_pos").cast("double"), 6).alias("max_pos"),
        F.round(F.max("cusum_neg").cast("double"), 6).alias("max_neg"),
        F.sum((F.col("cusum_pos") > 100).cast("long")).alias("n_alarm"),
    )


SQL_CUSUM_ALARMS = """
WITH b AS (SELECT event_type, ts, event_id,
  CAST(CAST(value AS DECIMAL(18,6)) - CAST('50.000000' AS DECIMAL(18,6))
       - CAST('0.250000' AS DECIMAL(18,6)) AS DECIMAL(28,6)) dpos,
  CAST(CAST('50.000000' AS DECIMAL(18,6)) - CAST(value AS DECIMAL(18,6))
       - CAST('0.250000' AS DECIMAL(18,6)) AS DECIMAL(28,6)) dneg
 FROM events WHERE value IS NOT NULL),
m AS (SELECT event_type, ts, event_id,
  SUM(dpos) OVER w mpos, SUM(dneg) OVER w mneg
 FROM b WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (SELECT event_type, mpos, mneg,
  LEAST(CAST('0' AS DECIMAL(28,6)), MIN(mpos) OVER w2) mnpos,
  LEAST(CAST('0' AS DECIMAL(28,6)), MIN(mneg) OVER w2) mnneg
 FROM m WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type,
  ROUND(CAST(MAX(mpos - mnpos) AS DOUBLE), 6) AS max_pos,
  ROUND(CAST(MAX(mneg - mnneg) AS DOUBLE), 6) AS max_neg,
  CAST(SUM(CASE WHEN mpos - mnpos > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm
FROM c GROUP BY event_type
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (dedup.winnowing_fingerprints — the MOSS
    algorithm, Schleimer et al. SIGMOD'03): k=5 char-gram hashes, w=4
    windows, min-per-window selection with positional tie-break; per-doc
    fingerprint count + decimal hash sum as the canonical summary."""
    docs = _t(spark, sf_dir, "documents")
    fp = dedup.winnowing_fingerprints(docs, "doc_id", "text", k=5, w=4)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.sum(F.col("fingerprint").cast("decimal(38,0)")).alias("fp_sum"),
    )


SQL_WINNOWING = r"""
WITH d AS (SELECT doc_id,
    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t FROM documents),
g AS (SELECT doc_id, CAST(u.i AS INT) pos,
   CAST(('0x' || substring(md5(substring(t, CAST(u.i AS INT), 5)), 1, 15))
        AS BIGINT) h
 FROM d, LATERAL unnest(generate_series(1, length(t) - 4)) u(i)
 WHERE length(t) >= 5),
w AS (SELECT doc_id,
   MIN(lpad(CAST(h AS VARCHAR),19,'0') || lpad(CAST(pos AS VARCHAR),8,'0'))
     OVER win selkey,
   COUNT(*) OVER win wn
 FROM g WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
sel AS (SELECT DISTINCT doc_id, selkey FROM w WHERE wn = 4)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
  SUM(CAST(CAST(substring(selkey,1,19) AS BIGINT) AS DECIMAL(38,0))) AS fp_sum
FROM sel GROUP BY doc_id
"""


QUERIES.update({
    "linreg_price_quantity": q_linreg_price_quantity,
    "linreg_residuals": q_linreg_residuals,
    "lang_id_auc": q_lang_id_auc,
    "confusion_threshold": q_confusion_threshold,
    "correlation_matrix": q_correlation_matrix,
    "events_autocorrelation": q_events_autocorrelation,
    "cusum_alarms": q_cusum_alarms,
    "winnowing_fingerprints": q_winnowing,
})

ORACLES.update({
    "linreg_price_quantity": SQL_LINREG_PRICE_QUANTITY,
    "linreg_residuals": SQL_LINREG_RESIDUALS,
    "lang_id_auc": SQL_LANG_ID_AUC,
    "confusion_threshold": SQL_CONFUSION_THRESHOLD,
    "correlation_matrix": SQL_CORRELATION_MATRIX,
    "events_autocorrelation": SQL_EVENTS_AUTOCORRELATION,
    "cusum_alarms": SQL_CUSUM_ALARMS,
    "winnowing_fingerprints": SQL_WINNOWING,
})


# --------------------------------------------------------------------------
# Round-5 batch 5 — statistics / audits / keyphrases
# --------------------------------------------------------------------------

def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categoricals (ml.mutual_information):
    the dependence screen correlation_matrix can't do — one groupBy on the
    (lang, source) joint, marginals as window sums over the tiny joint
    table, 12dp-rounded ln terms summed as exact decimals."""
    docs = _t(spark, sf_dir, "documents")
    return ml.mutual_information(docs, "lang", "source")


SQL_MUTUAL_INFORMATION = """
WITH j AS (SELECT lang a, source b, COUNT(*) nab FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
c AS (SELECT *, SUM(nab) OVER (PARTITION BY a) na,
       SUM(nab) OVER (PARTITION BY b) nb, SUM(nab) OVER () n FROM j),
t AS (SELECT n, CAST(ROUND((CAST(nab AS DOUBLE)/CAST(n AS DOUBLE))
        * LN((CAST(nab AS DOUBLE)*CAST(n AS DOUBLE))
             /(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE))), 12)
        AS DECIMAL(28,12)) term FROM c)
SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS mi FROM t
"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap percentile CI for the mean extended price of a
    1-in-10-order slice (ml.bootstrap_mean_ci, 32 replicas): per-row
    multiplicities are inverse-CDF Poisson(1) draws from md5-derived
    uniforms against literal cumulative thresholds; replica means are
    exact decimal sums / IEEE division; CI bounds are integer order
    statistics — every step engine-order-independent, so the oracle
    replays the full resampling bit-for-bit. The resampling complement
    of jackknife_ci."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    rows = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_extendedprice",
    )
    return ml.bootstrap_mean_ci(
        rows, "l_extendedprice", "rid", n_replicas=32, alpha=0.05
    )


def _bootstrap_oracle_sql() -> str:
    from ..operators.ml import POISSON1_CUM

    case = "CASE " + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CUM)
    ) + f" ELSE {len(POISSON1_CUM)} END"
    return f"""
WITH v AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid,
         CAST(l_extendedprice AS DECIMAL(28,6)) AS x
  FROM lineitem
  WHERE l_orderkey % 10 = 0 AND l_extendedprice IS NOT NULL
),
dg AS (
  -- one digest per (row, group-of-4-replicas): md5(salt || g || '_' || id)
  SELECT v.rid, v.x, t.g,
         md5('boot' || CAST(t.g AS VARCHAR) || '_'
             || CAST(v.rid AS VARCHAR)) AS d
  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS g) t
),
r AS (
  -- four 8-hex (32-bit) uniform slices per digest; replica b = g*4 + j
  SELECT dg.g * 4 + jt.j AS b, dg.rid, dg.x,
         CAST(('0x' || substring(dg.d, 1 + jt.j * 8, 8))::BIGINT AS DOUBLE)
           / 4294967296.0 AS u
  FROM dg CROSS JOIN (SELECT unnest(range(0, 4)) AS j) jt
),
reps AS (
  SELECT b, SUM(CAST(m AS DECIMAL(10,0)) * x) AS s, SUM(m) AS n
  FROM (SELECT b, x, {case} AS m FROM r)
  GROUP BY b HAVING SUM(m) > 0
),
ranked AS (
  SELECT CAST(s AS DOUBLE) / n AS mean,
         row_number() OVER (ORDER BY CAST(s AS DOUBLE) / n ASC) AS rk
  FROM reps
),
bounds AS (
  SELECT MAX(CASE WHEN rk = 1 THEN mean END) AS lo,
         MAX(CASE WHEN rk = 32 THEN mean END) AS hi
  FROM ranked
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS total FROM v
)
SELECT stats.n,
       ROUND(CAST(stats.total AS DOUBLE) / stats.n, 6) AS mean,
       ROUND(bounds.lo, 6) AS ci_lo,
       ROUND(bounds.hi, 6) AS ci_hi,
       CAST(32 AS INT) AS n_replicas
FROM stats CROSS JOIN bounds
"""


SQL_BOOTSTRAP_CI = _bootstrap_oracle_sql()


def q_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error for per-flag mean price
    (ml.jackknife_ci): 32 md5 hash buckets, leave-one-out means from
    (total − bucket) sums — one aggregate over the data, replicate
    arithmetic over 32 tiny rows, engine-order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    return ml.jackknife_ci(
        li, "l_extendedprice", n_buckets=32, hash_col="l_orderkey",
        by=["l_returnflag"],
    )


SQL_JACKKNIFE_CI = """
WITH b AS (SELECT l_returnflag g,
        CAST(('0x'||substring(md5(CAST(l_orderkey AS VARCHAR)),1,15))::BIGINT
             % 32 AS BIGINT) bkt,
        CAST(l_extendedprice AS DECIMAL(18,6)) v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
pb AS (SELECT g, bkt, COUNT(*) c, SUM(v) s FROM b GROUP BY 1, 2),
t AS (SELECT *, SUM(c) OVER (PARTITION BY g) n, SUM(s) OVER (PARTITION BY g) tot,
       COUNT(*) OVER (PARTITION BY g) gn FROM pb),
r AS (SELECT g, n, tot, gn,
       CAST(ROUND(CAST(tot - s AS DOUBLE)/CAST(n - c AS DOUBLE), 12)
            AS DECIMAL(28,12)) th FROM t),
a AS (SELECT g, MAX(n) n, MAX(tot) tot, MAX(gn) gn, SUM(th) ths,
       SUM(CAST(th*th AS DECIMAL(38,24))) thsq FROM r GROUP BY g)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
 ROUND(CAST(tot AS DOUBLE)/CAST(n AS DOUBLE), 6) AS mean,
 ROUND(SQRT(GREATEST(((CAST(gn AS DOUBLE)-1.0)/CAST(gn AS DOUBLE))
   * (CAST(thsq AS DOUBLE)
      - (CAST(ths AS DOUBLE)*CAST(ths AS DOUBLE))/CAST(gn AS DOUBLE)), 0.0)), 6)
   AS se_jack
FROM a
"""


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection (timeseries.seasonal_anomaly):
    per-point z against the point's own (type, hour-of-day) baseline —
    exact decimal moments, tiny baseline table joined back; aggregated
    to per-type anomaly counts + the worst excursion."""
    evts = _t(spark, sf_dir, "events")
    sa = timeseries.seasonal_anomaly(
        evts, ["event_type"], "ts", "value", season="hour"
    )
    return sa.groupBy("event_type").agg(
        F.sum((F.abs(F.col("z")) > 2).cast("long")).alias("n_anom"),
        F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
    )


SQL_SEASONAL_ANOMALY = """
WITH b AS (SELECT event_type, hour(ts) bucket, CAST(value AS DECIMAL(18,6)) v6,
        value FROM events WHERE value IS NOT NULL),
st AS (SELECT event_type, bucket, COUNT(*) n, SUM(v6) s,
        SUM(CAST(v6 AS DECIMAL(28,6))*CAST(v6 AS DECIMAL(28,6))) ss
       FROM b GROUP BY 1, 2),
z AS (SELECT b.event_type,
   ROUND(CASE WHEN st.n >= 2
          AND (CAST(st.n AS DOUBLE)*CAST(st.ss AS DOUBLE)
               - CAST(st.s AS DOUBLE)*CAST(st.s AS DOUBLE))
              /(CAST(st.n AS DOUBLE)*CAST(st.n AS DOUBLE)) > 0.0
    THEN (CAST(b.value AS DOUBLE) - CAST(st.s AS DOUBLE)/CAST(st.n AS DOUBLE))
         / SQRT((CAST(st.n AS DOUBLE)*CAST(st.ss AS DOUBLE)
                 - CAST(st.s AS DOUBLE)*CAST(st.s AS DOUBLE))
                /(CAST(st.n AS DOUBLE)*CAST(st.n AS DOUBLE))) END, 6) z
 FROM b JOIN st ON b.event_type = st.event_type AND b.bucket = st.bucket)
SELECT event_type,
  CAST(SUM(CASE WHEN ABS(z) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
  ROUND(MAX(ABS(z)), 6) AS max_abs_z
FROM z GROUP BY event_type
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per returnflag
    (transform.weighted_median): RANGE-frame cumulative weights make the
    tie handling deterministic; exact decimal weight sums."""
    li = _t(spark, sf_dir, "lineitem")
    return transform.weighted_median(
        li, "l_extendedprice", "l_quantity", by=["l_returnflag"]
    )


SQL_WEIGHTED_MEDIAN = """
WITH b AS (SELECT l_returnflag g, l_extendedprice v,
        CAST(l_quantity AS DECIMAL(18,6)) w
      FROM lineitem WHERE l_extendedprice IS NOT NULL
        AND l_quantity IS NOT NULL AND l_quantity > 0),
c AS (SELECT g, v,
       SUM(w) OVER (PARTITION BY g ORDER BY v
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cw,
       SUM(w) OVER (PARTITION BY g) tw FROM b)
SELECT g AS l_returnflag, MIN(v) AS weighted_median
FROM c WHERE cw*2 >= tw GROUP BY g
"""


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean price per returnflag (transform.winsorize at
    p05/p95): quantile interpolation spelled out as rank windows +
    lo + (hi−lo)·frac on decimal values so both engines run the
    identical float expression — never a builtin percentile."""
    li = _t(spark, sf_dir, "lineitem")
    wz = transform.winsorize(
        li, "l_extendedprice", by=["l_returnflag"], lower_q=0.05, upper_q=0.95
    )
    return wz.groupBy("l_returnflag").agg(
        F.round(
            F.avg(F.col("l_extendedprice_wins").cast("decimal(18,6)")), 4
        ).alias("wins_mean")
    )


SQL_WINSORIZED_MEAN = """
WITH b AS (SELECT l_returnflag g, CAST(l_extendedprice AS DECIMAL(18,6)) v,
        l_extendedprice raw FROM lineitem WHERE l_extendedprice IS NOT NULL),
r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) rn,
       COUNT(*) OVER (PARTITION BY g) n FROM b),
bounds AS (SELECT g,
  MAX(CASE WHEN rn = CAST(FLOOR(1.0 + CAST(n-1 AS DOUBLE)*0.05) AS BIGINT)
      THEN v END) lo_lo,
  MAX(CASE WHEN rn = CAST(CEIL(1.0 + CAST(n-1 AS DOUBLE)*0.05) AS BIGINT)
      THEN v END) lo_hi,
  MAX(1.0 + CAST(n-1 AS DOUBLE)*0.05
      - FLOOR(1.0 + CAST(n-1 AS DOUBLE)*0.05)) lo_f,
  MAX(CASE WHEN rn = CAST(FLOOR(1.0 + CAST(n-1 AS DOUBLE)*0.95) AS BIGINT)
      THEN v END) hi_lo,
  MAX(CASE WHEN rn = CAST(CEIL(1.0 + CAST(n-1 AS DOUBLE)*0.95) AS BIGINT)
      THEN v END) hi_hi,
  MAX(1.0 + CAST(n-1 AS DOUBLE)*0.95
      - FLOOR(1.0 + CAST(n-1 AS DOUBLE)*0.95)) hi_f
 FROM r GROUP BY g),
bb AS (SELECT g,
        CAST(lo_lo AS DOUBLE) + (CAST(lo_hi AS DOUBLE)-CAST(lo_lo AS DOUBLE))*lo_f lo,
        CAST(hi_lo AS DOUBLE) + (CAST(hi_hi AS DOUBLE)-CAST(hi_lo AS DOUBLE))*hi_f hi
       FROM bounds)
SELECT b.g AS l_returnflag,
  ROUND(AVG(CAST(LEAST(GREATEST(CAST(b.raw AS DOUBLE), bb.lo), bb.hi)
            AS DECIMAL(18,6))), 4) AS wins_mean
FROM b JOIN bb ON b.g = bb.g GROUP BY b.g
"""


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (profile.table_diff): orders vs a deterministically
    mutated copy (every 19th key dropped, every 7th price bumped) —
    FULL OUTER on the key carrying one md5 row-signature per side;
    per-status counts."""
    orders = _t(spark, sf_dir, "orders")
    mutated = (
        orders.where(F.col("o_orderkey") % 19 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
    )
    diff = profile.table_diff(
        orders, mutated, ["o_orderkey"],
        compare_cols=["o_totalprice", "o_orderstatus"],
    )
    return diff.groupBy("diff_status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


SQL_TABLE_DIFF = """
WITH mut AS (SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
             ELSE o_totalprice END o_totalprice,
        o_orderstatus FROM orders WHERE o_orderkey % 19 <> 0),
a AS (SELECT o_orderkey, md5(coalesce(CAST(o_totalprice AS VARCHAR), chr(0))
        || chr(31) || coalesce(CAST(o_orderstatus AS VARCHAR), chr(0))) ha
      FROM orders),
b AS (SELECT o_orderkey, md5(coalesce(CAST(o_totalprice AS VARCHAR), chr(0))
        || chr(31) || coalesce(CAST(o_orderstatus AS VARCHAR), chr(0))) hb
      FROM mut),
j AS (SELECT COALESCE(a.o_orderkey, b.o_orderkey) k, ha, hb
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
SELECT CASE WHEN ha IS NULL THEN 'added' WHEN hb IS NULL THEN 'removed'
        WHEN ha <> hb THEN 'changed' ELSE 'unchanged' END AS diff_status,
  CAST(COUNT(*) AS BIGINT) AS n
FROM j GROUP BY 1
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over extendedprice
    (profile.benford_audit): digit via pure double math (no string
    formatting), per-digit share vs log10(1+1/d) + χ² contribution."""
    li = _t(spark, sf_dir, "lineitem")
    return profile.benford_audit(li, "l_extendedprice")


SQL_BENFORD_AUDIT = """
WITH v AS (SELECT ABS(CAST(l_extendedprice AS DOUBLE)) v FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND ABS(CAST(l_extendedprice AS DOUBLE)) > 0),
d0 AS (SELECT CAST(FLOOR(v / POW(10.0, FLOOR(LOG10(v)))) AS INT) rd FROM v),
d AS (SELECT CAST(CASE WHEN rd = 0 THEN 9 WHEN rd = 10 THEN 1 ELSE rd END
               AS INT) digit FROM d0),
c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) n_obs FROM d GROUP BY digit),
t AS (SELECT *, SUM(n_obs) OVER () n FROM c)
SELECT digit, n_obs,
 ROUND(CAST(n_obs AS DOUBLE)/CAST(n AS DOUBLE), 6) AS "share",
 ROUND(LOG10(1.0 + 1.0/CAST(digit AS DOUBLE)), 6) AS expected,
 ROUND((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)*LOG10(1.0 + 1.0/CAST(digit AS DOUBLE)))
     * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)*LOG10(1.0 + 1.0/CAST(digit AS DOUBLE)))
     / (CAST(n AS DOUBLE)*LOG10(1.0 + 1.0/CAST(digit AS DOUBLE))), 6) AS chi2_term
FROM t
"""


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (textstats.rake_keyphrases, Rose et al.
    2010): stopword-bounded phrase candidates, degree/frequency word
    scores (8dp-rounded, decimal-summed per phrase), corpus top-20 by
    (score, phrase)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.rake_keyphrases(docs, top=20)


SQL_RAKE_KEYPHRASES = r"""
WITH tok AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id, unnest(list_transform(arr, (x, i) -> {'pos': i, 'w': x}),
                          recursive := true)
    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') arr
          FROM documents))
  WHERE w <> ''),
f AS (SELECT doc_id, pos, w,
   w IN ('the','a','an','and','or','of','to','in','on','for','with','is',
         'are','was','were','be','been','at','by','from','as','it','this',
         'that','these','those','not','but','if','then') is_stop
 FROM tok),
m AS (SELECT doc_id, pos, w,
   SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
     PARTITION BY doc_id ORDER BY pos
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pid,
   is_stop FROM f),
mem AS (SELECT doc_id, pid, pos, w FROM m WHERE NOT is_stop),
ph AS (SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) phrase, COUNT(*) plen
  FROM mem GROUP BY doc_id, pid HAVING COUNT(*) <= 4),
sm AS (SELECT mem.doc_id, mem.pid, mem.w, ph.plen
  FROM mem JOIN ph USING (doc_id, pid)),
ws AS (SELECT w, COUNT(*) freq, SUM(plen) deg FROM sm GROUP BY w),
wsc AS (SELECT w, CAST(ROUND(CAST(deg AS DOUBLE)/CAST(freq AS DOUBLE), 8)
         AS DECIMAL(28,8)) wscore FROM ws),
psc AS (SELECT sm.doc_id, sm.pid, SUM(wsc.wscore) score
  FROM sm JOIN wsc USING (w) GROUP BY sm.doc_id, sm.pid),
agg AS (SELECT ph.phrase, CAST(COUNT(*) AS BIGINT) n_occurrences,
         ROUND(CAST(MAX(psc.score) AS DOUBLE), 6) score
  FROM ph JOIN psc ON ph.doc_id = psc.doc_id AND ph.pid = psc.pid
  GROUP BY ph.phrase)
SELECT phrase, n_occurrences, score FROM agg
ORDER BY score DESC, phrase ASC LIMIT 20
"""


QUERIES.update({
    "mutual_information": q_mutual_information,
    "jackknife_ci": q_jackknife_ci,
    "bootstrap_ci": q_bootstrap_ci,
    "seasonal_anomaly": q_seasonal_anomaly,
    "weighted_median": q_weighted_median,
    "winsorized_mean": q_winsorized_mean,
    "table_diff": q_table_diff,
    "benford_audit": q_benford_audit,
    "rake_keyphrases": q_rake_keyphrases,
})

ORACLES.update({
    "mutual_information": SQL_MUTUAL_INFORMATION,
    "jackknife_ci": SQL_JACKKNIFE_CI,
    "bootstrap_ci": SQL_BOOTSTRAP_CI,
    "seasonal_anomaly": SQL_SEASONAL_ANOMALY,
    "weighted_median": SQL_WEIGHTED_MEDIAN,
    "winsorized_mean": SQL_WINSORIZED_MEAN,
    "table_diff": SQL_TABLE_DIFF,
    "benford_audit": SQL_BENFORD_AUDIT,
    "rake_keyphrases": SQL_RAKE_KEYPHRASES,
})


# --------------------------------------------------------------------------
# Round-5 batch 6 — funnels, trends, normalization, graph centrality
# --------------------------------------------------------------------------

def q_funnel_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (ev.funnel_stages within_seconds=86400):
    signup → view → click where each stage must land within 24h of the
    previous one, greedy first-match; per-depth user counts."""
    evts = _t(spark, sf_dir, "events")
    fw = ev.funnel_stages(
        evts, ["signup", "view", "click"], within_seconds=86400
    )
    return fw.groupBy("stages_reached").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


SQL_FUNNEL_WITHIN = """
WITH s1 AS (SELECT user_id, MIN(ts) t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 86400 SECONDS GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.ts) t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'click' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL 86400 SECONDS GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events
      WHERE event_type IN ('signup','view','click')),
r AS (SELECT u.user_id, CASE WHEN s3.user_id IS NOT NULL THEN 3
        WHEN s2.user_id IS NOT NULL THEN 2
        WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END sr
 FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
   LEFT JOIN s2 ON u.user_id = s2.user_id
   LEFT JOIN s3 ON u.user_id = s3.user_id)
SELECT CAST(sr AS BIGINT) AS stages_reached,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM r GROUP BY sr
"""


def q_trending_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-over-window trend ratios (ev.trending_counts): per-type
    daily counts + ratio to the previous day — one partial-aggregated
    shuffle, then a lag window over the tiny per-type series."""
    evts = _t(spark, sf_dir, "events")
    return ev.trending_counts(evts, bucket="day")


SQL_TRENDING_EVENTS = """
WITH c AS (SELECT event_type AS "type", CAST(ts AS DATE) bucket,
        CAST(COUNT(*) AS BIGINT) n FROM events GROUP BY 1, 2),
t AS (SELECT *, LAG(n) OVER (PARTITION BY "type" ORDER BY bucket) n_prev FROM c)
SELECT "type", bucket, n, n_prev,
  ROUND(CASE WHEN n_prev >= 1
        THEN CAST(n AS DOUBLE)/CAST(n_prev AS DOUBLE) END, 6) AS trend_ratio
FROM t
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (transform.quantile_normalize):
    each source's doc lengths mapped onto the global distribution at
    their midrank percentile (integer-exact p, explicit interpolation) —
    per-source mean of the normalized values proves the alignment."""
    docs = _t(spark, sf_dir, "documents")
    qn = transform.quantile_normalize(docs, ["source"], "n_chars")
    return qn.groupBy("source").agg(
        F.round(
            F.avg(F.col("n_chars_qnorm").cast("decimal(18,6)")), 4
        ).alias("mean_qnorm"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


SQL_QUANTILE_NORMALIZE = """
WITH b AS (SELECT source, CAST(n_chars AS DECIMAL(18,6)) v FROM documents
           WHERE n_chars IS NOT NULL),
r AS (SELECT source, v,
   COUNT(*) OVER (PARTITION BY source ORDER BY v
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) leq,
   COUNT(*) OVER (PARTITION BY source, v) tie,
   COUNT(*) OVER (PARTITION BY source) n FROM b),
g AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) pos FROM b),
ng AS (SELECT COUNT(*) n FROM b),
w AS (SELECT source, v,
   1.0 + CAST((SELECT n FROM ng) - 1 AS DOUBLE)
       * (CAST(2*(leq - tie) + tie AS DOUBLE) / CAST(2*n AS DOUBLE)) idx
 FROM r),
j AS (SELECT source,
   CAST(lo.v AS DOUBLE)
     + (CAST(hi.v AS DOUBLE) - CAST(lo.v AS DOUBLE)) * (idx - FLOOR(idx)) tgt
 FROM w JOIN g lo ON lo.pos = CAST(FLOOR(idx) AS BIGINT)
        JOIN g hi ON hi.pos = CAST(CEIL(idx) AS BIGINT))
SELECT source,
  ROUND(AVG(CAST(ROUND(tgt, 6) AS DECIMAL(18,6))), 4) AS mean_qnorm,
  CAST(COUNT(*) AS BIGINT) AS n
FROM j GROUP BY source
"""


def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop closeness + harmonic centrality for 3 seed customers
    over the symmetrized trade graph (graph.closeness_centrality): all
    seeds expand in ONE multi-round frontier loop; exact integer distance
    sums; 12dp-rounded reciprocal distances decimal-summed for
    harmonic."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    # dedup_edges=False: the trade graph is ~2% dups at sf0.1 — the
    # per-round candidate distinct covers correctness (see closeness docstring)
    return graph.closeness_centrality(
        edges, ["c1", "c2", "c3"], max_hops=3, dedup_edges=False
    )


SQL_CLOSENESS_CENTRALITY = """
WITH raw AS (SELECT DISTINCT 'c'||CAST(o_custkey AS VARCHAR) src,
                    's'||CAST(l_suppkey AS VARCHAR) dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
seeds AS (SELECT unnest(['c1','c2','c3']) seed),
d0 AS (SELECT seed, seed node, 0 hop FROM seeds),
d1 AS (SELECT * FROM d0 UNION ALL
  SELECT DISTINCT f.seed, e.dst, 1 FROM d0 f JOIN e ON f.node = e.src
  WHERE NOT EXISTS (SELECT 1 FROM d0 r WHERE r.seed = f.seed AND r.node = e.dst)),
d1x AS (SELECT seed, node, MIN(hop) hop FROM d1 GROUP BY 1, 2),
d2 AS (SELECT * FROM d1x UNION ALL
  SELECT DISTINCT f.seed, e.dst, 2 FROM d1x f JOIN e ON f.node = e.src
  WHERE f.hop = 1 AND NOT EXISTS
    (SELECT 1 FROM d1x r WHERE r.seed = f.seed AND r.node = e.dst)),
d2x AS (SELECT seed, node, MIN(hop) hop FROM d2 GROUP BY 1, 2),
d3 AS (SELECT * FROM d2x UNION ALL
  SELECT DISTINCT f.seed, e.dst, 3 FROM d2x f JOIN e ON f.node = e.src
  WHERE f.hop = 2 AND NOT EXISTS
    (SELECT 1 FROM d2x r WHERE r.seed = f.seed AND r.node = e.dst)),
d3x AS (SELECT seed, node, MIN(hop) hop FROM d3 GROUP BY 1, 2)
SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
 CAST(SUM(hop) AS BIGINT) AS sum_dist,
 ROUND(CASE WHEN SUM(hop) > 0
       THEN CAST(COUNT(*)-1 AS DOUBLE)/CAST(SUM(hop) AS DOUBLE) END, 6)
   AS closeness,
 ROUND(CAST(SUM(CAST(CASE WHEN hop > 0
        THEN ROUND(1.0/CAST(hop AS DOUBLE), 12) ELSE 0.0 END
        AS DECIMAL(28,12))) AS DOUBLE), 6) AS harmonic
FROM d3x GROUP BY seed
"""


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (graph.pagerank seeds=): teleport mass and
    the initial vector concentrate on 3 seed customers — rank becomes
    relevance-to-the-seeds, the graph-retrieval primitive. Same unrolled
    fixed-round oracle as plain pagerank with the seed-conditional
    teleport."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    pr = graph.pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_DAMPING, symmetrize=True,
        seeds=["c1", "c2", "c3"],
    )
    return pr.select("node", F.col("rank").alias("ppr"))


def _ppr_oracle_sql(iters: int, d: float, seeds: list[str]) -> str:
    """Unrolled personalized-PageRank rounds: uniform mass/teleport over
    the seed set instead of all nodes."""
    one_minus_d = repr(1.0 - d)
    seed_list = ", ".join(f"'{s}'" for s in seeds)
    k_seeds = len(seeds)
    parts = [
        f"""
WITH raw_edges AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM raw_edges
  UNION
  SELECT dst AS src, src AS dst FROM raw_edges
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
it0 AS (SELECT node,
  CASE WHEN node IN ({seed_list})
       THEN 1.0::DOUBLE / {k_seeds} ELSE 0.0::DOUBLE END AS pr
  FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
it{k} AS (
  SELECT nodes.node,
         CASE WHEN nodes.node IN ({seed_list})
              THEN {one_minus_d}::DOUBLE / {k_seeds}
              ELSE 0.0::DOUBLE END
           + {d!r}::DOUBLE * COALESCE(s.s, CAST(0 AS DOUBLE)) AS pr
  FROM nodes
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.pr / dg.deg) AS s
    FROM edges e
    JOIN it{k - 1} r ON e.src = r.node
    JOIN deg dg ON e.src = dg.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        )
    parts.append(f"\nSELECT node, ROUND(pr, 6) AS ppr FROM it{iters}")
    return "".join(parts)


SQL_PERSONALIZED_PAGERANK = _ppr_oracle_sql(
    _PR_ITERS, _PR_DAMPING, ["c1", "c2", "c3"]
)


QUERIES.update({
    "funnel_within": q_funnel_within,
    "trending_events": q_trending_events,
    "quantile_normalize": q_quantile_normalize,
    "closeness_centrality": q_closeness_centrality,
    "personalized_pagerank": q_personalized_pagerank,
})

ORACLES.update({
    "funnel_within": SQL_FUNNEL_WITHIN,
    "trending_events": SQL_TRENDING_EVENTS,
    "quantile_normalize": SQL_QUANTILE_NORMALIZE,
    "closeness_centrality": SQL_CLOSENESS_CENTRALITY,
    "personalized_pagerank": SQL_PERSONALIZED_PAGERANK,
})


# --------------------------------------------------------------------------
# Round-5 batch 7 — chi², concentration, fuzzy matching
# --------------------------------------------------------------------------

def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test lang × source
    (ml.chi2_independence): same tiny-joint shape as mutual_information,
    with the closed-form unobserved-cell correction N − Σe so empty
    cells never materialize; 8dp terms decimal-summed."""
    docs = _t(spark, sf_dir, "documents")
    return ml.chi2_independence(docs, "lang", "source")


SQL_CHI2_INDEPENDENCE = """
WITH j AS (SELECT lang a, source b, COUNT(*) nab FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
c AS (SELECT *, SUM(nab) OVER (PARTITION BY a) na,
  SUM(nab) OVER (PARTITION BY b) nb, SUM(nab) OVER () n FROM j),
k AS (SELECT COUNT(DISTINCT a) ka, COUNT(DISTINCT b) kb FROM j),
t AS (SELECT n,
  CAST(ROUND(((CAST(nab AS DOUBLE)
      - CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/CAST(n AS DOUBLE))
    *(CAST(nab AS DOUBLE)
      - CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/CAST(n AS DOUBLE)))
    /(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/CAST(n AS DOUBLE)), 8)
    AS DECIMAL(28,8)) term,
  CAST(ROUND(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/CAST(n AS DOUBLE), 8)
    AS DECIMAL(28,8)) e
 FROM c)
SELECT CAST(MAX(n) AS BIGINT) AS n,
  CAST((MAX(k.ka)-1)*(MAX(k.kb)-1) AS BIGINT) AS dof,
  ROUND(CAST(SUM(term) AS DOUBLE)
        + (CAST(MAX(n) AS DOUBLE) - CAST(SUM(e) AS DOUBLE)), 4) AS chi2
FROM t CROSS JOIN k
"""


def q_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier-revenue concentration
    (profile.concentration_metrics): HHI + Gini from exact decimal
    moments over per-supplier revenue — the skew/inequality audit."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue")
    )
    ent = rev.join(sup, rev["l_suppkey"] == sup["s_suppkey"]).select(
        "s_nationkey", "revenue"
    )
    return profile.concentration_metrics(ent, ["s_nationkey"], "revenue")


SQL_MARKET_CONCENTRATION = """
WITH rev AS (SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) revenue
  FROM lineitem GROUP BY l_suppkey),
ent AS (SELECT s_nationkey, CAST(revenue AS DECIMAL(18,6)) v
  FROM rev JOIN supplier ON l_suppkey = s_suppkey WHERE revenue IS NOT NULL),
r AS (SELECT s_nationkey, v,
    ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY v) i FROM ent),
a AS (SELECT s_nationkey, COUNT(*) n, SUM(v) sx,
  SUM(CAST(v AS DECIMAL(28,6))*CAST(v AS DECIMAL(28,6))) sxx,
  SUM(i*CAST(v AS DECIMAL(28,6))) six FROM r GROUP BY s_nationkey)
SELECT s_nationkey, CAST(n AS BIGINT) AS n,
 ROUND(CASE WHEN CAST(sx AS DOUBLE) > 0.0
   THEN CAST(sxx AS DOUBLE)/(CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) END, 6)
   AS hhi,
 ROUND(CASE WHEN CAST(sx AS DOUBLE) > 0.0
   THEN (2.0*CAST(six AS DOUBLE))/(CAST(n AS DOUBLE)*CAST(sx AS DOUBLE))
        - (CAST(n AS DOUBLE)+1.0)/CAST(n AS DOUBLE) END, 6) AS gini
FROM a
"""


def q_jaro_winkler_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler fuzzy matching over blocked customer-name pairs
    (dedup.jaro_winkler_pairs): last-3-char blocking, vectorized pandas
    UDF scoring over candidates only (a declared python-eval operator);
    the from-scratch JW is verified against DuckDB's builtin — the
    oracle is that builtin, so every score is independently checked.
    Aggregated to (n_pairs, decimal score sum) for the canonicalizer."""
    cust = _t(spark, sf_dir, "customer")
    out = dedup.jaro_winkler_pairs(cust, "c_custkey", "c_name", threshold=0.94)
    return out.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.sum(F.col("jw").cast("decimal(18,6)")), 4).alias("jw_sum"),
    )


SQL_JARO_WINKLER_MATCHES = """
WITH b AS (SELECT c_custkey id, c_name nm,
    substring(c_name, length(c_name)-2, 3) bk
  FROM customer WHERE c_name IS NOT NULL),
sz AS (SELECT bk FROM b GROUP BY bk HAVING COUNT(*) <= 500),
c AS (SELECT b.* FROM b JOIN sz USING (bk)),
p AS (SELECT a.id id_a, x.id id_b, a.nm na, x.nm nb
  FROM c a JOIN c x USING (bk) WHERE a.id < x.id),
s AS (SELECT DISTINCT id_a, id_b, na, nb,
    ROUND(jaro_winkler_similarity(na, nb), 6) jw FROM p
  WHERE jaro_winkler_similarity(na, nb) >= 0.94)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(SUM(CAST(jw AS DECIMAL(18,6))), 4) AS jw_sum FROM s
"""


QUERIES.update({
    "chi2_independence": q_chi2_independence,
    "market_concentration": q_market_concentration,
    "jaro_winkler_matches": q_jaro_winkler_matches,
})

ORACLES.update({
    "chi2_independence": SQL_CHI2_INDEPENDENCE,
    "market_concentration": SQL_MARKET_CONCENTRATION,
    "jaro_winkler_matches": SQL_JARO_WINKLER_MATCHES,
})


# --------------------------------------------------------------------------
# Round-5 batch 8 — diversity selection, privacy audit, skew join, IVM
# --------------------------------------------------------------------------

def q_kcenter_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity selection (similarity.kcenter_selection,
    Gonzalez 1985): 5 farthest-point rounds over EXACT decimal squared
    distances — the argmax never depends on float order, so the oracle
    unrolls the identical selection."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kcenter_selection(emb, k=5)


def _kcenter_oracle_sql(k: int, dim: int = 64) -> str:
    parts = [f"""
WITH e AS (SELECT vec_id id, embedding v FROM embeddings
           WHERE embedding IS NOT NULL),
dims AS (SELECT unnest(generate_series(1, {dim})) i),
s0 AS (SELECT 0 r, MIN(id) id FROM e),
m0 AS (
  SELECT e.id,
    SUM(CAST(CAST(e.v[dims.i] AS DECIMAL(18,12))
             - CAST(s.v[dims.i] AS DECIMAL(18,12)) AS DECIMAL(18,12))
      * CAST(CAST(e.v[dims.i] AS DECIMAL(18,12))
             - CAST(s.v[dims.i] AS DECIMAL(18,12)) AS DECIMAL(18,12))) mind
  FROM e CROSS JOIN dims
  JOIN e s ON s.id = (SELECT id FROM s0)
  GROUP BY e.id)"""]
    for r in range(1, k):
        prev_sel = " UNION ALL ".join(f"SELECT id FROM s{i}" for i in range(r))
        parts.append(f""",
s{r} AS (
  SELECT {r} r, id FROM m{r - 1}
  WHERE id NOT IN ({prev_sel})
  ORDER BY mind DESC, id ASC LIMIT 1)""")
        if r < k - 1:
            parts.append(f""",
m{r} AS (
  SELECT e.id, LEAST(m{r - 1}.mind,
    (SELECT SUM(CAST(CAST(e.v[d.i] AS DECIMAL(18,12))
                - CAST(s.v[d.i] AS DECIMAL(18,12)) AS DECIMAL(18,12))
       * CAST(CAST(e.v[d.i] AS DECIMAL(18,12))
              - CAST(s.v[d.i] AS DECIMAL(18,12)) AS DECIMAL(18,12)))
     FROM dims d JOIN e s ON s.id = (SELECT id FROM s{r}))) mind
  FROM e JOIN m{r - 1} USING (id))""")
    union = " UNION ALL ".join(
        f"SELECT CAST(r AS INT) rank, CAST(id AS BIGINT) id FROM s{i}"
        for i in range(k)
    )
    parts.append("\n" + union)
    return "".join(parts)


SQL_KCENTER_SELECTION = _kcenter_oracle_sql(5)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (nation, market segment) quasi-identifiers
    (profile.k_anonymity): equivalence-class size distribution + the
    below-k violation flag — the privacy pre-release check."""
    cust = _t(spark, sf_dir, "customer")
    return profile.k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)


SQL_K_ANONYMITY = """
WITH cls AS (SELECT c_nationkey, c_mktsegment, COUNT(*) sz
             FROM customer GROUP BY 1, 2)
SELECT sz AS class_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
  CAST(sz * COUNT(*) AS BIGINT) AS n_rows, sz < 5 AS violates
FROM cls GROUP BY sz
"""


def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join maintenance (joins.incremental_join_update): the
    delta rule ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR unioned onto the previous result —
    refreshing a materialized join at O(Δ). Oracle: the full recompute,
    which the incremental result must equal exactly."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    lo = li.where(F.col("l_orderkey") % 10 != 0)
    ld = li.where(F.col("l_orderkey") % 10 == 0)
    oo = orders.where(F.col("l_orderkey") % 7 != 0)
    od = orders.where(F.col("l_orderkey") % 7 == 0)
    prev = lo.join(oo, "l_orderkey")
    upd = joins.incremental_join_update(prev, lo, oo, ld, od, on="l_orderkey")
    return upd.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2
        ).alias("rev"),
    )


SQL_INCREMENTAL_JOIN = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS rev
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


QUERIES.update({
    "kcenter_selection": q_kcenter_selection,
    "k_anonymity": q_k_anonymity,
    "incremental_join": q_incremental_join,
})

ORACLES.update({
    "kcenter_selection": SQL_KCENTER_SELECTION,
    "k_anonymity": SQL_K_ANONYMITY,
    "incremental_join": SQL_INCREMENTAL_JOIN,
})


# --------------------------------------------------------------------------
# Round-5 batch 9 — community quality, point-in-time lookup
# --------------------------------------------------------------------------

def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the customer/supplier bipartite split over
    the trade graph (graph.modularity): strongly negative by
    construction — every edge crosses the split. Exact integer counts,
    8dp-decimal-summed terms."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    # labels straight from the BASE key tables (a superset of the graph's
    # nodes is harmless — modularity's label joins drop absent nodes): the
    # earlier nodes-distinct-over-edges derivation re-ran the whole
    # orders⋈lineitem build once per label side inside the tagged
    # materialization (3× edge build); these are broadcast-sized dimensions
    cust = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node")
    )
    labels = cust.unionByName(supp).withColumn(
        "label", F.substring("node", 1, 1)
    )
    return graph.modularity(edges, labels)


SQL_COMMUNITY_MODULARITY = """
WITH raw AS (SELECT DISTINCT 'c'||CAST(o_custkey AS VARCHAR) src,
                    's'||CAST(l_suppkey AS VARCHAR) dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
e AS (SELECT DISTINCT LEAST(src,dst) a, GREATEST(src,dst) b
      FROM raw WHERE src <> dst),
lab AS (SELECT node, substring(node,1,1) l FROM
  (SELECT DISTINCT a node FROM e UNION SELECT DISTINCT b FROM e)),
tg AS (SELECT e.a, e.b, la.l la, lb.l lb FROM e
  JOIN lab la ON e.a = la.node JOIN lab lb ON e.b = lb.node),
m AS (SELECT COUNT(*) m FROM tg),
ec AS (SELECT la c, COUNT(*) ec FROM tg WHERE la = lb GROUP BY la),
deg AS (SELECT c, COUNT(*) dc FROM
  (SELECT la c FROM tg UNION ALL SELECT lb FROM tg) GROUP BY c),
per AS (SELECT deg.c, COALESCE(ec.ec, 0) ec, deg.dc
        FROM deg LEFT JOIN ec USING (c)),
t AS (SELECT CAST(ROUND(CAST(ec AS DOUBLE)/CAST(m.m AS DOUBLE)
  - (CAST(dc AS DOUBLE)/(2.0*CAST(m.m AS DOUBLE)))
    *(CAST(dc AS DOUBLE)/(2.0*CAST(m.m AS DOUBLE))), 8) AS DECIMAL(28,8)) term,
  m.m FROM per CROSS JOIN m)
SELECT CAST(MAX(m) AS BIGINT) AS n_edges,
  CAST(COUNT(*) AS BIGINT) AS n_communities,
  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS modularity FROM t
"""


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (star.scd2_lookup): every event
    joined to the SCD2 attribute version valid AT its timestamp — the
    as-was feature-store join; exactly-one-version fan-out by SCD2
    construction. Aggregated per looked-up attribute value."""
    evts = _t(spark, sf_dir, "events")
    dim = star.scd2_from_events(
        evts, "user_id", ["event_type"], "ts", tiebreak_cols=["event_id"]
    )
    facts = evts.select("user_id", "ts", "event_id")
    out = star.scd2_lookup(facts, dim, "user_id", "ts", ["event_type"])
    return out.groupBy("dim_event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


SQL_SCD2_LOOKUP = """
WITH o AS (SELECT user_id, ts, event_id, event_type,
   LAG(event_type) OVER w p
 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (SELECT *, SUM(CASE WHEN p IS NULL OR p <> event_type THEN 1 ELSE 0 END)
   OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run
 FROM o),
v AS (SELECT user_id, run, event_type, MIN(ts) valid_from FROM runs
      GROUP BY 1, 2, 3),
dim AS (SELECT user_id, event_type, valid_from,
   LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run) valid_to
 FROM v),
j AS (SELECT e.event_id, d.event_type det
 FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
   AND e.ts >= d.valid_from AND (d.valid_to IS NULL OR e.ts < d.valid_to))
SELECT det AS dim_event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM j GROUP BY det
"""


QUERIES.update({
    "community_modularity": q_community_modularity,
    "scd2_lookup": q_scd2_lookup,
})

ORACLES.update({
    "community_modularity": SQL_COMMUNITY_MODULARITY,
    "scd2_lookup": SQL_SCD2_LOOKUP,
})


# --------------------------------------------------------------------------
# Round-5 batch 10 — ML evaluation + splitting + domain overlap
# --------------------------------------------------------------------------

def q_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass classification report (ml.macro_f1): per-class
    one-vs-rest P/R/F1 from the exact confusion matrix + macro row
    (undefined classes contribute 0, sklearn zero_division=0). The
    synthetic predictor agrees with the lang label except on
    n_chars%3==0 docs, which it calls 'xx'."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull()
    ).withColumn(
        "pred",
        F.when(F.col("n_chars") % 3 != 0, F.col("lang")).otherwise(F.lit("xx")),
    )
    return ml.macro_f1(docs, "pred", "lang")


SQL_MACRO_F1 = """
WITH d AS (SELECT lang lab,
    CASE WHEN n_chars % 3 <> 0 THEN lang ELSE 'xx' END pred
  FROM documents WHERE lang IS NOT NULL),
cm AS (SELECT lab, pred, COUNT(*) n FROM d GROUP BY 1, 2),
cls AS (SELECT DISTINCT lab cls FROM cm UNION SELECT DISTINCT pred FROM cm),
tp AS (SELECT lab cls, n tp FROM cm WHERE lab = pred),
pt AS (SELECT pred cls, SUM(n) pt FROM cm GROUP BY pred),
lt AS (SELECT lab cls, SUM(n) lt FROM cm GROUP BY lab),
per AS (SELECT cls.cls, COALESCE(tp.tp,0) tp,
  COALESCE(pt.pt,0) - COALESCE(tp.tp,0) fp,
  COALESCE(lt.lt,0) - COALESCE(tp.tp,0) fn,
  COALESCE(pt.pt,0) ptv, COALESCE(lt.lt,0) ltv
 FROM cls LEFT JOIN tp USING (cls) LEFT JOIN pt USING (cls)
   LEFT JOIN lt USING (cls)),
scored AS (SELECT cls "class", CAST(tp AS BIGINT) tp, CAST(fp AS BIGINT) fp,
  CAST(fn AS BIGINT) fn,
  ROUND(CASE WHEN ptv > 0 THEN CAST(tp AS DOUBLE)/CAST(ptv AS DOUBLE) END, 6)
    "precision",
  ROUND(CASE WHEN ltv > 0 THEN CAST(tp AS DOUBLE)/CAST(ltv AS DOUBLE) END, 6)
    recall,
  ROUND(CASE WHEN 2*tp + fp + fn > 0
    THEN (2.0*CAST(tp AS DOUBLE))
         /(2.0*CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)+CAST(fn AS DOUBLE)) END, 6)
    f1
 FROM per),
macro AS (SELECT '__macro__' "class", CAST(SUM(tp) AS BIGINT) tp,
  CAST(SUM(fp) AS BIGINT) fp, CAST(SUM(fn) AS BIGINT) fn,
  ROUND(CAST(SUM(CAST(ROUND(COALESCE("precision",0.0),8) AS DECIMAL(28,8)))
        AS DOUBLE)/COUNT(*), 6) "precision",
  ROUND(CAST(SUM(CAST(ROUND(COALESCE(recall,0.0),8) AS DECIMAL(28,8)))
        AS DOUBLE)/COUNT(*), 6) recall,
  ROUND(CAST(SUM(CAST(ROUND(COALESCE(f1,0.0),8) AS DECIMAL(28,8)))
        AS DOUBLE)/COUNT(*), 6) f1
 FROM scored)
SELECT * FROM scored UNION ALL SELECT * FROM macro
"""


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (ml.calibration_bins): decile buckets of
    a synthetic [0,1) score vs observed is-English rate — mean-score/
    pos-rate pairs from exact decimal sums."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
        .withColumn("score", (F.col("n_chars") % 100).cast("double") / 100.0)
        .withColumn("label", (F.col("lang") == "en").cast("int"))
    )
    return ml.calibration_bins(docs, "score", "label", n_bins=10)


SQL_CALIBRATION_BINS = """
WITH d AS (SELECT CAST(n_chars % 100 AS DOUBLE)/100.0 s,
  CASE WHEN lang='en' THEN 1 ELSE 0 END lab FROM documents
 WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
b AS (SELECT LEAST(CAST(FLOOR(s*10) AS INT), 9) bin, s, lab FROM d
      WHERE s >= 0 AND s <= 1)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(CAST(s AS DECIMAL(18,12))) AS DOUBLE)/COUNT(*), 6)
    AS mean_score,
  ROUND(CAST(SUM(lab) AS DOUBLE)/COUNT(*), 6) AS pos_rate
FROM b GROUP BY bin
"""


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/test split
    (transform.stratified_split): md5-ordered exact 20% per priority
    stratum — every stratum lands exactly on floor(n·frac), reproducible
    at any partitioning. Per-(stratum, split) counts."""
    orders = _t(spark, sf_dir, "orders")
    sp = transform.stratified_split(
        orders, ["o_orderpriority"], test_frac=0.2, hash_col="o_orderkey"
    )
    return sp.groupBy("o_orderpriority", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


SQL_STRATIFIED_SPLIT = """
WITH r AS (SELECT o_orderpriority,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY md5(CAST(o_orderkey AS VARCHAR))) rn,
    COUNT(*) OVER (PARTITION BY o_orderpriority) n FROM orders)
SELECT o_orderpriority,
  CASE WHEN rn <= (n * 200000) // 1000000 THEN 'test' ELSE 'train' END
    AS split,
  CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1, 2
"""


def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cosine matrix (similarity.centroid_similarity):
    exact decimal per-dimension means, 12dp-rounded products
    decimal-summed — the domain-overlap diagnostic over embedding
    clusters."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_similarity(emb, "label")


SQL_CENTROID_SIMILARITY = """
WITH cells AS (
  SELECT label g, pos d, CAST(x AS DECIMAL(18,12)) v FROM (
    SELECT label, unnest(list_transform(embedding,
           (x, i) -> {'pos': i, 'x': x}), recursive := true)
    FROM embeddings WHERE embedding IS NOT NULL)),
cent AS (SELECT g, d, CAST(SUM(v) AS DOUBLE)/COUNT(*) c FROM cells
         GROUP BY g, d),
p AS (SELECT a.g ga, b.g gb,
  SUM(CAST(ROUND(a.c*b.c, 12) AS DECIMAL(38,12))) dot,
  SUM(CAST(ROUND(a.c*a.c, 12) AS DECIMAL(38,12))) na,
  SUM(CAST(ROUND(b.c*b.c, 12) AS DECIMAL(38,12))) nb
 FROM cent a JOIN cent b ON a.d = b.d AND a.g < b.g GROUP BY 1, 2)
SELECT ga AS group_a, gb AS group_b,
 ROUND(CASE WHEN na > 0 AND nb > 0
   THEN CAST(dot AS DOUBLE)/(SQRT(CAST(na AS DOUBLE))*SQRT(CAST(nb AS DOUBLE)))
   END, 6) AS cosine
FROM p
"""


QUERIES.update({
    "macro_f1": q_macro_f1,
    "calibration_bins": q_calibration_bins,
    "stratified_split": q_stratified_split,
    "centroid_similarity": q_centroid_similarity,
})

ORACLES.update({
    "macro_f1": SQL_MACRO_F1,
    "calibration_bins": SQL_CALIBRATION_BINS,
    "stratified_split": SQL_STRATIFIED_SPLIT,
    "centroid_similarity": SQL_CENTROID_SIMILARITY,
})


# --------------------------------------------------------------------------
# Round-5 batch 11 — forecasting baseline + data contracts
# --------------------------------------------------------------------------

def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest (timeseries.seasonal_naive_backtest):
    same-day-last-week prediction per event type; MAE from exact decimal
    errors, MAPE from 12dp-decimal-summed ratios — the baseline every
    forecaster must beat."""
    evts = _t(spark, sf_dir, "events")
    return timeseries.seasonal_naive_backtest(
        evts, ["event_type"], "ts", "value", season_lag=7
    )


SQL_SEASONAL_NAIVE_BACKTEST = """
WITH per AS (SELECT event_type, CAST(ts AS DATE) b,
    SUM(CAST(value AS DECIMAL(18,6))) v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
fc AS (SELECT cur.event_type, cur.v, prev.v f
  FROM per cur JOIN per prev
    ON cur.event_type = prev.event_type AND cur.b = prev.b + INTERVAL 7 DAYS),
e AS (SELECT event_type, v, f, ABS(v - f) ae,
    CASE WHEN v <> 0 THEN CAST(ROUND(CAST(ABS(v-f) AS DOUBLE)
        /CAST(ABS(v) AS DOUBLE), 12) AS DECIMAL(28,12)) END ape
  FROM fc WHERE f IS NOT NULL)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
  ROUND(CAST(SUM(ae) AS DOUBLE)/COUNT(*), 6) AS mae,
  ROUND(CASE WHEN SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) > 0
    THEN CAST(SUM(ape) AS DOUBLE)
         /SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) END, 6) AS mape
FROM e GROUP BY event_type
"""


def q_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract CI gate (profile.data_contract_report over the
    standard star suite): PK uniqueness, both FK orphan directions,
    not-null, range — one (check, n_violations, passed) row each."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    checks = profile.contract_checks_star(orders, li, cust)
    return profile.data_contract_report(checks)


SQL_DATA_CONTRACT = """
SELECT 'orders_pk_unique' AS "check",
  CAST((SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations,
  (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1)) = 0 AS passed
UNION ALL SELECT 'lineitem_fk_orders',
  CAST((SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
  (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
UNION ALL SELECT 'orders_fk_customer',
  CAST((SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
  (SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
UNION ALL SELECT 'lineitem_price_not_null',
  CAST((SELECT COUNT(*) FROM lineitem WHERE l_extendedprice IS NULL) AS BIGINT),
  (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice IS NULL) = 0
UNION ALL SELECT 'lineitem_discount_range',
  CAST((SELECT COUNT(*) FROM lineitem
        WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
  (SELECT COUNT(*) FROM lineitem
        WHERE l_discount < 0 OR l_discount > 1) = 0
"""


QUERIES.update({
    "seasonal_naive_backtest": q_seasonal_naive_backtest,
    "data_contract": q_data_contract,
})

ORACLES.update({
    "seasonal_naive_backtest": SQL_SEASONAL_NAIVE_BACKTEST,
    "data_contract": SQL_DATA_CONTRACT,
})


# --------------------------------------------------------------------------
# Round-5 batch 12 — OLAP shares, rate CIs, burstiness
# --------------------------------------------------------------------------

def q_hierarchical_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup (transform.hierarchical_shares): order
    value shares at every level of priority → status — ONE ROLLUP
    aggregate + broadcast parent joins; exact decimal sums."""
    orders = _t(spark, sf_dir, "orders")
    return transform.hierarchical_shares(
        orders, ["o_orderpriority", "o_orderstatus"], "o_totalprice"
    )


SQL_HIERARCHICAL_SHARES = """
WITH l2 AS (SELECT o_orderpriority, o_orderstatus,
    SUM(CAST(o_totalprice AS DECIMAL(18,6))) t
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
l1 AS (SELECT o_orderpriority, SUM(t) t FROM l2 GROUP BY 1),
l0 AS (SELECT SUM(t) t FROM l1)
SELECT 0 AS "level", NULL AS o_orderpriority, NULL AS o_orderstatus,
  ROUND(t, 2) AS total, 1.0 AS "share" FROM l0
UNION ALL
SELECT 1, l1.o_orderpriority, NULL, ROUND(l1.t, 2),
  ROUND(CAST(l1.t AS DOUBLE)/CAST(l0.t AS DOUBLE), 6)
FROM l1 CROSS JOIN l0
UNION ALL
SELECT 2, l2.o_orderpriority, l2.o_orderstatus, ROUND(l2.t, 2),
  ROUND(CAST(l2.t AS DOUBLE)/CAST(l1.t AS DOUBLE), 6)
FROM l2 JOIN l1 USING (o_orderpriority)
"""


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% CI on a per-type success rate (ml.wilson_ci): the
    proper small-n proportion interval; exact counts, fixed closed-form
    double expression."""
    evts = _t(spark, sf_dir, "events").withColumn(
        "success", (F.col("value") > 50).cast("int")
    )
    return ml.wilson_ci(evts, "success", by=["event_type"])


SQL_WILSON_CI = """
WITH a AS (SELECT event_type, COUNT(*) n,
    SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) s
  FROM events WHERE value IS NOT NULL GROUP BY event_type),
f AS (SELECT event_type, CAST(n AS BIGINT) n, CAST(n AS DOUBLE) nd,
  CAST(s AS DOUBLE)/CAST(n AS DOUBLE) p, 1.959963984540054 z FROM a)
SELECT event_type, n, ROUND(p, 6) AS rate,
 ROUND((p + z*z/(2.0*nd))/(1.0 + z*z/nd)
   - z*SQRT(p*(1.0-p)/nd + z*z/(4.0*nd*nd))/(1.0 + z*z/nd), 6) AS ci_lo,
 ROUND((p + z*z/(2.0*nd))/(1.0 + z*z/nd)
   + z*SQRT(p*(1.0-p)/nd + z*z/(4.0*nd*nd))/(1.0 + z*z/nd), 6) AS ci_hi
FROM f
"""


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile (timeseries.interarrival_stats): per-type
    inter-arrival mean/std/CV from exact microsecond gaps — CV≈1
    Poisson, >1 bursty."""
    evts = _t(spark, sf_dir, "events")
    return timeseries.interarrival_stats(
        evts, ["event_type"], "ts", tie_col="event_id"
    )


SQL_INTERARRIVAL_STATS = """
WITH g AS (SELECT event_type,
   CAST(CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
       PARTITION BY event_type ORDER BY ts, event_id) AS DOUBLE)/1e6
     AS DECIMAL(18,6)) gp
  FROM events),
gg AS (SELECT event_type, gp FROM g WHERE gp IS NOT NULL),
a AS (SELECT event_type, COUNT(*) n, SUM(gp) s,
  SUM(CAST(gp AS DECIMAL(28,6))*CAST(gp AS DECIMAL(28,6))) ss
  FROM gg GROUP BY event_type),
f AS (SELECT event_type, CAST(n AS BIGINT) n, CAST(n AS DOUBLE) nd,
  CAST(s AS DOUBLE) sd, CAST(ss AS DOUBLE) ssd FROM a)
SELECT event_type, n AS n_gaps, ROUND(sd/nd, 6) AS mean_gap_s,
 ROUND(SQRT(GREATEST((nd*ssd - sd*sd)/(nd*nd), 0.0)), 6) AS std_gap_s,
 ROUND(CASE WHEN sd/nd <> 0.0
   THEN SQRT(GREATEST((nd*ssd - sd*sd)/(nd*nd), 0.0))/(sd/nd) END, 6) AS cv
FROM f
"""


QUERIES.update({
    "hierarchical_shares": q_hierarchical_shares,
    "wilson_ci": q_wilson_ci,
    "interarrival_stats": q_interarrival_stats,
})

ORACLES.update({
    "hierarchical_shares": SQL_HIERARCHICAL_SHARES,
    "wilson_ci": SQL_WILSON_CI,
    "interarrival_stats": SQL_INTERARRIVAL_STATS,
})


def q_bitmap_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT pairwise audience overlap from mergeable bitmap states
    (aggstate.bitmap_intersection_counts): |A∩B| by inclusion-exclusion
    over OR-merged buckets — no fact rescan, no bit-AND primitive
    needed. Oracle: literal COUNT(DISTINCT) set arithmetic."""
    evts = _t(spark, sf_dir, "events").select("event_type", "user_id")
    state = aggstate.bitmap_distinct_state(evts, ["event_type"], "user_id")
    return aggstate.bitmap_intersection_counts(state, "event_type")


SQL_BITMAP_INTERSECTIONS = """
WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
k AS (SELECT event_type, COUNT(DISTINCT user_id) n FROM e GROUP BY event_type),
p AS (SELECT a.event_type key_a, b.event_type key_b, a.n n_a, b.n n_b
  FROM k a JOIN k b ON a.event_type < b.event_type),
u AS (SELECT p.key_a, p.key_b, COUNT(DISTINCT e.user_id) n_union
  FROM p JOIN e ON e.event_type = p.key_a OR e.event_type = p.key_b
  GROUP BY 1, 2)
SELECT p.key_a, p.key_b, CAST(p.n_a AS BIGINT) AS n_a,
  CAST(p.n_b AS BIGINT) AS n_b, CAST(u.n_union AS BIGINT) AS n_union,
  CAST(p.n_a + p.n_b - u.n_union AS BIGINT) AS n_intersect
FROM p JOIN u ON p.key_a = u.key_a AND p.key_b = u.key_b
"""


QUERIES.update({"bitmap_intersections": q_bitmap_intersections})
ORACLES.update({"bitmap_intersections": SQL_BITMAP_INTERSECTIONS})


def q_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-EVALUATING blocking-quality harness: precision/recall of
    SimHash 16-bit-band blocking against EXACT jaccard>=0.5 ground truth
    (setsim_prefix_pairs) on a 1/7 doc slice — every stage is an already
    oracle-verified operator, composed. The measured result is itself
    the lesson: simhash Hamming-band candidates are high-precision but
    LOW-recall for word-jaccard-0.5 pairs (simhash approximates cosine
    over token multisets, not jaccard), which is exactly why the
    MinHash-LSH family is the production near-dup path and simhash is
    the near-duplicate-text detector."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    truth = dedup.setsim_prefix_pairs(docs, "doc_id", "text", threshold=0.5)
    sigs = dedup.simhash_signatures(docs, "text", bits=60, algo="md5")
    bands = dedup.simhash_bands(sigs, "doc_id")
    a = bands.select(F.col("doc_id").alias("id_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("id_b"), "band_id", "band_key")
    cands = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    hits = cands.join(truth.select("id_a", "id_b"), ["id_a", "id_b"])
    out = (
        cands.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .crossJoin(
            truth.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
        )
        .crossJoin(
            hits.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        )
    )
    return out.select(
        "n_truth", "n_candidates", "n_hits",
        F.round(
            F.when(
                F.col("n_candidates") > 0,
                F.col("n_hits").cast("double") / F.col("n_candidates").cast("double"),
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(
                F.col("n_truth") > 0,
                F.col("n_hits").cast("double") / F.col("n_truth").cast("double"),
            ),
            6,
        ).alias("recall"),
    )


SQL_NEARDUP_EVAL = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
sets AS (SELECT doc_id,
    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) tk FROM d),
sets2 AS (SELECT doc_id, tk, len(tk) sz FROM sets WHERE len(tk) > 0),
truth AS (SELECT a.doc_id id_a, b.doc_id id_b
  FROM sets2 a JOIN sets2 b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        / CAST(a.sz + b.sz - len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        >= 0.5),
tok AS (SELECT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) token FROM d),
hashed AS (SELECT doc_id,
    CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) h FROM tok),
votes AS (SELECT doc_id, bit,
   SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) vote
  FROM hashed, (SELECT unnest(range(60)) AS bit) GROUP BY doc_id, bit),
sigs AS (SELECT doc_id,
   SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) sh
  FROM votes GROUP BY doc_id),
allsigs AS (SELECT d.doc_id, CAST(COALESCE(s.sh, 0) AS BIGINT) sh
  FROM d LEFT JOIN sigs s ON d.doc_id = s.doc_id),
bands AS (SELECT doc_id, b band_id, (sh >> (16*b)) & 65535 band_key
  FROM allsigs, (SELECT unnest(range(4)) AS b)),
cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id),
hits AS (SELECT c.id_a, c.id_b FROM cands c JOIN truth t USING (id_a, id_b)),
agg AS (SELECT (SELECT COUNT(*) FROM truth) nt,
        (SELECT COUNT(*) FROM cands) nc, (SELECT COUNT(*) FROM hits) nh)
SELECT CAST(nt AS BIGINT) AS n_truth, CAST(nc AS BIGINT) AS n_candidates,
  CAST(nh AS BIGINT) AS n_hits,
  ROUND(CASE WHEN nc > 0 THEN CAST(nh AS DOUBLE)/CAST(nc AS DOUBLE) END, 6)
    AS "precision",
  ROUND(CASE WHEN nt > 0 THEN CAST(nh AS DOUBLE)/CAST(nt AS DOUBLE) END, 6)
    AS recall
FROM agg
"""


QUERIES.update({"neardup_eval": q_neardup_eval})
ORACLES.update({"neardup_eval": SQL_NEARDUP_EVAL})


def q_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion-latency profile: the ordered funnel's
    stage timestamps (ev.funnel_stages — greedy first-match, the same
    machinery as funnel/funnel_within) turned into an exact latency
    distribution summary (mean from decimal sums, min/max)."""
    evts = _t(spark, sf_dir, "events")
    fs = ev.funnel_stages(evts, ["signup", "purchase"])
    lat = fs.withColumn(
        "lat_s",
        F.when(
            F.col("stage_2_ts").isNotNull(),
            (
                F.unix_micros(F.col("stage_2_ts").cast("timestamp"))
                - F.unix_micros(F.col("stage_1_ts").cast("timestamp"))
            ).cast("double")
            / 1e6,
        ),
    )
    return lat.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("lat_s").isNotNull().cast("long")).alias("n_converted"),
        F.round(
            F.sum(F.col("lat_s").cast("decimal(18,6)")).cast("double")
            / F.sum(F.col("lat_s").isNotNull().cast("long")),
            4,
        ).alias("mean_latency_s"),
        F.round(F.min("lat_s"), 4).alias("min_latency_s"),
        F.round(F.max("lat_s"), 4).alias("max_latency_s"),
    )


SQL_TIME_TO_CONVERSION = """
WITH s1 AS (SELECT user_id, MIN(ts) t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) t2 FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events
      WHERE event_type IN ('signup','purchase')),
lat AS (SELECT u.user_id,
   CASE WHEN s2.t2 IS NOT NULL
     THEN CAST(epoch_us(s2.t2) - epoch_us(s1.t1) AS DOUBLE)/1e6 END lat_s
  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN lat_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_converted,
  ROUND(CAST(SUM(CAST(lat_s AS DECIMAL(18,6))) AS DOUBLE)
        / SUM(CASE WHEN lat_s IS NOT NULL THEN 1 ELSE 0 END), 4)
    AS mean_latency_s,
  ROUND(MIN(lat_s), 4) AS min_latency_s,
  ROUND(MAX(lat_s), 4) AS max_latency_s
FROM lat
"""


QUERIES.update({"time_to_conversion": q_time_to_conversion})
ORACLES.update({"time_to_conversion": SQL_TIME_TO_CONVERSION})


# --------------------------------------------------------------------------
# Round 8 — URL canonicalization / URL-level dedup / domain audit (CCNet
# stage; operators/urls.py). The documents fixture has no URL column, so
# each query SYNTHESIZES a messy-but-deterministic URL per doc_id with the
# identical expression in both engines (www/case/port/trailing-slash/
# tracking-param/fragment variation keyed on doc_id residues) — the
# canonicalizer, not the synth, is what's under test.
# --------------------------------------------------------------------------

def _synth_url_col():
    d = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"), (d % 7).cast("string"),
        F.when(d % 9 == 0, F.lit(".Example.co.uk")).otherwise(
            F.lit(".Example.COM")
        ),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"), (d % 11).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )


_SQL_URL_SYNTH = """
  SELECT doc_id,
         'https://'
         || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
         || 'site' || CAST(doc_id % 7 AS VARCHAR)
         || CASE WHEN doc_id % 9 = 0 THEN '.Example.co.uk'
                 ELSE '.Example.COM' END
         || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
         || '/p/' || CAST(doc_id % 11 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
                 WHEN doc_id % 4 = 1 THEN '?a=1&b=2' ELSE '' END
         || CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents
"""

# DuckDB replica of urls.canonical_url (same regexes, same order)
_SQL_URL_CANON = """
  SELECT doc_id, url,
    CASE WHEN lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              IN ('http', 'https')
          AND host <> ''
    THEN lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
         || '://' || host
         || CASE WHEN port = '' THEN ''
                 WHEN lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'http' AND port = '80' THEN ''
                 WHEN lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'https' AND port = '443' THEN ''
                 ELSE ':' || port END
         || regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '')
         || CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END
    END AS canonical_url
  FROM (
    SELECT doc_id, url, nf, pathq, host, port,
      -- COALESCE: DuckDB array_to_string of an EMPTY list is NULL,
      -- Spark's array_join is '' — normalize to the Spark behavior
      COALESCE(array_to_string(list_sort(list_filter(string_split(
        regexp_extract(pathq, '\\?(.*)$', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p,
          '^(utm_[^=]*|gclid|fbclid|msclkid|ref|ref_src)(=.*)?$'))), '&'), '')
        AS q2
    FROM (
      SELECT doc_id, url, nf,
        regexp_extract(after, '^[^/?]*(.*)$', 1) AS pathq,
        regexp_replace(regexp_extract(host_port, '^([^:]*)', 1),
                       '^www\\.', '') AS host,
        regexp_extract(host_port, ':([0-9]+)$', 1) AS port
      FROM (
        SELECT doc_id, url, nf, after,
          lower(regexp_replace(
            regexp_extract(after, '^([^/?]*)', 1), '^[^@]*@', ''))
            AS host_port
        FROM (
          SELECT doc_id, url,
            regexp_replace(trim(url), '#.*', '') AS nf,
            regexp_extract(regexp_replace(trim(url), '#.*', ''),
              '^[A-Za-z][A-Za-z0-9+.-]*://(.*)$', 1) AS after
          FROM synth
        )
      )
    )
  )
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (urls.canonical_url): fragment/tracking-param
    strip, host lowercase + www/default-port drop, trailing-slash and
    param-order normalization — pure regexp Column expressions, fully
    inside whole-stage codegen. The CCNet crawl-curation stage."""
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tagged = docs.withColumn("url", _synth_url_col())
    return tagged.select(
        "doc_id", "url", urls.canonical_url("url").alias("canonical_url")
    )


SQL_URL_CANONICALIZE = (
    "WITH synth AS (" + _SQL_URL_SYNTH + ")" + _SQL_URL_CANON
)


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (urls.url_dedup): ONE surviving row per canonical
    URL, smallest doc_id wins — a min_by-struct aggregate (map-side
    partial combine, no window), one shuffle on the canonical string."""
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tagged = docs.withColumn("url", _synth_url_col())
    kept = urls.url_dedup(tagged, "url", tiebreak="doc_id")
    return kept.select("doc_id", "canonical_url")


SQL_URL_DEDUP = (
    "WITH synth AS (" + _SQL_URL_SYNTH + "), canon AS (" + _SQL_URL_CANON
    + """)
SELECT doc_id, canonical_url FROM (
  SELECT doc_id, canonical_url,
         ROW_NUMBER() OVER (PARTITION BY canonical_url
                            ORDER BY doc_id ASC) AS rn
  FROM canon WHERE canonical_url IS NOT NULL
) WHERE rn = 1
UNION ALL
SELECT doc_id, canonical_url FROM canon WHERE canonical_url IS NULL
"""
)


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain crawl audit (urls.domain_stats): URL count,
    distinct canonical count, corpus share — the boilerplate-farm /
    over-crawl detector. Approximate eTLD+1 via a frozen 2-level-TLD
    list (co.uk-style suffixes take 3 labels)."""
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tagged = docs.withColumn("url", _synth_url_col())
    return urls.domain_stats(tagged, "url")


SQL_DOMAIN_STATS = (
    "WITH synth AS (" + _SQL_URL_SYNTH + "), canon AS (" + _SQL_URL_CANON
    + """),
hosts AS (
  SELECT regexp_extract(canonical_url, '^https?://([^:/?]*)', 1) AS h,
         canonical_url
  FROM canon WHERE canonical_url IS NOT NULL
),
doms AS (
  SELECT CASE
    WHEN len(string_split(h, '.')) <= 2 THEN h
    WHEN array_to_string(list_slice(string_split(h, '.'),
           greatest(len(string_split(h, '.')) - 1, 1),
           len(string_split(h, '.'))), '.')
         IN ('co.uk','org.uk','gov.uk','ac.uk','com.au','net.au','org.au',
             'co.jp','co.kr','co.in','co.nz','co.za','com.br','com.cn',
             'com.mx','com.tr','com.sg','com.ar')
    THEN array_to_string(list_slice(string_split(h, '.'),
           greatest(len(string_split(h, '.')) - 2, 1),
           len(string_split(h, '.'))), '.')
    ELSE array_to_string(list_slice(string_split(h, '.'),
           greatest(len(string_split(h, '.')) - 1, 1),
           len(string_split(h, '.'))), '.')
  END AS domain, canonical_url
  FROM hosts
),
per AS (
  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
         CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical
  FROM doms GROUP BY domain
)
SELECT domain, n_urls, n_canonical,
       ROUND(CAST(n_urls AS DOUBLE) / (SELECT SUM(n_urls) FROM per), 6)
         AS share
FROM per
"""
)


QUERIES.update({
    "url_canonicalize": q_url_canonicalize,
    "url_dedup": q_url_dedup,
    "domain_stats": q_domain_stats,
})
ORACLES.update({
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "url_dedup": SQL_URL_DEDUP,
    "domain_stats": SQL_DOMAIN_STATS,
})


def q_byte_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source BYTE budget (transform.cap_per_group_bytes): admit docs
    in md5-hash priority order while each source's cumulative admitted
    bytes stay within 3000 — the size-aware mixture control (a count cap
    lets one source dominate by length; the byte budget bounds actual
    training tokens). Prefix cumsum rule: one window per source, no
    global sort, replayable from (salt, id, budget) alone."""
    from ..operators import transform as tf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    kept = tf.cap_per_group_bytes(docs, "source", "n_chars", 3000, "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("bytes_admitted"),
    )


SQL_BYTE_BUDGET_MIXTURE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS bytes_admitted
FROM ranked WHERE cum <= 3000
GROUP BY source
"""


QUERIES.update({"byte_budget_mixture": q_byte_budget_mixture})
ORACLES.update({"byte_budget_mixture": SQL_BYTE_BUDGET_MIXTURE})


def q_centroid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataComp-style centroid quality score (similarity.centroid_quality):
    cosine of every embedding to the exact-decimal centroid of a curated
    reference slice (vec_id % 10 == 0) — one dim-bounded reference
    aggregate, centroid broadcast as a literal, one map-side corpus pass
    (no join on the big side)."""
    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("vec_id") % 10 == 0)
    return similarity.centroid_quality(emb, ref)


SQL_CENTROID_QUALITY = """
WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL),
dims AS (SELECT unnest(generate_series(1, 64)) AS i),
-- exact-decimal per-dim sums so the centroid matches Spark bit-for-bit
cent AS (
  SELECT d.i,
         CAST(SUM(CAST(r.v[d.i] AS DECIMAL(18,12))) AS DOUBLE)
           / COUNT(*) AS c
  FROM e r CROSS JOIN dims d
  WHERE r.id % 10 = 0
  GROUP BY d.i
),
nc AS (SELECT SQRT(SUM(c * c)) AS n FROM cent),
scores AS (
  SELECT e.id,
         SUM(CAST(e.v[d.i] AS DOUBLE) * cent.c) AS dot,
         SQRT(SUM(CAST(e.v[d.i] AS DOUBLE) * CAST(e.v[d.i] AS DOUBLE))) AS nv
  FROM e CROSS JOIN dims d JOIN cent ON cent.i = d.i
  GROUP BY e.id
)
SELECT id AS vec_id,
       CASE WHEN nv > 0 AND (SELECT n FROM nc) > 0
            THEN ROUND(dot / (nv * (SELECT n FROM nc)), 6) END AS quality
FROM scores
"""


QUERIES.update({"centroid_quality": q_centroid_quality})
ORACLES.update({"centroid_quality": SQL_CENTROID_QUALITY})


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity buckets (textstats.ccnet_buckets): rank every doc
    by corpus-self-trained bigram-LM fluency and split into head/middle/
    tail thirds — the quality partition downstream mixtures sample at
    different rates. Rank-exact boundaries (floor(3·(rank−1)/n), 4dp LM
    scores, id tiebreak), distributed rank via range partition + offsets,
    never a single-partition sort. Output: per-bucket membership proof
    (count + id checksum + score range)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = textstats.ccnet_buckets(docs)
    return (
        out.where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.min("lm_logprob").alias("min_score"),
            F.max("lm_logprob").alias("max_score"),
        )
    )


SQL_CCNET_BUCKETS = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
         i -> {'w1': t[i], 'w2': t[i+1]})) AS g
  FROM base WHERE len(t) >= 2
),
flat AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM grams),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM flat GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM flat GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM base)),
scored AS (
  SELECT doc_id,
         ROUND(AVG(LN((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v))), 4) AS lm_logprob
  FROM flat JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, lm_logprob,
         ROW_NUMBER() OVER (ORDER BY lm_logprob DESC, doc_id ASC) AS rk,
         COUNT(*) OVER () AS n
  FROM scored
),
tagged AS (
  SELECT doc_id, lm_logprob,
         ['head', 'middle', 'tail'][CAST(FLOOR(3 * (rk - 1) / n) AS INT) + 1]
           AS bucket
  FROM ranked
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       MIN(lm_logprob) AS min_score,
       MAX(lm_logprob) AS max_score
FROM tagged
GROUP BY bucket
"""


QUERIES.update({"ccnet_buckets": q_ccnet_buckets})
ORACLES.update({"ccnet_buckets": SQL_CCNET_BUCKETS})


def q_interleave_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-scheduled source interleaving (packing.interleave_sources):
    deterministic training-data ORDER where every prefix holds each
    source proportional to its integer weight — virtual time
    (2r+1)·(lcm/w) in exact integers, global position via the
    distributed range-partition index (no single-task sort, no RNG).
    Weights derived from the source name (src<k> → k%3+1) so the oracle
    replays them. Output proves exact positional assignment per source."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    weights = {s: (int(s[3:]) % 3) + 1 for s in sources}
    out = packing.interleave_sources(docs, weights, "doc_id")
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("interleave_pos") * F.col("doc_id")).cast("long").alias(
            "pos_checksum"
        ),
        F.min("interleave_pos").cast("long").alias("first_pos"),
        F.max("interleave_pos").cast("long").alias("last_pos"),
    )


SQL_INTERLEAVE_MIXTURE = """
WITH w AS (
  SELECT doc_id, source,
         (CAST(SUBSTRING(source, 4) AS INT) % 3) + 1 AS wt
  FROM documents
),
r AS (
  SELECT doc_id, source, wt,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) - 1
           AS rk
  FROM w
),
v AS (
  SELECT doc_id, source, (2 * rk + 1) * (6 // wt) AS vt FROM r
),
p AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (ORDER BY vt ASC, source ASC, doc_id ASC) - 1
           AS pos
  FROM v
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos * doc_id) AS BIGINT) AS pos_checksum,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CAST(MAX(pos) AS BIGINT) AS last_pos
FROM p
GROUP BY source
"""


QUERIES.update({"interleave_mixture": q_interleave_mixture})
ORACLES.update({"interleave_mixture": SQL_INTERLEAVE_MIXTURE})


def q_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-component maintenance
    (dedup.merge_into_clusters): an existing corpus labeling absorbs a
    batch of NEW near-dup pairs by re-clustering ONLY the affected
    components (two semi-joins + big-star CC over the subgraph) — never
    the corpus. Base chains: (d, d+1) for d%10<3; batch merges chains
    across gaps: (d, d+5) for d%50==0. The oracle is the full recursive
    transitive closure over base ∪ batch — exactly what a full recompute
    would produce, proving the incremental path loses nothing."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    base = docs.where(d % 10 < 3).select(
        d.alias("id_a"), (d + 1).alias("id_b")
    )
    labels = dedup.duplicate_clusters(base)
    batch = docs.where(d % 50 == 0).select(
        d.alias("id_a"), (d + 5).alias("id_b")
    )
    merged = dedup.merge_into_clusters(labels, batch)
    return merged.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("node").cast("long").alias("id_checksum"),
    ).withColumnRenamed("cluster", "cluster_id")


SQL_INCREMENTAL_CLUSTERS = """
WITH RECURSIVE base AS (
  SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
  WHERE doc_id % 10 < 3
),
batch AS (
  SELECT doc_id AS id_a, doc_id + 5 AS id_b FROM documents
  WHERE doc_id % 50 = 0
),
pairs AS (SELECT * FROM base UNION ALL SELECT * FROM batch),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a AS node, a AS peer FROM und
  UNION
  SELECT r.node, u.b FROM reach r JOIN und u ON u.a = r.peer
)
SELECT CAST(cluster AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(node) AS BIGINT) AS id_checksum
FROM (SELECT node, MIN(peer) AS cluster FROM reach GROUP BY node)
GROUP BY cluster
"""


QUERIES.update({"incremental_clusters": q_incremental_clusters})
ORACLES.update({"incremental_clusters": SQL_INCREMENTAL_CLUSTERS})


def q_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet sampling recipe end-to-end: perplexity-bucket the corpus
    (textstats.ccnet_buckets), then keep head 100% / middle 50% /
    tail 10% via the deterministic hash sampler
    (transform.stratified_sample_by_hash) — reproducible quality-weighted
    subsampling with no RNG; unscorable docs (NULL bucket) drop. Output
    proves the exact kept set per bucket."""
    from ..operators import transform as tf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucketed = textstats.ccnet_buckets(docs).where(F.col("bucket").isNotNull())
    kept = tf.stratified_sample_by_hash(
        bucketed, "bucket", {"head": 1.0, "middle": 0.5, "tail": 0.1},
        "doc_id",
    )
    return kept.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


SQL_QUALITY_MIXTURE = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
         i -> {'w1': t[i], 'w2': t[i+1]})) AS g
  FROM base WHERE len(t) >= 2
),
flat AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM grams),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM flat GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM flat GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM base)),
scored AS (
  SELECT doc_id,
         ROUND(AVG(LN((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v))), 4) AS lm_logprob
  FROM flat JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, lm_logprob,
         ROW_NUMBER() OVER (ORDER BY lm_logprob DESC, doc_id ASC) AS rk,
         COUNT(*) OVER () AS n
  FROM scored
),
tagged AS (
  SELECT doc_id,
         ['head', 'middle', 'tail'][CAST(FLOOR(3 * (rk - 1) / n) AS INT) + 1]
           AS bucket
  FROM ranked
),
kept AS (
  SELECT doc_id, bucket FROM tagged
  WHERE CAST(('0x' || substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
          / 4294967295.0
        < CASE bucket WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5 ELSE 0.1 END
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM kept
GROUP BY bucket
"""


QUERIES.update({"quality_mixture": q_quality_mixture})
ORACLES.update({"quality_mixture": SQL_QUALITY_MIXTURE})


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe epoch planning (packing.epoch_plan): integer mixture
    weights (src<k> → k%3+1) + a 1M-token budget → full epochs and
    partial-pass remainder per source, all integer-exact — the DoReMi/
    LLaMA mixture sheet as ONE corpus aggregate."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    weights = {s: (int(s[3:]) % 3) + 1 for s in sources}
    return packing.epoch_plan(
        docs, weights, budget_tokens=1_000_000, token_col="n_chars"
    )


SQL_EPOCH_PLAN = """
WITH w AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS tokens,
         (CAST(SUBSTRING(source, 4) AS INT) % 3) + 1 AS wt
  FROM documents GROUP BY source
),
sw AS (SELECT SUM((CAST(SUBSTRING(source, 4) AS INT) % 3) + 1) AS s
       FROM (SELECT DISTINCT source FROM documents)),
t AS (
  SELECT source, n_docs, tokens,
         CAST((1000000 * wt) // (SELECT s FROM sw) AS BIGINT)
           AS target_tokens
  FROM w
)
SELECT source, n_docs, tokens, target_tokens,
       CAST(CASE WHEN tokens > 0 THEN target_tokens // tokens ELSE 0 END
            AS BIGINT) AS full_epochs,
       CAST(CASE WHEN tokens > 0 THEN target_tokens % tokens ELSE 0 END
            AS BIGINT) AS remainder_tokens
FROM t
"""


def q_epoch_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized epochs (packing.materialize_epochs): every doc repeats
    once per full epoch (map-side explode over the broadcast plan) and the
    partial pass admits docs by the md5-priority token prefix rule. The
    epoch-weighted id checksum proves the exact materialized multiset."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    weights = {s: (int(s[3:]) % 3) + 1 for s in sources}
    plan = packing.epoch_plan(
        docs, weights, budget_tokens=1_000_000, token_col="n_chars"
    )
    mat = packing.materialize_epochs(
        docs, plan, "doc_id", token_col="n_chars"
    )
    return mat.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("tokens_out"),
        F.sum(F.col("doc_id") * F.col("epoch")).cast("long").alias(
            "epoch_checksum"
        ),
    )


SQL_EPOCH_MATERIALIZE = """
WITH w AS (
  SELECT source,
         CAST(SUM(n_chars) AS BIGINT) AS tokens,
         (CAST(SUBSTRING(source, 4) AS INT) % 3) + 1 AS wt
  FROM documents GROUP BY source
),
sw AS (SELECT SUM((CAST(SUBSTRING(source, 4) AS INT) % 3) + 1) AS s
       FROM (SELECT DISTINCT source FROM documents)),
plan AS (
  SELECT source, tokens,
         CAST((1000000 * wt) // (SELECT s FROM sw) AS BIGINT) AS target
  FROM w
),
p2 AS (
  SELECT source,
         CASE WHEN tokens > 0 THEN target // tokens ELSE 0 END AS fulle,
         CASE WHEN tokens > 0 THEN target % tokens ELSE 0 END AS rem
  FROM plan
),
fulls AS (
  SELECT d.doc_id, d.source, d.n_chars, e.epoch
  FROM documents d
  JOIN p2 USING (source)
  JOIN LATERAL (SELECT unnest(generate_series(1, CAST(p2.fulle AS INT)))
                AS epoch) e ON TRUE
  WHERE p2.fulle > 0
),
ranked AS (
  SELECT d.doc_id, d.source, d.n_chars, p2.fulle, p2.rem,
         SUM(d.n_chars) OVER (
           PARTITION BY d.source
           ORDER BY ('0x' || substring(md5('epoch' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents d JOIN p2 USING (source)
  WHERE p2.rem > 0
),
partial AS (
  SELECT doc_id, source, n_chars, CAST(fulle + 1 AS INT) AS epoch
  FROM ranked WHERE cum <= rem
),
mat AS (SELECT * FROM fulls UNION ALL SELECT * FROM partial)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS tokens_out,
       CAST(SUM(doc_id * epoch) AS BIGINT) AS epoch_checksum
FROM mat
GROUP BY source
"""


QUERIES.update({
    "epoch_plan": q_epoch_plan,
    "epoch_materialize": q_epoch_materialize,
})
ORACLES.update({
    "epoch_plan": SQL_EPOCH_PLAN,
    "epoch_materialize": SQL_EPOCH_MATERIALIZE,
})


def q_crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diff (urls.crawl_snapshot_diff): old snapshot = docs
    with doc_id % 4 != 0, new = doc_id % 4 != 1 with every %3==0 doc's
    text perturbed — added/removed/changed/unchanged at canonical-URL
    granularity, one full outer join on the canonical string. Synthetic
    URLs keyed on doc_id as in url_canonicalize."""
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tagged = docs.withColumn("url", _synth_url_col())
    old = tagged.where(F.col("doc_id") % 4 != 0)
    new = tagged.where(F.col("doc_id") % 4 != 1).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    out = urls.crawl_snapshot_diff(old, new)
    return out.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
    )


SQL_CRAWL_SNAPSHOT_DIFF = (
    "WITH synth AS (" + _SQL_URL_SYNTH + "), canon0 AS (" + _SQL_URL_CANON
    + """),
canon AS (
  SELECT c.doc_id, c.canonical_url, d.text
  FROM canon0 c JOIN documents d USING (doc_id)
  WHERE c.canonical_url IS NOT NULL
),
old AS (
  SELECT canonical_url, MIN(md5(trim(text))) AS old_hash
  FROM canon WHERE doc_id % 4 <> 0 GROUP BY canonical_url
),
new AS (
  SELECT canonical_url,
         MIN(md5(trim(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                           ELSE text END))) AS new_hash
  FROM canon WHERE doc_id % 4 <> 1 GROUP BY canonical_url
),
j AS (
  SELECT COALESCE(old.canonical_url, new.canonical_url) AS canonical_url,
         old_hash, new_hash
  FROM old FULL OUTER JOIN new USING (canonical_url)
)
SELECT CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash = new_hash THEN 'unchanged'
            ELSE 'changed' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM j
GROUP BY 1
"""
)


QUERIES.update({"crawl_snapshot_diff": q_crawl_snapshot_diff})
ORACLES.update({"crawl_snapshot_diff": SQL_CRAWL_SNAPSHOT_DIFF})


# --------------------------------------------------------------------------
# Round 8 — image perceptual dedup (dHash). Fixture: 9×8 gray PPM images
# (exactly the dHash grid, so the area resize is identity) whose pixel
# values follow a closed-form formula of (c_custkey, x, y) — the engine
# decodes REAL PPM bytes; the oracle computes the same grid analytically.
# --------------------------------------------------------------------------

def _dhash_payload_expr() -> str:
    terms = []
    for y in range(8):
        for x in range(9):
            vexpr = (
                f"(((31*{x} + 7*{y} + CAST(c_custkey % 4 AS INT)*13) % 199)"
                f" + (CASE WHEN c_custkey % 5 = 0 AND {x} = 0 AND {y} = 0"
                f" THEN 97 ELSE 0 END)) % 199"
            )
            terms.append(f"repeat(lpad(hex({vexpr}), 2, '0'), 3)")
    px = " || ".join(terms)
    return (
        "unhex(hex(encode('P6' || chr(10) || '9 8' || chr(10) || '255'"
        " || chr(10), 'utf-8')) || " + px + ")"
    )


_SQL_DHASH_CELLS = """
  SELECT k, x, y,
         (((31*x + 7*y + CAST(k % 4 AS INT)*13) % 199)
          + (CASE WHEN k % 5 = 0 AND x = 0 AND y = 0 THEN 97 ELSE 0 END))
           % 199 AS v
  FROM (SELECT c_custkey AS k FROM customer WHERE c_custkey < 100)
  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y)
"""

_SQL_DHASH_HASH = """
bits AS (
  SELECT a.k, a.y, a.x, CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
  FROM cells a JOIN cells b ON b.k = a.k AND b.y = a.y AND b.x = a.x + 1
  WHERE a.x < 8
),
hash AS (
  SELECT k, CAST(SUM(CASE WHEN bit = 1 THEN
           CASE WHEN y*8 + x = 63 THEN (-9223372036854775808)::HUGEINT
                ELSE ((1::BIGINT << (y*8 + x)))::HUGEINT END
           ELSE 0::HUGEINT END) AS BIGINT) AS dhash
  FROM bits GROUP BY k
)
"""


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over REAL decoded PPM pixels
    (multimodal.image_dhash): Rec.601 grayscale, area-mean grid (identity
    at 9×8), 64 adjacent-pixel comparison bits packed into a signed
    long. The oracle computes the identical bit grid analytically from
    the pixel formula — decode correctness is what's under test."""
    from ..operators.multimodal import image_dhash

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 100).select(
        "c_custkey", F.expr(_dhash_payload_expr()).alias("payload")
    )
    return image_dhash(cust, "payload")


SQL_IMAGE_DHASH = (
    "WITH cells AS (" + _SQL_DHASH_CELLS + "),\n" + _SQL_DHASH_HASH
    + "SELECT k AS c_custkey, TRUE AS decoded, dhash FROM hash"
)


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dHash image near-dup pairs (multimodal.image_neardup_pairs,
    Hamming ≤ 3, 4×16-bit bands): pigeonhole makes recall EXACT — the
    oracle is the brute-force all-pairs Hamming comparison over the same
    analytically-derived hashes. Perturbed fixtures (one pixel bumped on
    every 5th key) sit 0-1 bits from their pattern group."""
    from ..operators.multimodal import image_neardup_pairs

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 100).select(
        "c_custkey", F.expr(_dhash_payload_expr()).alias("payload")
    )
    return image_neardup_pairs(cust, "c_custkey", "payload", max_hamming=3)


SQL_IMAGE_NEARDUP = (
    "WITH cells AS (" + _SQL_DHASH_CELLS + "),\n" + _SQL_DHASH_HASH
    + """
SELECT a.k AS id_a, b.k AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
FROM hash a JOIN hash b ON a.k < b.k
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""
)


QUERIES.update({
    "image_dhash": q_image_dhash,
    "image_neardup": q_image_neardup,
})
ORACLES.update({
    "image_dhash": SQL_IMAGE_DHASH,
    "image_neardup": SQL_IMAGE_NEARDUP,
})


# --------------------------------------------------------------------------
# Round 8 — audio envelope fingerprints. Fixture: 16-bit PCM mono WAVs of
# 260 samples (65 windows × 4) whose per-window amplitude follows a
# closed-form formula of (c_custkey, window); the engine decodes REAL WAV
# bytes, the oracle computes the same envelope analytically.
# --------------------------------------------------------------------------

def _awav_a(b: str, k: str = "c_custkey") -> str:
    return (
        f"(((53*({b}) + CAST({k} % 4 AS INT)*29) % 997)"
        f" + (CASE WHEN {k} % 5 = 0 AND ({b}) = 0 THEN 501 ELSE 0 END)) % 997"
    )


def _awav_payload_expr() -> str:
    terms = []
    for b in range(65):
        s = f"(({_awav_a(str(b))}) * 16)"
        terms.append(
            f"repeat(format_string('%02x%02x', {s} % 256, {s} div 256), 4)"
        )
    body = " || ".join(terms)
    return (
        "unhex('52494646' || "
        + _le32("36 + 520")
        + " || '57415645' || '666d7420' || '10000000' || '0100' || '0100'"
        " || '401f0000' || '803e0000' || '0200' || '1000'"
        " || '64617461' || "
        + _le32("520")
        + " || " + body + ")"
    )


_SQL_AWAV_HASH = f"""
env AS (
  SELECT k, b,
         (((53*b + CAST(k % 4 AS INT)*29) % 997)
          + (CASE WHEN k % 5 = 0 AND b = 0 THEN 501 ELSE 0 END)) % 997 AS a
  FROM (SELECT c_custkey AS k FROM customer WHERE c_custkey < 100)
  CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS b)
),
hash AS (
  SELECT e.k, CAST(SUM(CASE WHEN e.a > f.a THEN
           CASE WHEN e.b = 63 THEN (-9223372036854775808)::HUGEINT
                ELSE ((1::BIGINT << e.b))::HUGEINT END
           ELSE 0::HUGEINT END) AS BIGINT) AS ahash
  FROM env e JOIN env f ON f.k = e.k AND f.b = e.b + 1
  WHERE e.b < 64
  GROUP BY e.k
)
"""


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio envelope fingerprint over REAL decoded PCM samples
    (multimodal.audio_envelope_hash): 65 equal-window mean-|amplitude|
    values, 64 adjacent-comparison bits in a signed long. The oracle
    derives the identical envelope analytically from the sample formula
    — the WAV decode path is what's under test."""
    from ..operators.multimodal import audio_envelope_hash

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 100).select(
        "c_custkey", F.expr(_awav_payload_expr()).alias("payload")
    )
    return audio_envelope_hash(cust, "payload")


SQL_AUDIO_FINGERPRINT = (
    "WITH " + _SQL_AWAV_HASH
    + "SELECT k AS c_custkey, TRUE AS decoded, ahash FROM hash"
)


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming audio near-dup pairs: envelope hashes through the
    GENERIC dedup.hamming_neardup_pairs (the same pigeonhole-exact
    machinery as image near-dup) — oracle is brute-force all-pairs over
    the analytic hashes."""
    from ..operators.dedup import hamming_neardup_pairs
    from ..operators.multimodal import audio_envelope_hash

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 100).select(
        "c_custkey", F.expr(_awav_payload_expr()).alias("payload")
    )
    hashes = audio_envelope_hash(cust, "payload").where(F.col("decoded"))
    return hamming_neardup_pairs(hashes, "c_custkey", "ahash", max_hamming=3)


SQL_AUDIO_NEARDUP = (
    "WITH " + _SQL_AWAV_HASH
    + """
SELECT a.k AS id_a, b.k AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
FROM hash a JOIN hash b ON a.k < b.k
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
"""
)


QUERIES.update({
    "audio_fingerprint": q_audio_fingerprint,
    "audio_neardup": q_audio_neardup,
})
ORACLES.update({
    "audio_fingerprint": SQL_AUDIO_FINGERPRINT,
    "audio_neardup": SQL_AUDIO_NEARDUP,
})


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text near-dup pairs via SimHash + the GENERIC banded-Hamming join
    (dedup.hamming_neardup_pairs — the same pigeonhole-exact machinery as
    image dHash and audio envelope near-dup): 60-bit md5 SimHash, pairs
    at Hamming ≤ 3. Oracle rebuilds the signatures and brute-forces all
    pairs."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(docs, "text", bits=60, algo="md5").select(
        "doc_id", "simhash"
    )
    return dedup.hamming_neardup_pairs(sigs, "doc_id", "simhash", max_hamming=3)


SQL_SIMHASH_NEARDUP = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
  FROM tok
),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashed, (SELECT unnest(range(60)) AS bit)
  GROUP BY doc_id, bit
),
sigs0 AS (
  SELECT doc_id,
         SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
           AS simhash
  FROM votes GROUP BY doc_id
),
sigs AS (
  SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN sigs0 s ON s.doc_id = d.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


QUERIES.update({"simhash_neardup": q_simhash_neardup})
ORACLES.update({"simhash_neardup": SQL_SIMHASH_NEARDUP})


def _synth_license_footer():
    # deterministic planted license/opt-out footers so every branch of
    # the detection ladder is exercised on the real documents table
    d = F.col("doc_id")
    return (
        F.when(d % 10 == 0, F.lit(" SPDX-License-Identifier: Apache-2.0"))
        .when(d % 10 == 1, F.lit(
            ' Licensed under the Apache License, Version 2.0 (the "License").'
        ))
        .when(d % 10 == 2, F.lit(" Released under the MIT License."))
        .when(d % 10 == 3, F.lit(
            " This program is free software: GNU General Public License,"
            " version 3."
        ))
        .when(d % 10 == 4, F.lit(
            " distributed under the GNU Lesser General Public License."
        ))
        .when(d % 10 == 5, F.lit(
            " Creative Commons Attribution-NonCommercial 4.0."
        ))
        .when(d % 10 == 6, F.lit(
            ' cc by-sa licensed. <meta name="robots" content="noindex">'
        ))
        .when(d % 10 == 7, F.lit(
            " Copyright 2024 MegaCorp. All rights reserved. noai"
        ))
        .when(d % 10 == 8, F.lit(
            " This is free and unencumbered software released into the"
            " public domain."
        ))
        .otherwise(F.lit(""))
    )


_SQL_LICENSE_SYNTH = """
  SELECT doc_id, source, COALESCE(text, '') ||
    CASE doc_id % 10
      WHEN 0 THEN ' SPDX-License-Identifier: Apache-2.0'
      WHEN 1 THEN ' Licensed under the Apache License, Version 2.0 (the "License").'
      WHEN 2 THEN ' Released under the MIT License.'
      WHEN 3 THEN ' This program is free software: GNU General Public License, version 3.'
      WHEN 4 THEN ' distributed under the GNU Lesser General Public License.'
      WHEN 5 THEN ' Creative Commons Attribution-NonCommercial 4.0.'
      WHEN 6 THEN ' cc by-sa licensed. <meta name="robots" content="noindex">'
      WHEN 7 THEN ' Copyright 2024 MegaCorp. All rights reserved. noai'
      WHEN 8 THEN ' This is free and unencumbered software released into the public domain.'
      ELSE ''
    END AS text
  FROM documents
"""

# DuckDB replica of compliance.license_id_col / opt_out_col — the SAME
# frozen regexes in the SAME precedence (RE2-compatible subset)
_SQL_LICENSE_TAG = """
  SELECT doc_id, source,
    CASE
      WHEN spdx = 'mit' THEN 'MIT'
      WHEN spdx = 'apache-2.0' THEN 'Apache-2.0'
      WHEN spdx = 'bsd-3-clause' THEN 'BSD-3-Clause'
      WHEN spdx = 'cc-by-4.0' THEN 'CC-BY-4.0'
      WHEN spdx = 'mpl-2.0' THEN 'MPL-2.0'
      WHEN spdx = 'lgpl-2.1' THEN 'LGPL-2.1'
      WHEN spdx = 'gpl-2.0' THEN 'GPL-2.0'
      WHEN spdx = 'gpl-3.0' THEN 'GPL-3.0'
      WHEN spdx = 'agpl-3.0' THEN 'AGPL-3.0'
      WHEN spdx = 'cc-by-sa-4.0' THEN 'CC-BY-SA-4.0'
      WHEN spdx = 'cc-by-nc-4.0' THEN 'CC-BY-NC-4.0'
      WHEN spdx = 'cc0-1.0' THEN 'CC0-1.0'
      WHEN spdx = 'unlicense' THEN 'Unlicense'
      WHEN spdx = 'proprietary' THEN 'Proprietary'
      WHEN regexp_matches(low, 'gnu affero general public license|\\bagpl[- ]?v?3') THEN 'AGPL-3.0'
      WHEN regexp_matches(low, 'gnu lesser general public license|\\blgpl\\b') THEN 'LGPL-2.1'
      WHEN regexp_matches(low, 'gnu general public license[,;]? (as published.{0,40})?version 3|\\bgpl[- ]?v?3') THEN 'GPL-3.0'
      WHEN regexp_matches(low, 'gnu general public license[,;]? (as published.{0,40})?version 2|\\bgpl[- ]?v?2') THEN 'GPL-2.0'
      WHEN regexp_matches(low, 'apache license[,;]? version 2\\.0|apache[- ]2\\.0') THEN 'Apache-2.0'
      WHEN regexp_matches(low, 'mozilla public license|\\bmpl[- ]?2\\.0') THEN 'MPL-2.0'
      WHEN regexp_matches(low, 'bsd 3[- ]clause|bsd-3-clause|redistribution and use in source and binary forms') THEN 'BSD-3-Clause'
      WHEN regexp_matches(low, 'mit license|permission is hereby granted, free of charge') THEN 'MIT'
      WHEN regexp_matches(low, 'this is free and unencumbered software') THEN 'Unlicense'
      WHEN regexp_matches(low, '\\bcc0\\b|public domain dedication') THEN 'CC0-1.0'
      WHEN regexp_matches(low, 'creative commons attribution[- ]noncommercial|\\bcc[- ]by[- ]nc') THEN 'CC-BY-NC-4.0'
      WHEN regexp_matches(low, 'creative commons attribution[- ]sharealike|\\bcc[- ]by[- ]sa') THEN 'CC-BY-SA-4.0'
      WHEN regexp_matches(low, 'creative commons attribution|\\bcc[- ]by\\b') THEN 'CC-BY-4.0'
      WHEN regexp_matches(low, 'all rights reserved') THEN 'Proprietary'
      ELSE NULL
    END AS license_id,
    (regexp_matches(low, '\\bnoai\\b|\\bnoimageai\\b|\\bnotrain\\b')
     OR regexp_matches(low, '\\bnoindex\\b')
     OR regexp_matches(low, 'tdm-reservation\\s*[:=]\\s*1|tdmrep')) AS opted_out
  FROM (
    SELECT doc_id, source, lower(text) AS low,
           regexp_extract(lower(text),
             'spdx-license-identifier:\\s*([a-z0-9.+-]+)', 1) AS spdx
    FROM synth
  )
"""

_SQL_LICENSE_FAMILY = """
  SELECT doc_id, source, license_id, opted_out,
    CASE
      WHEN license_id IS NULL THEN 'unknown'
      WHEN license_id IN ('MIT','Apache-2.0','BSD-3-Clause','CC-BY-4.0')
        THEN 'permissive'
      WHEN license_id IN ('MPL-2.0','LGPL-2.1') THEN 'weak-copyleft'
      WHEN license_id IN ('GPL-2.0','GPL-3.0','AGPL-3.0','CC-BY-SA-4.0')
        THEN 'copyleft'
      WHEN license_id = 'CC-BY-NC-4.0' THEN 'noncommercial'
      WHEN license_id IN ('CC0-1.0','Unlicense') THEN 'public-domain'
      WHEN license_id = 'Proprietary' THEN 'proprietary'
      ELSE 'unknown'
    END AS license_family
  FROM tagged
"""


def q_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License / usage-rights tagging (compliance.tag_licenses): an
    SPDX-identifier override plus a frozen most-specific-first regexp
    ladder, and TDM/AI opt-out flags — all pure Column expressions, one
    map-side pass, zero shuffles (The Stack's license-filter stage)."""
    from ..operators import compliance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = docs.withColumn(
        "text", F.concat(F.coalesce(F.col("text"), F.lit("")),
                         _synth_license_footer())
    )
    return compliance.tag_licenses(planted).select(
        "doc_id", "license_id", "license_family", "opted_out"
    )


SQL_LICENSE_DETECT = (
    "WITH synth AS (" + _SQL_LICENSE_SYNTH + "), tagged AS ("
    + _SQL_LICENSE_TAG + "), fam AS (" + _SQL_LICENSE_FAMILY + """)
SELECT doc_id, license_id, license_family, opted_out FROM fam
"""
)


def q_compliance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compliance rollup (compliance.compliance_report):
    rights-family document shares + opt-out rate in ONE aggregate on the
    source key (map-side partial combine) — the go/no-go table a curator
    reads before admitting a source into the training mix."""
    from ..operators import compliance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = docs.withColumn(
        "text", F.concat(F.coalesce(F.col("text"), F.lit("")),
                         _synth_license_footer())
    )
    return compliance.compliance_report(planted, group_col="source")


SQL_COMPLIANCE_REPORT = (
    "WITH synth AS (" + _SQL_LICENSE_SYNTH + "), tagged AS ("
    + _SQL_LICENSE_TAG + "), fam AS (" + _SQL_LICENSE_FAMILY + """)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(CASE WHEN license_family <> 'unknown' THEN 1 ELSE 0 END)
         AS n_licensed,
       ROUND(SUM(CAST(license_family IN ('permissive','public-domain') AS INT))
             / COUNT(*), 6) AS frac_permissive,
       ROUND(SUM(CAST(license_family IN ('copyleft','weak-copyleft') AS INT))
             / COUNT(*), 6) AS frac_copyleft,
       ROUND(SUM(CAST(license_family = 'noncommercial' AS INT))
             / COUNT(*), 6) AS frac_noncommercial,
       ROUND(SUM(CAST(license_family = 'proprietary' AS INT))
             / COUNT(*), 6) AS frac_proprietary,
       ROUND(SUM(CAST(opted_out AS INT)) / COUNT(*), 6) AS frac_opted_out
FROM fam
GROUP BY source
ORDER BY source
"""
)


# a reflowed + lightly-paraphrased MIT notice: the ladder's trigger
# phrases ("mit license" / "permission is hereby granted, free of
# charge") are broken, the liability sentence is dropped, lines are
# rewrapped — but ~70% of the canonical body's 5-gram shingles survive.
# ONE constant feeds both the Spark plant and the oracle literal.
_MIT_PARAPHRASE = (
    "Permission is granted, without any charge, to each person\n"
    "obtaining a copy of this software and associated documentation\n"
    "files (the Software), to deal in the Software without restriction,\n"
    "including without limitation the rights to use, copy, modify,\n"
    "merge, publish, distribute, sublicense, and/or sell copies of the\n"
    "Software, and to permit persons to whom the Software is furnished\n"
    "to do so, subject to the following conditions: The above copyright\n"
    "notice and this permission notice shall be included in all copies\n"
    "or substantial portions of the Software. The Software is provided\n"
    "as is, without warranty of any kind, express or implied, including\n"
    "but not limited to the warranties of merchantability, fitness for\n"
    "a particular purpose and noninfringement."
)


def q_license_similarity_reflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-scored SPDX detection vs the regexp ladder
    (compliance.license_similarity, VERDICT r8 item #7): every 7th doc
    gets a REFLOWED, lightly-paraphrased MIT notice whose trigger
    phrases are broken — the frozen ladder returns NULL for it, the
    shingle-containment matcher (5-gram containment of each canonical
    license body, map-side literal array_intersect, zero shuffles)
    still tags MIT. Output pairs both detectors per doc so the oracle
    verifies the catch itself."""
    from ..operators import compliance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("\n"),
                F.lit(_MIT_PARAPHRASE),
            ),
        ).otherwise(F.col("text")),
    )
    sim = compliance.license_similarity(
        planted, "doc_id", "text", shingle_n=5, threshold=0.5
    )
    ladder = planted.select(
        "doc_id", compliance.license_id_col("text").alias("ladder_id")
    )
    return ladder.join(sim, "doc_id").select(
        "doc_id", "ladder_id", "sim_license", "sim_score"
    )


def _license_similarity_oracle_sql() -> str:
    """Oracle builder: embeds each canonical license's shingle set
    (computed by the SAME driver-side helper the engine inlines as
    literal arrays) as DuckDB list literals, replays the 5-gram doc
    shingling, the per-license containment, the corpus-order argmax,
    and the regexp ladder over the identically-planted text."""
    from ..operators import compliance

    para_sql = _MIT_PARAPHRASE.replace("'", "''").replace("\n", "' || chr(10) || '")
    lids, score_cols, case_rows = [], [], []
    for i, (lid, text) in enumerate(compliance.LICENSE_CORPUS.items()):
        sh = compliance._license_shingles(text, 5)
        lit = "[" + ", ".join("'" + s + "'" for s in sh) + "]"
        score_cols.append(
            f"COALESCE(len(list_intersect(sh, {lit})), 0) * 1.0"
            f" / {len(sh)} AS s{i}"
        )
        case_rows.append(f"WHEN s{i} = best THEN '{lid}'")
        lids.append(lid)
    greatest = "greatest(" + ", ".join(f"s{i}" for i in range(len(lids))) + ")"
    return (
        """
WITH synth AS (
  SELECT doc_id, CAST(NULL AS VARCHAR) AS source,
    CASE WHEN doc_id % 7 = 2
         THEN COALESCE(text, '') || chr(10) || '""" + para_sql + """'
         ELSE text END AS text
  FROM main.documents
),
tagged AS (""" + _SQL_LICENSE_TAG + """),
tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM synth
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4])) AS sh
  FROM tok
),
scored AS (
  SELECT doc_id, """ + ",\n         ".join(score_cols) + """
  FROM g
),
best AS (
  SELECT *, """ + greatest + """ AS best FROM scored
)
SELECT tg.doc_id, tg.license_id AS ladder_id,
       CASE WHEN b.best < 0.5 THEN NULL
            """ + "\n            ".join(case_rows) + """
       END AS sim_license,
       ROUND(b.best, 6) AS sim_score
FROM tagged tg JOIN best b ON b.doc_id = tg.doc_id
"""
    )


SQL_LICENSE_SIMILARITY_REFLOW = _license_similarity_oracle_sql()


QUERIES.update({
    "license_detect": q_license_detect,
    "compliance_report": q_compliance_report,
    "license_similarity_reflow": q_license_similarity_reflow,
})
ORACLES.update({
    "license_detect": SQL_LICENSE_DETECT,
    "compliance_report": SQL_COMPLIANCE_REPORT,
    "license_similarity_reflow": SQL_LICENSE_SIMILARITY_REFLOW,
})


def q_template_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-spam clusters (textstats.template_clusters): documents
    byte-distinct but identical after slot masking (urls/emails/hex/digit
    runs). One hash-shuffle on the 32-hex template key — the exact-dedup
    plan shape, so it scales wherever exact dedup does. Plants a
    33-member spam campaign with per-doc slots over the real corpus."""
    d = F.col("doc_id")
    spam_text = F.concat(
        F.lit("WINNER! Claim your prize of $"),
        ((d * 7) % 999).cast("string"),
        F.lit(" now at https://promo"),
        (d % 5).cast("string"),
        F.lit(".example.com/claim?id="),
        d.cast("string"),
        F.lit(" mail agent"),
        d.cast("string"),
        F.lit("@spam.example.com within 24 hours. Code: "),
        F.substring(F.md5(d.cast("string")), 1, 12),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text", F.when(d % 37 == 0, spam_text).otherwise(F.col("text"))
    )
    return textstats.template_clusters(
        planted, min_docs=5, min_template_len=20
    )


SQL_TEMPLATE_SPAM = """
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 37 = 0 THEN
      'WINNER! Claim your prize of $' || CAST((doc_id * 7) % 999 AS VARCHAR)
      || ' now at https://promo' || CAST(doc_id % 5 AS VARCHAR)
      || '.example.com/claim?id=' || CAST(doc_id AS VARCHAR)
      || ' mail agent' || CAST(doc_id AS VARCHAR)
      || '@spam.example.com within 24 hours. Code: '
      || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
    ELSE text END AS text
  FROM documents
),
tpl AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(lower(text),
        'https?://[^ \\t\\n\\r]+', '<url>', 'g'),
        '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
        '\\b[0-9a-f]{8,}\\b', '<hex>', 'g'),
        '[0-9]+', '0', 'g'),
        '[ \\t\\n\\r]+', ' ', 'g')) AS template,
    md5(COALESCE(text, '')) AS raw_hash
  FROM planted
),
agg AS (
  SELECT md5(template) AS template_hash,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT raw_hash) AS n_distinct_raw,
         MIN(length(template)) AS template_len,
         MIN(doc_id) AS min_id
  FROM tpl GROUP BY md5(template)
)
SELECT template_hash, n_docs, n_distinct_raw,
       ROUND(n_distinct_raw / n_docs, 6) AS slot_variability,
       template_len, min_id,
       (n_docs >= 5 AND n_distinct_raw > 1 AND template_len >= 20)
         AS is_spam
FROM agg
"""


QUERIES.update({"template_spam": q_template_spam})
ORACLES.update({"template_spam": SQL_TEMPLATE_SPAM})


def q_embedding_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (similarity.binary_topk): sign bits packed
    into 32-bit words (32× less candidate-scan bandwidth than floats),
    XOR+popcount Hamming selects k·8 candidates, exact float cosine
    reranks — the Lucene/Milvus BQ design. Oracle recomputes Hamming as
    the sign-disagreement count and replays both stages."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.binary_topk(emb, queries, k=10, rerank_factor=8)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


SQL_EMBEDDING_TOPK_BINARY = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
ham AS (
  SELECT q.query_id, c.vec_id, c.cv, q.qv,
         CAST(len(list_filter(range(1, len(c.cv) + 1),
                              i -> (c.cv[i] > 0) <> (q.qv[i] > 0))) AS INT)
           AS hamming
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, vec_id) AS rn
  FROM ham
),
scored AS (
  SELECT query_id, vec_id, hamming,
         ROUND(list_dot_product(cv, qv)
               / (sqrt(list_dot_product(cv, cv))
                  * sqrt(list_dot_product(qv, qv))), 6) AS score
  FROM cand
  WHERE rn <= 80
    AND list_dot_product(cv, cv) > 0 AND list_dot_product(qv, qv) > 0
)
SELECT query_id, vec_id, score, rank, hamming FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


QUERIES.update({"embedding_topk_binary": q_embedding_topk_binary})
ORACLES.update({"embedding_topk_binary": SQL_EMBEDDING_TOPK_BINARY})


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): per anchor the
    top-5 corpus vectors with exact cosine in [0.3, 0.9) — informative
    negatives below the near-dup band (ANCE/DPR training step). Broadcast
    anchors, band filter pushed into the map-side scan, one window."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    return similarity.hard_negatives(
        emb, anchors, k=5, sim_floor=0.3, sim_ceiling=0.9
    )


SQL_HARD_NEGATIVES = """
WITH a AS (
  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
  FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
banded AS (
  SELECT a.anchor_id, c.vec_id,
         ROUND(list_dot_product(c.cv, a.av)
               / (sqrt(list_dot_product(c.cv, c.cv))
                  * sqrt(list_dot_product(a.av, a.av))), 6) AS score
  FROM c CROSS JOIN a
  WHERE c.vec_id <> a.anchor_id
    AND list_dot_product(c.cv, c.cv) > 0
    AND list_dot_product(a.av, a.av) > 0
)
SELECT anchor_id, vec_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY score DESC, vec_id) AS rank
  FROM banded WHERE score >= 0.3 AND score < 0.9
) WHERE rank <= 5
"""


def q_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext-style pair mining (similarity.margin_pairs,
    Artetxe & Schwenk 2019 / CCMatrix): even-id vectors as side X, odd
    as side Y; cosine normalized by both endpoints' 4-NN averages, each
    x's argmax-margin y kept when >= 1.02 AND mutual. One persisted
    pair-scan feeds all four consumers."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.where(F.col("vec_id") % 2 == 0)
    y = emb.where(F.col("vec_id") % 2 == 1)
    return similarity.margin_pairs(x, y, k=4, threshold=1.02, mutual=True)


SQL_MARGIN_PAIRS = """
WITH x AS (
  SELECT vec_id AS xid,
         list_transform(CAST(embedding AS DOUBLE[]),
           e -> e / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))))
           AS xv
  FROM embeddings
  WHERE vec_id % 2 = 0
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
),
y AS (
  SELECT vec_id AS yid,
         list_transform(CAST(embedding AS DOUBLE[]),
           e -> e / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))))
           AS yv
  FROM embeddings
  WHERE vec_id % 2 = 1
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
),
pairs AS (
  SELECT xid, yid, ROUND(list_dot_product(xv, yv), 6) AS cosine
  FROM x CROSS JOIN y
),
ax AS (
  SELECT xid, SUM(CAST(cosine AS DECIMAL(10,6))) AS sx, COUNT(*) AS kx
  FROM (
    SELECT *, row_number() OVER (PARTITION BY xid
                                 ORDER BY cosine DESC, yid) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY xid
),
ay AS (
  SELECT yid, SUM(CAST(cosine AS DECIMAL(10,6))) AS sy, COUNT(*) AS ky
  FROM (
    SELECT *, row_number() OVER (PARTITION BY yid
                                 ORDER BY cosine DESC, xid) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY yid
),
margined AS (
  SELECT p.xid, p.yid, p.cosine,
         ROUND(p.cosine / ((CAST(ax.sx AS DOUBLE) / ax.kx
                            + CAST(ay.sy AS DOUBLE) / ay.ky) / 2), 6)
           AS margin
  FROM pairs p JOIN ax ON ax.xid = p.xid JOIN ay ON ay.yid = p.yid
),
fwd AS (
  SELECT xid, yid, cosine, margin FROM (
    SELECT *, row_number() OVER (PARTITION BY xid
                                 ORDER BY margin DESC, yid) AS rm
    FROM margined
  ) WHERE rm = 1 AND margin >= 1.02
),
bwd AS (
  SELECT xid, yid FROM (
    SELECT *, row_number() OVER (PARTITION BY yid
                                 ORDER BY margin DESC, xid) AS rm
    FROM margined
  ) WHERE rm = 1
)
SELECT f.xid AS x_id, f.yid AS y_id, f.cosine, f.margin
FROM fwd f JOIN bwd b ON b.xid = f.xid AND b.yid = f.yid
"""


def q_margin_pairs_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB margin_pairs (similarity.margin_pairs_pooled, VERDICT
    r8 item #1): IVF candidate pools per side — each even-id x probes
    the odd-id y side for its top-8 approximate neighbors under fixed
    centroids (vec_id 0..7 embeddings, the proven
    embedding_topk_ivf_fixed quantizer), each y probes x likewise, the
    union is the candidate pool — then the IDENTICAL 4-NN margin +
    mutual-argmax logic runs over the pool instead of the exact n·m
    cross join. Per-pair cost flat in corpus size; the oracle replays
    assignment, probe, both directed top-8 cuts, the union, and the
    margin ladder relationally."""
    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda v: v.cast("double")).alias("e"))
        .collect()
    )
    centroids = [list(r["e"]) for r in cent_rows]
    x = emb.where(F.col("vec_id") % 2 == 0)
    y = emb.where(F.col("vec_id") % 2 == 1)
    return similarity.margin_pairs_pooled(
        x, y, centroids, k=4, threshold=1.02, mutual=True,
        top_m=8, n_probe=3,
    )


SQL_MARGIN_PAIRS_POOLED = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
cent AS (SELECT vec_id AS cid, cv AS ce FROM c WHERE vec_id < 8),
dists AS (
  SELECT c.vec_id, cent.cid,
         list_sum(list_transform(range(1, 1 + len(c.cv)),
             i -> (c.cv[i] - cent.ce[i]) * (c.cv[i] - cent.ce[i]))) AS d
  FROM c CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists)
  WHERE rn = 1
),
probe AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists)
  WHERE rn <= 3
),
fwd_s AS (
  SELECT p.vec_id AS xid, a.vec_id AS yid,
         list_dot_product(cy.cv, cx.cv)
           / (sqrt(list_dot_product(cy.cv, cy.cv))
              * sqrt(list_dot_product(cx.cv, cx.cv))) AS score
  FROM probe p
  JOIN assigned a USING (cluster)
  JOIN c cx ON cx.vec_id = p.vec_id
  JOIN c cy ON cy.vec_id = a.vec_id
  WHERE p.vec_id % 2 = 0 AND a.vec_id % 2 = 1
    AND a.vec_id <> p.vec_id
),
fwd_cand AS (
  SELECT xid, yid FROM (
    SELECT *, row_number() OVER (
      PARTITION BY xid ORDER BY score DESC, yid ASC) AS rn
    FROM fwd_s)
  WHERE rn <= 8
),
bwd_s AS (
  SELECT a.vec_id AS xid, p.vec_id AS yid,
         list_dot_product(cx.cv, cy.cv)
           / (sqrt(list_dot_product(cx.cv, cx.cv))
              * sqrt(list_dot_product(cy.cv, cy.cv))) AS score
  FROM probe p
  JOIN assigned a USING (cluster)
  JOIN c cy ON cy.vec_id = p.vec_id
  JOIN c cx ON cx.vec_id = a.vec_id
  WHERE p.vec_id % 2 = 1 AND a.vec_id % 2 = 0
    AND a.vec_id <> p.vec_id
),
bwd_cand AS (
  SELECT xid, yid FROM (
    SELECT *, row_number() OVER (
      PARTITION BY yid ORDER BY score DESC, xid ASC) AS rn
    FROM bwd_s)
  WHERE rn <= 8
),
pool AS (
  SELECT DISTINCT xid, yid FROM (
    SELECT xid, yid FROM fwd_cand
    UNION ALL SELECT xid, yid FROM bwd_cand)
),
x AS (
  SELECT vec_id AS xid,
         list_transform(CAST(embedding AS DOUBLE[]),
           e -> e / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))))
           AS xv
  FROM embeddings
  WHERE vec_id % 2 = 0
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
),
y AS (
  SELECT vec_id AS yid,
         list_transform(CAST(embedding AS DOUBLE[]),
           e -> e / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))))
           AS yv
  FROM embeddings
  WHERE vec_id % 2 = 1
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
),
pairs AS (
  SELECT p.xid, p.yid, ROUND(list_dot_product(xv, yv), 6) AS cosine
  FROM pool p JOIN x ON x.xid = p.xid JOIN y ON y.yid = p.yid
),
ax AS (
  SELECT xid, SUM(CAST(cosine AS DECIMAL(10,6))) AS sx, COUNT(*) AS kx
  FROM (
    SELECT *, row_number() OVER (PARTITION BY xid
                                 ORDER BY cosine DESC, yid) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY xid
),
ay AS (
  SELECT yid, SUM(CAST(cosine AS DECIMAL(10,6))) AS sy, COUNT(*) AS ky
  FROM (
    SELECT *, row_number() OVER (PARTITION BY yid
                                 ORDER BY cosine DESC, xid) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY yid
),
margined AS (
  SELECT p.xid, p.yid, p.cosine,
         ROUND(p.cosine / ((CAST(ax.sx AS DOUBLE) / ax.kx
                            + CAST(ay.sy AS DOUBLE) / ay.ky) / 2), 6)
           AS margin
  FROM pairs p JOIN ax ON ax.xid = p.xid JOIN ay ON ay.yid = p.yid
),
fwd AS (
  SELECT xid, yid, cosine, margin FROM (
    SELECT *, row_number() OVER (PARTITION BY xid
                                 ORDER BY margin DESC, yid) AS rm
    FROM margined
  ) WHERE rm = 1 AND margin >= 1.02
),
bwd AS (
  SELECT xid, yid FROM (
    SELECT *, row_number() OVER (PARTITION BY yid
                                 ORDER BY margin DESC, xid) AS rm
    FROM margined
  ) WHERE rm = 1
)
SELECT f.xid AS x_id, f.yid AS y_id, f.cosine, f.margin
FROM fwd f JOIN bwd b ON b.xid = f.xid AND b.yid = f.yid
"""


QUERIES.update({
    "hard_negatives": q_hard_negatives,
    "margin_pairs": q_margin_pairs,
    "margin_pairs_pooled": q_margin_pairs_pooled,
})
ORACLES.update({
    "hard_negatives": SQL_HARD_NEGATIVES,
    "margin_pairs": SQL_MARGIN_PAIRS,
    "margin_pairs_pooled": SQL_MARGIN_PAIRS_POOLED,
})


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability gate (textstats.readability_scores): Flesch reading
    ease + FK grade from one regexp tokenization and a higher-order
    syllable aggregate — map-side, zero shuffles. NULL scores for
    wordless docs double as the ANSI divide-by-zero guard."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.readability_scores(docs)


SQL_READABILITY = """
WITH base AS (
  SELECT doc_id,
    regexp_extract_all(lower(text), '[a-z]+') AS toks,
    COALESCE(len(regexp_extract_all(text, '[.!?]+')), 0) AS n_sentences
  FROM documents
),
counted AS (
  SELECT doc_id,
    COALESCE(len(toks), 0) AS n_words,
    n_sentences,
    COALESCE(list_sum(list_transform(toks,
      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0)
      AS n_syllables
  FROM base
)
SELECT doc_id, n_words, n_sentences, CAST(n_syllables AS INT) AS n_syllables,
  CASE WHEN n_words > 0 THEN
    ROUND(206.835 - 1.015 * (n_words / greatest(n_sentences, 1))
          - 84.6 * (n_syllables / n_words), 4)
  END AS flesch,
  CASE WHEN n_words > 0 THEN
    ROUND(0.39 * (n_words / greatest(n_sentences, 1))
          + 11.8 * (n_syllables / n_words) - 15.59, 4)
  END AS fk_grade
FROM counted
"""


QUERIES.update({"readability_scores": q_readability})
ORACLES.update({"readability_scores": SQL_READABILITY})


def q_domain_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-granularity quality gate (urls.domain_quality_report over
    classifier.classifier_scores): per-eTLD+1 mean of the frozen-weight
    quality classifier with a keep/drop verdict — the RefinedWeb/DCLM
    move of judging content farms at domain level. Decimal score sums,
    one end-division; one aggregate on the domain key."""
    from ..operators import classifier, urls

    docs = _t(spark, sf_dir, "documents")
    scores = classifier.classifier_scores(docs, classifier.WEIGHTS_QUALITY_V1)
    tagged = docs.join(scores, "doc_id").withColumn("url", _synth_url_col())
    return urls.domain_quality_report(tagged, "url", "clf_score", min_avg=0.5)


SQL_DOMAIN_QUALITY_GATE = (
    "WITH synth AS (" + _SQL_URL_SYNTH + "), canon AS (" + _SQL_URL_CANON
    + "), scores AS (" + SQL_QUALITY_CLASSIFIER_SCORES + """),
doc_dom AS (
  SELECT doc_id,
    CASE
      WHEN len(string_split(h, '.')) <= 2 THEN h
      WHEN array_to_string(list_slice(string_split(h, '.'),
             greatest(len(string_split(h, '.')) - 1, 1),
             len(string_split(h, '.'))), '.')
           IN ('co.uk','org.uk','gov.uk','ac.uk','com.au','net.au','org.au',
               'co.jp','co.kr','co.in','co.nz','co.za','com.br','com.cn',
               'com.mx','com.tr','com.sg','com.ar')
      THEN array_to_string(list_slice(string_split(h, '.'),
             greatest(len(string_split(h, '.')) - 2, 1),
             len(string_split(h, '.'))), '.')
      ELSE array_to_string(list_slice(string_split(h, '.'),
             greatest(len(string_split(h, '.')) - 1, 1),
             len(string_split(h, '.'))), '.')
    END AS domain
  FROM (
    SELECT doc_id,
           regexp_extract(canonical_url, '^https?://([^:/?]*)', 1) AS h
    FROM canon WHERE canonical_url IS NOT NULL
  )
),
per AS (
  SELECT d.domain, COUNT(*) AS n_docs,
         COUNT(s.clf_score) AS nsc,
         SUM(CAST(s.clf_score AS DECIMAL(18,6))) AS sdec
  FROM doc_dom d JOIN scores s USING (doc_id)
  GROUP BY d.domain
)
SELECT domain, n_docs,
       ROUND(CAST(sdec AS DOUBLE) / nsc, 6) AS avg_score,
       (CAST(sdec AS DOUBLE) / nsc >= 0.5) AS keep_domain
FROM per
"""
)


QUERIES.update({"domain_quality_gate": q_domain_quality_gate})
ORACLES.update({"domain_quality_gate": SQL_DOMAIN_QUALITY_GATE})


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (graph.link_prediction_scores) on the 5%-slice
    supplier co-occurrence graph: common-neighbors count + Adamic-Adar
    (inverse-log witness weighting) for non-adjacent pairs sharing >= 2
    witnesses. Wedge join keyed on the witness; per-witness AA
    contributions summed as exact decimals for partitioning-independent
    output."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_suppkey")
    )
    a, b = li.alias("x"), li.alias("y")
    edges = (
        a.join(b, F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .where(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
        )
        .distinct()
    )
    return graph.link_prediction_scores(edges, min_common=2)


SQL_LINK_PREDICTION = """
WITH e AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_suppkey < y.l_suppkey AND x.l_orderkey % 20 = 0
),
adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w),
wit AS (SELECT adj.w, deg.deg, adj.n FROM adj JOIN deg USING (w)),
wedges AS (
  SELECT l.w, l.deg, l.n AS u, r.n AS v
  FROM wit l JOIN adj r USING (w) WHERE l.n < r.n
),
scored AS (
  SELECT u, v, COUNT(*) AS common_neighbors,
         SUM(CAST(ROUND(1.0 / LN(deg), 9) AS DECIMAL(18,9))) AS aa
  FROM wedges GROUP BY u, v
)
SELECT u, v, common_neighbors,
       ROUND(CAST(aa AS DOUBLE), 6) AS adamic_adar
FROM scored s
WHERE common_neighbors >= 2
  AND NOT EXISTS (SELECT 1 FROM e WHERE e.a = s.u AND e.b = s.v)
"""


QUERIES.update({"link_prediction": q_link_prediction})
ORACLES.update({"link_prediction": SQL_LINK_PREDICTION})


def q_line_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal
    (dedup.dedup_lines_within_doc): first occurrence of each
    normalized line survives, blank lines keep structure — nav/footer
    chrome that repeats INSIDE one page. Pure higher-order array
    expressions: zero shuffles, map-side at any scale. Plants duplicated
    nav chrome around every 4th document."""
    d = F.col("doc_id")
    nav = F.lit("Home | About | Contact")
    planted = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            d % 4 == 0,
            F.concat(nav, F.lit("\n"), F.coalesce(F.col("text"), F.lit("")),
                     F.lit("\n"), nav, F.lit("\nCopyright 2024 Example Corp")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.dedup_lines_within_doc(planted).select(
        "doc_id", "text_deduped"
    )


SQL_LINE_DEDUP_WITHIN_DOC = """
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN
      'Home | About | Contact' || chr(10) || COALESCE(text, '') || chr(10)
      || 'Home | About | Contact' || chr(10) || 'Copyright 2024 Example Corp'
    ELSE text END AS text
  FROM documents
),
arr AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
         list_transform(string_split(text, chr(10)),
           l -> trim(regexp_replace(lower(l), '[ \\t\\r]+', ' ', 'g'))) AS keys
  FROM planted
)
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL ELSE
    array_to_string(
      list_filter(lines, (l, i) ->
        trim(regexp_replace(lower(l), '[ \\t\\r]+', ' ', 'g')) = ''
        OR list_position(keys, keys[i]) = i),
      chr(10))
  END AS text_deduped
FROM arr
"""


QUERIES.update({"line_dedup_within_doc": q_line_dedup_within_doc})
ORACLES.update({"line_dedup_within_doc": SQL_LINE_DEDUP_WITHIN_DOC})


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (ml.rfm_segments): one customer aggregate
    (decimal monetary sums), ntile scores with customer-id tie-breaks
    over the post-aggregation relation, 3-digit segment code. The CRM
    scoring classic as a deterministic distributed plan."""
    orders = _t(spark, sf_dir, "orders")
    return ml.rfm_segments(orders)


SQL_RFM_SEGMENTS = """
WITH per AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_d,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
ref AS (SELECT MAX(o_orderdate) AS ref_d FROM orders),
base AS (
  SELECT o_custkey,
         date_diff('day', CAST(last_d AS DATE), CAST(ref_d AS DATE))
           AS recency_days,
         frequency, monetary
  FROM per CROSS JOIN ref
)
SELECT o_custkey, CAST(recency_days AS INT) AS recency_days,
       frequency, monetary,
       r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS segment
FROM (
  SELECT *,
    CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS INT)
      AS r_score,
    CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS INT)
      AS f_score,
    CAST(ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS INT)
      AS m_score
  FROM base
)
"""


def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation
    (timeseries.period_over_period over a year × nation rollup):
    decimal revenue sums feed one lag window per nation; growth NULL on
    the first year and zero bases."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("year"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "revenue"
            )
        )
    )
    return timeseries.period_over_period(
        rev, "year", "revenue", group_cols=("nation",)
    )


SQL_YOY_GROWTH = """
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) AS INT) AS year,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, year(o.o_orderdate)
),
lagged AS (
  SELECT nation, year, revenue,
         lag(revenue) OVER (PARTITION BY nation ORDER BY year)
           AS prev_revenue
  FROM rev
)
SELECT nation, year, revenue, prev_revenue,
  CASE WHEN prev_revenue IS NOT NULL
        AND CAST(prev_revenue AS DOUBLE) <> 0.0 THEN
    ROUND((CAST(revenue AS DOUBLE) - CAST(prev_revenue AS DOUBLE))
          / CAST(prev_revenue AS DOUBLE), 6)
  END AS growth
FROM lagged
"""


QUERIES.update({
    "rfm_segments": q_rfm_segments,
    "yoy_growth": q_yoy_growth,
})
ORACLES.update({
    "rfm_segments": SQL_RFM_SEGMENTS,
    "yoy_growth": SQL_YOY_GROWTH,
})


def q_pii_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity-style PII audit (redact.pii_k_anonymity, VERDICT r8
    item #8): plants unique per-doc emails (every 3rd), a shared email
    (every 5th), a small IP pool (every 4th), and an 11-phone pool
    (every 7th), then reports per type: distinct/rare value counts
    (document frequency < 5), docs carrying the type, docs carrying a
    RARE value, and docs where a rare value CO-OCCURS with another PII
    type — the quasi-identifier linkage-risk table redaction policy
    reads. Same patterns as the scrub pass; extraction runs over the
    progressively-redacted text exactly like redact_pii_col."""
    from ..functions.redact import pii_k_anonymity

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                d % 3 == 0,
                F.concat(F.lit(" reach user"), d.cast("string"),
                         F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit(" or info@example.com")).otherwise(
                F.lit("")
            ),
            F.when(
                d % 4 == 0,
                F.concat(F.lit(" from 10.0.0."), (d % 20).cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" call 202-555-"),
                         F.lpad((d % 11).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_k_anonymity(docs, k=5)


SQL_PII_K_ANONYMITY = r"""
WITH dirty AS (
  SELECT doc_id,
    COALESCE(text, '')
    || CASE WHEN doc_id % 3 = 0
            THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' or info@example.com' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN ' from 10.0.0.' || CAST(doc_id % 20 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 202-555-' || lpad(CAST(doc_id % 11 AS VARCHAR), 4, '0')
            ELSE '' END
    AS text
  FROM main.documents
),
ex1 AS (
  SELECT doc_id,
    regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS e_raw,
    regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
  FROM dirty
),
ex2 AS (
  SELECT doc_id, e_raw,
    regexp_extract_all(t1, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b') AS p_raw,
    regexp_replace(t1, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b',
                   '[PHONE]', 'g') AS t2
  FROM ex1
),
ex3 AS (
  SELECT doc_id, e_raw, p_raw,
    regexp_extract_all(t2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b') AS i_raw
  FROM ex2
),
vals AS (
  SELECT doc_id, 'email' AS pii_type,
         unnest(list_distinct(e_raw)) AS pii_value FROM ex3
  UNION ALL
  SELECT doc_id, 'phone', unnest(list_distinct(p_raw)) FROM ex3
  UNION ALL
  SELECT doc_id, 'ip', unnest(list_distinct(i_raw)) FROM ex3
),
freq AS (
  SELECT pii_type, pii_value, COUNT(*) AS dfreq
  FROM vals GROUP BY 1, 2
),
tagged AS (
  SELECT v.doc_id, v.pii_type, (f.dfreq < 5) AS rare
  FROM vals v JOIN freq f USING (pii_type, pii_value)
),
doc_type AS (
  SELECT doc_id, pii_type, MAX(CAST(rare AS INT)) AS has_rare
  FROM tagged GROUP BY 1, 2
),
ntypes AS (SELECT doc_id, COUNT(*) AS nt FROM doc_type GROUP BY 1),
doc_roll AS (
  SELECT pii_type,
         CAST(COUNT(*) AS BIGINT) AS n_docs_with_type,
         CAST(SUM(has_rare) AS BIGINT) AS n_docs_with_rare,
         CAST(SUM(CASE WHEN has_rare = 1 AND nt >= 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_docs_colinked
  FROM doc_type JOIN ntypes USING (doc_id) GROUP BY 1
),
val_roll AS (
  SELECT pii_type,
         CAST(COUNT(*) AS BIGINT) AS n_values,
         CAST(SUM(CAST(dfreq < 5 AS INT)) AS BIGINT) AS n_rare_values
  FROM freq GROUP BY 1
)
SELECT v.pii_type, v.n_values, v.n_rare_values,
       ROUND(v.n_rare_values * 1.0 / v.n_values, 6) AS frac_rare_values,
       d.n_docs_with_type, d.n_docs_with_rare, d.n_docs_colinked
FROM val_roll v JOIN doc_roll d USING (pii_type)
ORDER BY pii_type
"""


def q_pii_prevalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII prevalence report (redact.pii_prevalence_report):
    per-type hit totals + fraction of docs carrying any PII, ONE
    aggregate on the source key; same conservative patterns as the
    redaction pass so audit and scrub can never disagree. PII planted on
    every 3rd doc so both clean and dirty rows exist per source."""
    from ..functions.redact import pii_prevalence_report

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.when(
            d % 3 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" contact user"), d.cast("string"),
                F.lit("@example.com from 10.0.0."),
                (d % 255).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_prevalence_report(docs)


SQL_PII_PREVALENCE = r"""
WITH dirty AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 3 = 0 THEN
      COALESCE(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@example.com from 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)
    ELSE text END AS text
  FROM documents
),
counted AS (
  SELECT source,
    CAST(len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      AS n_emails,
    CAST(len(regexp_extract_all(text,
      '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phones,
    CAST(len(regexp_extract_all(text,
      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips
  FROM dirty
)
SELECT source, COUNT(*) AS n_docs,
       SUM(n_emails) AS total_emails,
       SUM(n_phones) AS total_phones,
       SUM(n_ips) AS total_ips,
       ROUND(SUM(CASE WHEN n_emails + n_phones + n_ips > 0
                      THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS frac_docs_with_pii
FROM counted
GROUP BY source ORDER BY source
"""


QUERIES.update({
    "pii_prevalence": q_pii_prevalence,
    "pii_k_anonymity": q_pii_k_anonymity,
})
ORACLES.update({
    "pii_prevalence": SQL_PII_PREVALENCE,
    "pii_k_anonymity": SQL_PII_K_ANONYMITY,
})


def q_positional_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution
    (timeseries.positional_attribution): each touch forward-as-of joins
    to its NEXT purchase within 7 days (single-assignment credit — one
    shuffle + one window, never a conversions × touches range join),
    positions from one per-conversion window, 40/20/40 credits summed as
    exact 9dp decimals."""
    evdf = _t(spark, sf_dir, "events")
    return timeseries.positional_attribution(evdf)


SQL_POSITIONAL_ATTRIBUTION = """
WITH t AS (
  SELECT user_id, ts, event_type AS touch_type,
         row_number() OVER (PARTITION BY user_id, ts, event_type
                            ORDER BY event_type) AS seq
  FROM events WHERE event_type IN ('click', 'view')
),
c AS (SELECT user_id, ts, event_id AS conv_id FROM events
      WHERE event_type = 'purchase'),
matched AS (
  SELECT user_id, ts, touch_type, conv_id FROM (
    SELECT t.user_id, t.ts, t.touch_type, t.seq, c.conv_id,
      row_number() OVER (PARTITION BY t.user_id, t.ts, t.touch_type, t.seq
                         ORDER BY c.ts ASC, c.conv_id DESC) AS rn
    FROM t JOIN c ON c.user_id = t.user_id
     AND c.ts >= t.ts AND c.ts <= t.ts + INTERVAL 7 DAY
  ) WHERE rn = 1
),
pos AS (
  SELECT touch_type, conv_id,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY ts, touch_type) AS p,
         COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM matched
)
SELECT touch_type,
       COUNT(DISTINCT conv_id) AS conversions_touched,
       ROUND(CAST(SUM(CAST(ROUND(
         CASE WHEN n = 1 THEN 1.0
              WHEN n = 2 THEN 0.5
              WHEN p = 1 THEN 0.4
              WHEN p = n THEN 0.4
              ELSE 0.2 / (n - 2) END, 9) AS DECIMAL(18,9)))
         AS DOUBLE), 6) AS total_credit
FROM pos
GROUP BY touch_type ORDER BY touch_type
"""


QUERIES.update({"positional_attribution": q_positional_attribution})
ORACLES.update({"positional_attribution": SQL_POSITIONAL_ATTRIBUTION})


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (skew.kmv_sketch + kmv_distinct_estimate,
    Beyer et al. SIGMOD'07): k=64 smallest md5-uniform hashes of
    customers per order priority; estimate (k-1)/h_k, exact below k.
    Deterministic hash arithmetic — the ESTIMATE itself is
    oracle-replicable, with exact counts side-by-side."""
    orders = _t(spark, sf_dir, "orders")
    sk = skew.kmv_sketch(orders, ["o_orderpriority"], "o_custkey", k=64)
    est = skew.kmv_distinct_estimate(sk, ["o_orderpriority"], k=64)
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return est.join(exact, "o_orderpriority").orderBy("o_orderpriority")


SQL_KMV_DISTINCT = """
WITH hashed AS (
  SELECT DISTINCT o_orderpriority,
    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
      / CAST(281474976710656 AS DOUBLE) AS kmv_hash
  FROM orders WHERE o_custkey IS NOT NULL
),
sk AS (
  SELECT o_orderpriority, kmv_hash FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY kmv_hash) AS rn
    FROM hashed
  ) WHERE rn <= 64
),
est AS (
  SELECT o_orderpriority, COUNT(*) AS n, MAX(kmv_hash) AS hk
  FROM sk GROUP BY o_orderpriority
)
SELECT e.o_orderpriority,
       ROUND(CASE WHEN e.n < 64 THEN CAST(e.n AS DOUBLE)
                  ELSE 63.0 / e.hk END, 4) AS distinct_estimate,
       x.exact_distinct
FROM est e JOIN (
  SELECT o_orderpriority,
         COUNT(DISTINCT o_custkey) AS exact_distinct
  FROM orders GROUP BY o_orderpriority
) x USING (o_orderpriority)
ORDER BY e.o_orderpriority
"""


def q_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV intersection estimate (skew.kmv_intersection_estimate) — the
    set operation HLL cannot do: customers of URGENT vs HIGH priority
    orders; ρ·D(A∪B) over the union's k smallest hashes, with the exact
    intersection side-by-side. Fully deterministic (md5 hashing, no
    RNG), so the estimator replays exactly in SQL."""
    orders = _t(spark, sf_dir, "orders")
    a = skew.kmv_sketch(
        orders.where(F.col("o_orderpriority") == "1-URGENT"),
        [], "o_custkey", k=128,
    )
    b = skew.kmv_sketch(
        orders.where(F.col("o_orderpriority") == "2-HIGH"),
        [], "o_custkey", k=128,
    )
    est = skew.kmv_intersection_estimate(a, b, k=128)
    exact = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey").distinct()
        .intersect(
            _t(spark, sf_dir, "orders")
            .where(F.col("o_orderpriority") == "2-HIGH")
            .select("o_custkey").distinct()
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return est.crossJoin(exact)


SQL_KMV_INTERSECTION = """
WITH ha AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
      / CAST(281474976710656 AS DOUBLE) AS kmv_hash
  FROM orders WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL
),
hb AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
      / CAST(281474976710656 AS DOUBLE) AS kmv_hash
  FROM orders WHERE o_orderpriority = '2-HIGH' AND o_custkey IS NOT NULL
),
sa AS (SELECT kmv_hash FROM (
  SELECT kmv_hash, row_number() OVER (ORDER BY kmv_hash) rn FROM ha
) WHERE rn <= 128),
sb AS (SELECT kmv_hash FROM (
  SELECT kmv_hash, row_number() OVER (ORDER BY kmv_hash) rn FROM hb
) WHERE rn <= 128),
u AS (
  SELECT COALESCE(sa.kmv_hash, sb.kmv_hash) AS kmv_hash,
         CASE WHEN sa.kmv_hash IS NULL THEN 0 ELSE 1 END AS ina,
         CASE WHEN sb.kmv_hash IS NULL THEN 0 ELSE 1 END AS inb
  FROM sa FULL OUTER JOIN sb ON sa.kmv_hash = sb.kmv_hash
),
topu AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY kmv_hash) AS rn FROM u
  ) WHERE rn <= 128
),
agg AS (
  SELECT COUNT(*) AS k_used, MAX(kmv_hash) AS hk,
         SUM(ina * inb) AS both
  FROM topu
),
exact AS (
  SELECT COUNT(*) AS exact_intersection FROM (
    SELECT o_custkey FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderpriority = '2-HIGH' AND o_custkey IS NOT NULL
  )
)
SELECT CAST(a.k_used AS BIGINT) AS k_used,
  ROUND(CAST(a.both AS DOUBLE) / a.k_used, 6) AS jaccard_estimate,
  ROUND(CASE WHEN a.k_used < 128 THEN CAST(a.k_used AS DOUBLE)
             ELSE 127.0 / a.hk END, 4) AS union_estimate,
  ROUND((CAST(a.both AS DOUBLE) / a.k_used)
        * CASE WHEN a.k_used < 128 THEN CAST(a.k_used AS DOUBLE)
               ELSE 127.0 / a.hk END, 4) AS intersection_estimate,
  e.exact_intersection
FROM agg a CROSS JOIN exact e
"""


QUERIES.update({
    "kmv_distinct": q_kmv_distinct,
    "kmv_intersection": q_kmv_intersection,
})
ORACLES.update({
    "kmv_distinct": SQL_KMV_DISTINCT,
    "kmv_intersection": SQL_KMV_INTERSECTION,
})


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (ml.ranking_metrics): recall@10 / MRR@10 /
    NDCG@10 of exact cosine top-k against same-label ground truth — the
    harness that grades every ANN/lexical surface in the engine. One
    join + two aggregates on the query key."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from pyspark.sql.window import Window

    res = similarity.cosine_topk(emb, queries, k=10)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    res = res.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "query_id", F.col("vec_id").alias("item_id"), "rank"
    )
    qlab = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__ql")
    )
    truth = qlab.join(
        emb.select(F.col("vec_id").alias("item_id"), "label"),
        F.col("__ql") == F.col("label"),
    ).where(F.col("query_id") != F.col("item_id")).select(
        "query_id", "item_id"
    )
    return ml.ranking_metrics(res, truth, k=10).orderBy("query_id")


SQL_RETRIEVAL_EVAL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS ql
  FROM embeddings WHERE vec_id < 20
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
s AS (
  SELECT q.query_id, c.vec_id,
         ROUND(list_dot_product(c.cv, q.qv)
               / (sqrt(list_dot_product(c.cv, c.cv))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
res AS (
  SELECT query_id, vec_id AS item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rank
  FROM s QUALIFY rank <= 10
),
truth AS (
  SELECT q.query_id, c.vec_id AS item_id
  FROM q JOIN c ON c.label = q.ql AND c.vec_id <> q.query_id
),
nrel AS (SELECT query_id, COUNT(*) AS nrel FROM truth GROUP BY query_id),
hits AS (
  SELECT r.query_id, COUNT(*) AS hits, MIN(r.rank) AS first_rank,
         SUM(1.0 / log2(CAST(r.rank AS DOUBLE) + 1.0)) AS dcg
  FROM res r JOIN truth t ON t.query_id = r.query_id
                         AND t.item_id = r.item_id
  GROUP BY r.query_id
)
SELECT b.query_id,
  COALESCE(n.nrel, 0) AS n_relevant,
  COALESCE(h.hits, 0) AS n_hits,
  CASE WHEN COALESCE(n.nrel, 0) > 0 THEN
    ROUND(COALESCE(h.hits, 0) / n.nrel, 6) END AS recall_at_k,
  CASE WHEN COALESCE(n.nrel, 0) > 0 THEN
    ROUND(COALESCE(1.0 / first_rank, 0.0), 6) END AS mrr_at_k,
  CASE WHEN COALESCE(n.nrel, 0) > 0 THEN
    ROUND(COALESCE(h.dcg, 0.0)
          / list_sum(list_transform(range(1, least(n.nrel, 10) + 1),
                                    i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0))),
          6) END AS ndcg_at_k
FROM (SELECT query_id FROM res UNION SELECT query_id FROM truth) b
LEFT JOIN nrel n USING (query_id)
LEFT JOIN hits h USING (query_id)
ORDER BY b.query_id
"""


QUERIES.update({"retrieval_eval": q_retrieval_eval})
ORACLES.update({"retrieval_eval": SQL_RETRIEVAL_EVAL})


def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments sketch (aggstate.moments_state +
    finalize_moments): exact scaled-integer power sums -> mean /
    variance / skewness / excess kurtosis per return flag — population
    conventions computed from the SAME exact sums in both engines
    (their skewness/kurtosis builtins disagree on sample corrections).
    One aggregate; states merge across batches bit-exactly."""
    li = _t(spark, sf_dir, "lineitem")
    st = aggstate.moments_state(li, ["l_returnflag"], "l_extendedprice")
    return aggstate.finalize_moments(st, ["l_returnflag"]).orderBy(
        "l_returnflag"
    )


SQL_MOMENTS = """
WITH iv AS (
  SELECT l_returnflag,
         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0) AS HUGEINT) AS i
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
st AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(i) AS s1, SUM(i*i) AS s2, SUM(i*i*i) AS s3, SUM(i*i*i*i) AS s4
  FROM iv GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  ROUND(mean, 6) AS mean,
  CASE WHEN n >= 2 AND var > 0 THEN ROUND(var, 6) END AS variance,
  CASE WHEN n >= 2 AND var > 0 THEN
    ROUND((s3d / n - 3 * mean * var - mean * mean * mean)
          / POW(var, 1.5), 6) END AS skewness,
  CASE WHEN n >= 2 AND var > 0 THEN
    ROUND((s4d / n - 4 * mean * s3d / n
           + 6 * mean * mean * s2d / n - 3 * POW(mean, 4))
          / (var * var) - 3, 6) END AS kurtosis_excess
FROM (
  SELECT l_returnflag, n,
         CAST(s1 AS DOUBLE) / 100.0 / n AS mean,
         CAST(s2 AS DOUBLE) / 10000.0 AS s2d,
         CAST(s3 AS DOUBLE) / 1000000.0 AS s3d,
         CAST(s4 AS DOUBLE) / 100000000.0 AS s4d,
         CAST(s2 AS DOUBLE) / 10000.0 / n
           - POW(CAST(s1 AS DOUBLE) / 100.0 / n, 2) AS var
  FROM st
)
ORDER BY l_returnflag
"""


QUERIES.update({"moments_sketch": q_moments})
ORACLES.update({"moments_sketch": SQL_MOMENTS})


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation (transform.neyman_allocation):
    a 1000-row budget split across order priorities proportional to
    N_h·σ_h of the order value (exact scaled-integer power sums; floor +
    largest-fractional-remainder so allocations sum exactly). The
    profiling half of variance-minimizing stratified sampling."""
    orders = _t(spark, sf_dir, "orders")
    return transform.neyman_allocation(
        orders, "o_orderpriority", "o_totalprice", total_n=1000
    ).orderBy("o_orderpriority")


SQL_NEYMAN_ALLOCATION = """
WITH st AS (
  SELECT o_orderpriority AS s, COUNT(*) AS n_rows,
         SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100.0) AS HUGEINT))
           AS s1,
         SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100.0) AS HUGEINT)
             * CAST(round(CAST(o_totalprice AS DOUBLE) * 100.0) AS HUGEINT))
           AS s2
  FROM orders WHERE o_totalprice IS NOT NULL
  GROUP BY o_orderpriority
),
sd AS (
  SELECT s, n_rows,
    sqrt(greatest(
      CAST(s2 AS DOUBLE) / 10000.0 / n_rows
      - POW(CAST(s1 AS DOUBLE) / 100.0 / n_rows, 2), 0.0)) AS sdv
  FROM st
),
tot AS (SELECT SUM(n_rows * sdv) AS t, SUM(n_rows) AS ntot FROM sd),
raw AS (
  SELECT s, n_rows, sdv,
    CASE WHEN tot.t > 0 THEN 1000.0 * n_rows * sdv / tot.t
         ELSE 1000.0 * n_rows / tot.ntot END AS rawv
  FROM sd CROSS JOIN tot
),
fl AS (
  SELECT *, CAST(floor(rawv) AS BIGINT) AS flr FROM raw
),
short AS (SELECT 1000 - SUM(flr) AS sh FROM fl)
SELECT s AS o_orderpriority, n_rows,
       ROUND(sdv, 6) AS stddev,
       least(flr + CASE WHEN rk <= short.sh THEN 1 ELSE 0 END, n_rows)
         AS allocation
FROM (
  SELECT *, row_number() OVER (ORDER BY rawv - flr DESC, s) AS rk FROM fl
) f CROSS JOIN short
ORDER BY s
"""


QUERIES.update({"neyman_allocation": q_neyman_allocation})
ORACLES.update({"neyman_allocation": SQL_NEYMAN_ALLOCATION})


def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column drift gate (quality.drift_report): total PSI +
    verdict per numeric column between the first- and second-half
    shipping periods — per-bin PSI terms decimal-summed so the total is
    partitioning-independent."""
    from ..operators import quality

    li = _t(spark, sf_dir, "lineitem")
    cut = "1996-07-01"
    ref = li.where(F.col("l_shipdate") < cut)
    cur = li.where(F.col("l_shipdate") >= cut)
    return quality.drift_report(
        ref, cur, ["l_quantity", "l_extendedprice", "l_discount"], bins=10
    )


def _psi_total_sql(col: str) -> str:
    return f"""
  SELECT '{col}' AS "column", ROUND(CAST(SUM(CAST(psi AS DECIMAL(18,9)))
                                         AS DOUBLE), 6) AS psi_total
  FROM (
    WITH ref AS (
      SELECT CAST({col} AS DOUBLE) AS v FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1996-07-01'
    ),
    cur AS (
      SELECT CAST({col} AS DOUBLE) AS v FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-07-01'
    ),
    stats AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM ref),
    rb AS (
      SELECT LEAST(9, GREATEST(0,
               CAST(FLOOR((v - mn) / ((mx - mn) / 10.0)) AS INT))) AS bin,
             COUNT(*) AS n_ref
      FROM ref CROSS JOIN stats GROUP BY 1
    ),
    cb AS (
      SELECT LEAST(9, GREATEST(0,
               CAST(FLOOR((v - mn) / ((mx - mn) / 10.0)) AS INT))) AS bin,
             COUNT(*) AS n_cur
      FROM cur CROSS JOIN stats GROUP BY 1
    ),
    spine AS (SELECT CAST(range AS INT) AS bin FROM range(0, 10)),
    j AS (
      SELECT spine.bin, COALESCE(n_ref, 0) AS n_ref,
             COALESCE(n_cur, 0) AS n_cur
      FROM spine LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)
    ),
    t AS (
      SELECT n_ref / CAST(SUM(n_ref) OVER () AS DOUBLE) + 0.000001 AS p,
             n_cur / CAST(SUM(n_cur) OVER () AS DOUBLE) + 0.000001 AS q
      FROM j
    )
    SELECT ROUND((p - q) * LN(p / q), 6) AS psi FROM t
  )
"""


SQL_DRIFT_REPORT = (
    "SELECT \"column\", psi_total, CASE WHEN psi_total < 0.1 THEN 'stable' "
    "WHEN psi_total < 0.25 THEN 'drifting' ELSE 'shifted' END AS verdict "
    "FROM ("
    + " UNION ALL ".join(
        _psi_total_sql(c)
        for c in ("l_quantity", "l_extendedprice", "l_discount")
    )
    + ")"
)


QUERIES.update({"drift_report": q_drift_report})
ORACLES.update({"drift_report": SQL_DRIFT_REPORT})


def q_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (ml.conformal_intervals):
    the exact ceil((n+1)(1-alpha))-th calibration residual becomes the
    half-width of distribution-free 90% intervals around a fixed linear
    price model — coverage holds regardless of model quality. One
    calibration rank + one 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    pred = (F.lit(900.0) + F.lit(95.0) * F.col("l_quantity").cast("double"))
    scored = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("y"),
        pred.alias("prediction"),
    )
    cal = scored.where(F.col("l_orderkey") % 2 == 0)
    test = scored.where(F.col("l_orderkey") % 499 == 1)
    return ml.conformal_intervals(cal, test, alpha=0.1)


SQL_CONFORMAL_INTERVALS = """
WITH scored AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_extendedprice AS DOUBLE) AS y,
         900.0 + 95.0 * CAST(l_quantity AS DOUBLE) AS prediction
  FROM lineitem
),
cal AS (
  SELECT ROUND(ABS(y - prediction), 6) AS r FROM scored
  WHERE l_orderkey % 2 = 0 AND y IS NOT NULL AND prediction IS NOT NULL
),
nk AS (
  SELECT COUNT(*) AS n, CAST(ceil((COUNT(*) + 1) * 0.9) AS BIGINT) AS k
  FROM cal
),
qhat AS (
  SELECT r AS q FROM (
    SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal
  ) CROSS JOIN nk WHERE rn = k
),
qrow AS (SELECT (SELECT q FROM qhat) AS q)
SELECT s.l_orderkey, s.l_linenumber, s.y, s.prediction,
       ROUND(s.prediction - q.q, 6) AS lo,
       ROUND(s.prediction + q.q, 6) AS hi,
       (s.y >= ROUND(s.prediction - q.q, 6)
        AND s.y <= ROUND(s.prediction + q.q, 6)) AS covered
FROM scored s CROSS JOIN qrow q
WHERE s.l_orderkey % 499 = 1
"""


def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over a battery of per-nation KS drift
    tests (ml.bh_fdr over quality.ks_drift): order values first vs
    second era per nation, asymptotic KS p = min(1,
    2·exp(-2·D²·n_a·n_b/(n_a+n_b))), step-up rejection at q=0.05 — the
    multiple-comparisons fix for metric batteries."""
    from ..operators.quality import ks_drift

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    tagged = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .withColumn("__is_ref", F.col("o_orderdate") < "1998-01-01")
    )
    ks = ks_drift(tagged, "o_totalprice", "__is_ref", ["n_name"])
    eff = (
        F.col("n_a").cast("double") * F.col("n_b")
        / (F.col("n_a") + F.col("n_b"))
    )
    tests = ks.select(
        F.col("n_name"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(2.0) * F.exp(F.lit(-2.0) * F.col("ks_stat")
                                   * F.col("ks_stat") * eff),
            ),
            9,
        ).alias("p_value"),
    )
    return ml.bh_fdr(tests, "n_name", q=0.05)


SQL_BH_FDR = """
WITH per_value AS (
  SELECT n.n_name, o.o_totalprice AS v,
         SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 0 ELSE 1 END) AS nb
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_totalprice IS NOT NULL
  GROUP BY n.n_name, o.o_totalprice
),
cdf AS (
  SELECT n_name,
         SUM(na) OVER w / CAST(SUM(na) OVER g AS DOUBLE) AS fa,
         SUM(nb) OVER w / CAST(SUM(nb) OVER g AS DOUBLE) AS fb,
         SUM(na) OVER g AS ta, SUM(nb) OVER g AS tb
  FROM per_value
  WINDOW w AS (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         g AS (PARTITION BY n_name)
),
ks AS (
  SELECT n_name, ROUND(MAX(ABS(fa - fb)), 6) AS d,
         MAX(ta) AS n_a, MAX(tb) AS n_b
  FROM cdf GROUP BY n_name
),
tests AS (
  SELECT n_name,
         ROUND(LEAST(1.0, 2.0 * EXP(-2.0 * d * d
               * (CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)))), 9) AS p
  FROM ks WHERE d IS NOT NULL
),
ranked AS (
  SELECT n_name, p,
         row_number() OVER (ORDER BY p, n_name) AS rank,
         COUNT(*) OVER () AS m
  FROM tests
),
thr AS (
  SELECT *, ROUND(CAST(rank AS DOUBLE) / m * 0.05, 6) AS bh_threshold
  FROM ranked
),
kmax AS (SELECT MAX(rank) AS km FROM thr
         WHERE p <= CAST(rank AS DOUBLE) / m * 0.05)
SELECT t.n_name, ROUND(t.p, 6) AS p, t.rank, t.bh_threshold,
       COALESCE(t.rank <= k.km, FALSE) AS rejected
FROM thr t CROSS JOIN kmax k
"""


QUERIES.update({
    "conformal_intervals": q_conformal_intervals,
    "bh_fdr": q_bh_fdr,
})
ORACLES.update({
    "conformal_intervals": SQL_CONFORMAL_INTERVALS,
    "bh_fdr": SQL_BH_FDR,
})


def q_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical span-level decontamination
    (dedup.remove_contaminated_spans): every corpus occurrence of a
    benchmark 8-token window is cut and the document reassembled —
    FineWeb-style scrubbing that saves the doc while killing the leak
    (contrast decontaminate, which drops whole docs). Benchmark =
    every-101st document, so self-hits scrub those docs to ''."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 101 == 0)
    return dedup.remove_contaminated_spans(docs, bench, "doc_id", n=8)


SQL_SPAN_DECONTAMINATION = r"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
spans AS (
  SELECT doc_id, sp.pos AS pos, sp.s AS s FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
      i -> {'pos': i,
            's': t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
              || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
              || t[i+7]})) AS sp
    FROM tok)
),
bench AS (
  SELECT DISTINCT s FROM spans WHERE doc_id % 101 = 0
),
kills AS (
  SELECT DISTINCT sp.doc_id, unnest(range(sp.pos, sp.pos + 8)) AS kp
  FROM spans sp JOIN bench b ON b.s = sp.s
),
flat AS (
  SELECT doc_id, f.pos AS pos, f.w AS w FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
      i -> {'pos': i, 'w': t[i]})) AS f
    FROM tok)
),
kept AS (
  SELECT fl.doc_id, fl.pos, fl.w
  FROM flat fl LEFT JOIN kills k ON k.doc_id = fl.doc_id AND k.kp = fl.pos
  WHERE k.doc_id IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens_kept,
         string_agg(w, ' ' ORDER BY pos) AS s
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       COALESCE(a.s, '') AS cleaned_text
FROM tok t LEFT JOIN agg a USING (doc_id)
"""


QUERIES.update({"span_decontamination": q_span_decontamination})
ORACLES.update({"span_decontamination": SQL_SPAN_DECONTAMINATION})


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (ml.cuped_summary, Deng et al. WSDM'13):
    per-user post-period event value adjusted by the pre-period value
    covariate, pooled theta from ONE aggregate of exact scaled-integer
    cross sums; per-arm adjusted means/variances in closed form from the
    same sums — no second pass."""
    evdf = _t(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-03-01"))
    per_user = evdf.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)),
            3,
        ).alias("y"),
        F.round(
            F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)),
            3,
        ).alias("x"),
    )
    arms = per_user.withColumn(
        "arm", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    )
    return ml.cuped_summary(arms, "y", "x", "arm").orderBy("arm")


SQL_CUPED = """
WITH per_user AS (
  SELECT user_id,
    ROUND(SUM(CASE WHEN ts >= TIMESTAMP '2024-03-01'
                   THEN value ELSE 0.0 END), 3) AS y,
    ROUND(SUM(CASE WHEN ts < TIMESTAMP '2024-03-01'
                   THEN value ELSE 0.0 END), 3) AS x
  FROM events GROUP BY user_id
),
arms AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
         CAST(round(y * 1000.0) AS HUGEINT) AS iy,
         CAST(round(x * 1000.0) AS HUGEINT) AS ix
  FROM per_user WHERE y IS NOT NULL AND x IS NOT NULL
),
per AS (
  SELECT arm, COUNT(*) AS n,
         SUM(ix) AS sx, SUM(iy) AS sy, SUM(ix*iy) AS sxy,
         SUM(ix*ix) AS sxx, SUM(iy*iy) AS syy
  FROM arms GROUP BY arm
),
tot AS (
  SELECT SUM(n) AS tn, SUM(sx) AS tx, SUM(sy) AS ty,
         SUM(sxy) AS txy, SUM(sxx) AS txx
  FROM per
),
gth AS (
  SELECT CASE WHEN varx > 0 THEN cov / varx ELSE 0.0 END AS theta, xbar
  FROM (
    SELECT CAST(tx AS DOUBLE) / 1000.0 / tn AS xbar,
           CAST(txy AS DOUBLE) / 1000000.0 / tn
             - (CAST(tx AS DOUBLE) / 1000.0 / tn)
               * (CAST(ty AS DOUBLE) / 1000.0 / tn) AS cov,
           CAST(txx AS DOUBLE) / 1000000.0 / tn
             - POW(CAST(tx AS DOUBLE) / 1000.0 / tn, 2) AS varx
    FROM tot
  )
)
SELECT arm, n,
  ROUND(my, 6) AS mean_raw,
  ROUND(my - theta * (mx - xbar), 6) AS mean_adj,
  ROUND(vy, 6) AS var_raw,
  ROUND(vy - 2 * theta * cxy + theta * theta * vx, 6) AS var_adj,
  CASE WHEN vy > 0 THEN
    ROUND((vy - 2 * theta * cxy + theta * theta * vx) / vy, 6)
  END AS var_reduction
FROM (
  SELECT arm, n,
    CAST(sx AS DOUBLE) / 1000.0 / n AS mx,
    CAST(sy AS DOUBLE) / 1000.0 / n AS my,
    CAST(syy AS DOUBLE) / 1000000.0 / n
      - POW(CAST(sy AS DOUBLE) / 1000.0 / n, 2) AS vy,
    CAST(sxx AS DOUBLE) / 1000000.0 / n
      - POW(CAST(sx AS DOUBLE) / 1000.0 / n, 2) AS vx,
    CAST(sxy AS DOUBLE) / 1000000.0 / n
      - (CAST(sx AS DOUBLE) / 1000.0 / n)
        * (CAST(sy AS DOUBLE) / 1000.0 / n) AS cxy
  FROM per
) CROSS JOIN gth
ORDER BY arm
"""


QUERIES.update({"cuped_adjustment": q_cuped})
ORACLES.update({"cuped_adjustment": SQL_CUPED})


def q_corpus_prepare_compliant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline WITH the round-8 compliance + line-scrub
    doors wired (pipeline.prepare_corpus(drop_opted_out=,
    license_families=, line_dedup=)): plants opt-out markers (every
    10th+3 doc), GPL notices (every 10th+6), and duplicated nav chrome
    (every 4th) over the real corpus — fails if ANY door is unwired.
    Same per-source report as corpus_prepare."""
    from ..operators import pipeline

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    footered = docs.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(d % 10 == 3, F.lit(" noai"))
            .when(d % 10 == 6, F.lit(" gnu general public license version 3"))
            .otherwise(F.lit("")),
        ),
    )
    nav = F.lit("Nav | Menu")
    planted = footered.withColumn(
        "text",
        F.when(
            d % 4 == 0,
            F.concat(nav, F.lit("\n"), F.col("text"), F.lit("\n"), nav),
        ).otherwise(F.col("text")),
    )
    scope = _rotating_scope("corpus_prepare_compliant")
    packed = pipeline.prepare_corpus(
        planted,
        pack_budget=512,
        neardup_bands=32,
        drop_opted_out=True,
        license_families=("permissive", "public-domain", "unknown"),
        line_dedup=True,
        scope=scope,
    )
    return pipeline.corpus_report(packed, pack_budget=512)


_SQL_COMPLIANT_PREFIX = r"""
synth AS (
  SELECT doc_id, source,
    (COALESCE(text, '') ||
     CASE WHEN doc_id % 10 = 3 THEN ' noai'
          WHEN doc_id % 10 = 6
            THEN ' gnu general public license version 3'
          ELSE '' END) AS t1
  FROM main.documents
),
planted AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 4 = 0
         THEN 'Nav | Menu' || chr(10) || t1 || chr(10) || 'Nav | Menu'
         ELSE t1 END AS text
  FROM synth
),
kept0 AS (
  SELECT p.doc_id, p.source, p.text,
    regexp_matches(lower(p.text),
      '\bnoai\b|\bnoimageai\b|\bnotrain\b') OR
    regexp_matches(lower(p.text), '\bnoindex\b') OR
    regexp_matches(lower(p.text), 'tdm-reservation\s*[:=]\s*1|tdmrep')
      AS opted_out
  FROM planted p
),
licfam AS (
  SELECT doc_id, source, text, opted_out,
    CASE
      WHEN spdx = 'mit' THEN 'permissive'
      WHEN spdx = 'apache-2.0' THEN 'permissive'
      WHEN spdx = 'bsd-3-clause' THEN 'permissive'
      WHEN spdx = 'cc-by-4.0' THEN 'permissive'
      WHEN spdx = 'mpl-2.0' THEN 'weak-copyleft'
      WHEN spdx = 'lgpl-2.1' THEN 'weak-copyleft'
      WHEN spdx = 'gpl-2.0' THEN 'copyleft'
      WHEN spdx = 'gpl-3.0' THEN 'copyleft'
      WHEN spdx = 'agpl-3.0' THEN 'copyleft'
      WHEN spdx = 'cc-by-sa-4.0' THEN 'copyleft'
      WHEN spdx = 'cc-by-nc-4.0' THEN 'noncommercial'
      WHEN spdx = 'cc0-1.0' THEN 'public-domain'
      WHEN spdx = 'unlicense' THEN 'public-domain'
      WHEN spdx = 'proprietary' THEN 'proprietary'
      WHEN regexp_matches(low, 'gnu affero general public license|\bagpl[- ]?v?3') THEN 'copyleft'
      WHEN regexp_matches(low, 'gnu lesser general public license|\blgpl\b') THEN 'weak-copyleft'
      WHEN regexp_matches(low, 'gnu general public license[,;]? (as published.{0,40})?version 3|\bgpl[- ]?v?3') THEN 'copyleft'
      WHEN regexp_matches(low, 'gnu general public license[,;]? (as published.{0,40})?version 2|\bgpl[- ]?v?2') THEN 'copyleft'
      WHEN regexp_matches(low, 'apache license[,;]? version 2\.0|apache[- ]2\.0') THEN 'permissive'
      WHEN regexp_matches(low, 'mozilla public license|\bmpl[- ]?2\.0') THEN 'weak-copyleft'
      WHEN regexp_matches(low, 'bsd 3[- ]clause|bsd-3-clause|redistribution and use in source and binary forms') THEN 'permissive'
      WHEN regexp_matches(low, 'mit license|permission is hereby granted, free of charge') THEN 'permissive'
      WHEN regexp_matches(low, 'this is free and unencumbered software') THEN 'public-domain'
      WHEN regexp_matches(low, '\bcc0\b|public domain dedication') THEN 'public-domain'
      WHEN regexp_matches(low, 'creative commons attribution[- ]noncommercial|\bcc[- ]by[- ]nc') THEN 'noncommercial'
      WHEN regexp_matches(low, 'creative commons attribution[- ]sharealike|\bcc[- ]by[- ]sa') THEN 'copyleft'
      WHEN regexp_matches(low, 'creative commons attribution|\bcc[- ]by\b') THEN 'permissive'
      WHEN regexp_matches(low, 'all rights reserved') THEN 'proprietary'
      ELSE 'unknown'
    END AS license_family
  FROM (
    SELECT *, lower(text) AS low,
           regexp_extract(lower(text),
             'spdx-license-identifier:\s*([a-z0-9.+-]+)', 1) AS spdx
    FROM kept0
  )
),
complied AS (
  SELECT doc_id, source, text FROM licfam
  WHERE NOT opted_out
    AND license_family IN ('permissive', 'public-domain', 'unknown')
),
scrub AS (
  SELECT doc_id, source, text,
         string_split(text, chr(10)) AS lines,
         list_transform(string_split(text, chr(10)),
           l -> trim(regexp_replace(lower(l), '[ \t\r]+', ' ', 'g'))) AS keys
  FROM complied
),
documents AS (
  SELECT doc_id, source,
    CASE WHEN text IS NULL THEN NULL ELSE
      array_to_string(
        list_filter(lines, (l, i) ->
          trim(regexp_replace(lower(l), '[ \t\r]+', ' ', 'g')) = ''
          OR list_position(keys, keys[i]) = i),
        chr(10))
    END AS text
  FROM scrub
),
"""


QUERIES.update({"corpus_prepare_compliant": q_corpus_prepare_compliant})


SQL_CORPUS_PREPARE_COMPLIANT = (
    "WITH RECURSIVE " + _SQL_COMPLIANT_PREFIX.strip().rstrip(",") + ",\n"
    + SQL_CORPUS_PREPARE.split("WITH RECURSIVE", 1)[1].lstrip()
)
ORACLES.update({"corpus_prepare_compliant": SQL_CORPUS_PREPARE_COMPLIANT})


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor (similarity.embedding_drift):
    per-label centroid cosine + mean-to-centroid spread between the
    even-id and odd-id snapshot halves, with label 9's odd half NEGATED
    as the planted re-embedding — its centroid_cos must go hard
    negative while intact labels stay near 1. Dim-bounded (group, dim)
    shuffles; exact decimal centroid sums."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1).withColumn(
        "embedding",
        F.when(
            F.col("label") == 9,
            F.transform(F.col("embedding"), lambda x: -x),
        ).otherwise(F.col("embedding")),
    )
    return similarity.embedding_drift(a, b, "label").orderBy("label")


SQL_EMBEDDING_DRIFT = """
WITH av AS (
  SELECT label AS g, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 2 = 0 AND embedding IS NOT NULL
),
bv AS (
  SELECT label AS g,
    CASE WHEN label = 9
         THEN list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
         ELSE CAST(embedding AS DOUBLE[]) END AS v
  FROM embeddings WHERE vec_id % 2 = 1 AND embedding IS NOT NULL
),
ac AS (
  SELECT g, u.d AS d,
         CAST(SUM(CAST(u.x AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*) AS c,
         COUNT(*) AS n
  FROM (SELECT g, unnest(list_transform(range(1, len(v) + 1),
                 i -> {'d': i, 'x': v[i]})) AS u FROM av)
  GROUP BY g, u.d
),
bc AS (
  SELECT g, u.d AS d,
         CAST(SUM(CAST(u.x AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*) AS c,
         COUNT(*) AS n
  FROM (SELECT g, unnest(list_transform(range(1, len(v) + 1),
                 i -> {'d': i, 'x': v[i]})) AS u FROM bv)
  GROUP BY g, u.d
),
agg AS (
  SELECT COALESCE(ac.g, bc.g) AS g,
         MAX(ac.n) AS n_a, MAX(bc.n) AS n_b,
         SUM(CAST(ROUND(ac.c * bc.c, 12) AS DECIMAL(38,12))) AS dt,
         SUM(CAST(ROUND(ac.c * ac.c, 12) AS DECIMAL(38,12))) AS qa,
         SUM(CAST(ROUND(bc.c * bc.c, 12) AS DECIMAL(38,12))) AS qb
  FROM ac FULL OUTER JOIN bc ON ac.g = bc.g AND ac.d = bc.d
  GROUP BY COALESCE(ac.g, bc.g)
),
sa AS (
  SELECT cells.g,
         CAST(SUM(CAST(ROUND((CAST(cells.x AS DOUBLE) - ac.c)
                             * (CAST(cells.x AS DOUBLE) - ac.c), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) / MAX(ac.n)
           AS spread_a
  FROM (SELECT g, u.d AS d, u.x AS x
        FROM (SELECT g, unnest(list_transform(range(1, len(v) + 1),
                      i -> {'d': i, 'x': v[i]})) AS u FROM av)) cells
  JOIN ac ON ac.g = cells.g AND ac.d = cells.d
  GROUP BY cells.g
),
sb AS (
  SELECT cells.g,
         CAST(SUM(CAST(ROUND((CAST(cells.x AS DOUBLE) - bc.c)
                             * (CAST(cells.x AS DOUBLE) - bc.c), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) / MAX(bc.n)
           AS spread_b
  FROM (SELECT g, u.d AS d, u.x AS x
        FROM (SELECT g, unnest(list_transform(range(1, len(v) + 1),
                      i -> {'d': i, 'x': v[i]})) AS u FROM bv)) cells
  JOIN bc ON bc.g = cells.g AND bc.d = cells.d
  GROUP BY cells.g
)
SELECT a.g AS label, a.n_a, a.n_b,
  CASE WHEN a.qa > 0 AND a.qb > 0 THEN
    ROUND(CAST(a.dt AS DOUBLE)
          / (sqrt(CAST(a.qa AS DOUBLE)) * sqrt(CAST(a.qb AS DOUBLE))), 6)
  END AS centroid_cos,
  ROUND(sa.spread_a, 6) AS spread_a,
  ROUND(sb.spread_b, 6) AS spread_b
FROM agg a
LEFT JOIN sa ON sa.g = a.g
LEFT JOIN sb ON sb.g = a.g
ORDER BY a.g
"""


QUERIES.update({"embedding_drift": q_embedding_drift})
ORACLES.update({"embedding_drift": SQL_EMBEDDING_DRIFT})


def q_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift table (ml.uplift_deciles): users ranked by pre-period
    activity (the targeting score), treated = even user id, outcome =
    any purchase; per-decile + cumulative incremental responders vs the
    scaled control. Exact integer count arithmetic; ntile over the
    post-aggregation user relation."""
    evdf = _t(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-03-01"))
    users = evdf.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("score"),
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("ts") >= cut)
            ).cast("int")
        ).alias("outcome"),
    ).withColumn("treated", F.col("user_id") % 2 == 0)
    return ml.uplift_deciles(
        users, "score", "treated", "outcome", "user_id", n_bins=10
    )


SQL_UPLIFT_DECILES = """
WITH users AS (
  SELECT user_id,
    SUM(CASE WHEN ts < TIMESTAMP '2024-03-01' THEN 1 ELSE 0 END) AS score,
    MAX(CASE WHEN event_type = 'purchase'
              AND ts >= TIMESTAMP '2024-03-01' THEN 1 ELSE 0 END) AS y,
    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
  FROM events GROUP BY user_id
),
binned AS (
  SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id) AS bin
  FROM users
),
per AS (
  SELECT bin,
         SUM(t) AS n_treated, SUM(1 - t) AS n_control,
         SUM(t * y) AS resp_treated, SUM((1 - t) * y) AS resp_control
  FROM binned GROUP BY bin
),
cum AS (
  SELECT *,
    SUM(n_treated) OVER w AS nt, SUM(n_control) OVER w AS nc,
    SUM(resp_treated) OVER w AS rt, SUM(resp_control) OVER w AS rc
  FROM per
  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT bin, n_treated, n_control, resp_treated, resp_control,
  CASE WHEN nt > 0 AND nc > 0 THEN
    ROUND(CAST(rt AS DOUBLE) / nt - CAST(rc AS DOUBLE) / nc, 6)
  END AS cum_uplift,
  CASE WHEN nc > 0 THEN
    ROUND(rt - rc * CAST(nt AS DOUBLE) / nc, 6)
  END AS qini
FROM cum ORDER BY bin
"""


QUERIES.update({"uplift_deciles": q_uplift_deciles})
ORACLES.update({"uplift_deciles": SQL_UPLIFT_DECILES})


def q_quality_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection
    (dedup.dedup_by_clusters_prefer): LONGEST member of each verified
    near-dup cluster survives (n_chars, ties to smaller id) — the
    RefinedWeb convention, vs the min-id rule of
    minhash_dedup_transitive. One window on the cluster key."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    # rotating scope: signatures feed BOTH the band join and the verify
    scope = _rotating_scope("quality_dedup_survivors")
    sh = scope.persist(
        dedup.minhash_signatures(
            dedup.shingle_hashes(docs, "text", n=3), num_hashes=64
        ).select("doc_id", "shingles", "minhash")
    )
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.dedup_by_clusters_prefer(
        docs, "doc_id", clusters, "n_chars"
    ).select("doc_id", "n_chars")


SQL_QUALITY_DEDUP_SURVIVORS = SQL_DEDUP_CLUSTERS.replace(
    """SELECT node, CAST(MIN(peer) AS BIGINT) AS cluster
FROM reach GROUP BY node""",
    """, cl AS (SELECT node, MIN(peer) AS cluster FROM reach GROUP BY node),
ranked AS (
  SELECT d.doc_id, d.n_chars, cl.cluster,
         CASE WHEN cl.cluster IS NULL THEN 1 ELSE
           row_number() OVER (PARTITION BY cl.cluster
                              ORDER BY d.n_chars DESC, d.doc_id)
         END AS rn
  FROM main.documents d LEFT JOIN cl ON cl.node = d.doc_id
)
SELECT doc_id, n_chars FROM ranked WHERE rn = 1""",
)
assert ", cl AS" in SQL_QUALITY_DEDUP_SURVIVORS  # replace() must not rot

QUERIES.update({"quality_dedup_survivors": q_quality_dedup_survivors})
ORACLES.update({"quality_dedup_survivors": SQL_QUALITY_DEDUP_SURVIVORS})


def q_contrastive_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic augmentation views (transform.augment_token_dropout):
    two salted 15% token-dropout views per document (SimCSE-style
    contrastive positives) — md5 keyed on (salt, id, position, token),
    so views are replayable and partition-invariant; zero shuffles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = transform.augment_token_dropout(
        docs, "doc_id", rate=0.15, salt="viewA", out_col="view_a"
    ).select("doc_id", "view_a", F.col("n_dropped").alias("dropped_a"))
    v2 = transform.augment_token_dropout(
        docs, "doc_id", rate=0.15, salt="viewB", out_col="view_b"
    ).select("doc_id", "view_b", F.col("n_dropped").alias("dropped_b"))
    return v1.join(v2, "doc_id")


SQL_CONTRASTIVE_VIEWS = r"""
WITH base AS (
  SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS toks
  FROM documents
),
views AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL ELSE
      array_to_string(list_filter(toks, (w, i) ->
        CAST(('0x' || substr(md5('viewA|' || CAST(doc_id AS VARCHAR) || '|'
          || CAST(i - 1 AS VARCHAR) || '|' || w), 1, 8)) AS BIGINT)
          / 4294967296.0 >= 0.15), ' ')
    END AS view_a,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST(len(toks) - len(list_filter(toks, (w, i) ->
        CAST(('0x' || substr(md5('viewA|' || CAST(doc_id AS VARCHAR) || '|'
          || CAST(i - 1 AS VARCHAR) || '|' || w), 1, 8)) AS BIGINT)
          / 4294967296.0 >= 0.15)) AS INT)
    END AS dropped_a,
    CASE WHEN text IS NULL THEN NULL ELSE
      array_to_string(list_filter(toks, (w, i) ->
        CAST(('0x' || substr(md5('viewB|' || CAST(doc_id AS VARCHAR) || '|'
          || CAST(i - 1 AS VARCHAR) || '|' || w), 1, 8)) AS BIGINT)
          / 4294967296.0 >= 0.15), ' ')
    END AS view_b,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST(len(toks) - len(list_filter(toks, (w, i) ->
        CAST(('0x' || substr(md5('viewB|' || CAST(doc_id AS VARCHAR) || '|'
          || CAST(i - 1 AS VARCHAR) || '|' || w), 1, 8)) AS BIGINT)
          / 4294967296.0 >= 0.15)) AS INT)
    END AS dropped_b
  FROM base
)
SELECT doc_id, view_a, dropped_a, view_b, dropped_b FROM views
"""


QUERIES.update({"contrastive_views": q_contrastive_views})
ORACLES.update({"contrastive_views": SQL_CONTRASTIVE_VIEWS})


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (dedup.cross_source_dup_matrix):
    verified MinHash near-dup pairs labeled with both endpoints'
    sources, counted per unordered source pair and normalized by the
    smaller side — the who-copies-from-whom curation diagnostic. Pair
    relation reuses the pinned signature recipe."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    scope = _rotating_scope("cross_source_dups")
    sh = scope.persist(
        dedup.minhash_signatures(
            dedup.shingle_hashes(docs, "text", n=3), num_hashes=64
        ).select("doc_id", "shingles", "minhash")
    )
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5).select(
        "id_a", "id_b"
    )
    return dedup.cross_source_dup_matrix(docs, pairs)


SQL_CROSS_SOURCE_DUPS = r"""
WITH tok AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM tok
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
labeled AS (
  SELECT LEAST(sa.source, sb.source) AS source_a,
         GREATEST(sa.source, sb.source) AS source_b
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b
),
sizes AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
counts AS (
  SELECT source_a, source_b, COUNT(*) AS n_pairs
  FROM labeled GROUP BY source_a, source_b
)
SELECT c.source_a, c.source_b, c.n_pairs,
       za.n AS n_docs_a, zb.n AS n_docs_b,
       ROUND(CAST(c.n_pairs AS DOUBLE) / LEAST(za.n, zb.n), 6) AS dup_rate
FROM counts c
JOIN sizes za ON za.source = c.source_a
JOIN sizes zb ON zb.source = c.source_b
"""


QUERIES.update({"cross_source_dups": q_cross_source_dups})
ORACLES.update({"cross_source_dups": SQL_CROSS_SOURCE_DUPS})


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus data card (pipeline.corpus_card): sizes, token
    volume, exact-dup rate, PII doc rate, empty share — exact single-pass
    aggregates, the datasheet header next to the deep corpus_report."""
    from ..operators import pipeline

    docs = _t(spark, sf_dir, "documents")
    return pipeline.corpus_card(docs)


SQL_CORPUS_CARD = r"""
WITH c AS (
  SELECT doc_id, source,
    md5(regexp_replace(lower(trim(COALESCE(text, ''))), '\s+', ' ', 'g'))
      AS norm,
    len(list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                    t -> t <> '')) AS nt,
    len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
    len(regexp_extract_all(text,
      '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS np,
    len(regexp_extract_all(text,
      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ni
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       ROUND(SUM(nt) / COUNT(*), 4) AS mean_doc_tokens,
       ROUND((COUNT(*) - COUNT(DISTINCT norm)) / COUNT(*), 6)
         AS exact_dup_rate,
       ROUND(SUM(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS pii_doc_rate,
       ROUND(SUM(CASE WHEN nt = 0 THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS empty_rate
FROM c
"""


QUERIES.update({"corpus_card": q_corpus_card})
ORACLES.update({"corpus_card": SQL_CORPUS_CARD})


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per LANGUAGE (bpe.tokenizer_fertility,
    round 9): subword tokens per word AND bytes per token under the
    fixed byte-level merge table — the multilingual-fairness table a
    per-language TOKEN budget divides by (Petrov et al. 2023).
    Complements bpe_fertility (per-SOURCE tokens/word): the group
    dimension here is the language gate's own key, and bytes_per_token
    is the conversion factor cap_per_language's byte budgets need. One
    distinct-vocab BPE encode + one aggregate on the lang key; oracle
    reuses the recursive-CTE BPE encoder seeded from byte-mapped
    chars."""
    from ..operators import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.tokenizer_fertility(
        docs, bpe.MERGES_DOCS_BYTES_V1, group_col="lang", byte_level=True
    )


SQL_TOKENIZER_FERTILITY = f"""
WITH RECURSIVE
{_SQL_BPE_WORD_TOK_CTES},
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM words JOIN word_tok USING (w)
  GROUP BY doc_id
),
base AS (
  SELECT d.doc_id, d.lang, COALESCE(strlen(d.text), 0) AS b,
         COALESCE(p.n_words, 0) AS nw, COALESCE(p.n_tokens, 0) AS nt
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_words,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(SUM(b) AS BIGINT) AS n_bytes,
       ROUND(SUM(nt) * 1.0 / SUM(nw), 6) AS fertility,
       ROUND(SUM(b) * 1.0 / SUM(nt), 6) AS bytes_per_token
FROM base GROUP BY lang ORDER BY lang
"""


def q_truncation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget selection table (packing.truncation_report, round
    9): per candidate budget, documents over budget and tokens lost
    under truncate-vs-drop policies — the sequence-length decision a
    training run makes once and lives with. Map-side explode over the
    literal budget list + one |budgets|-row aggregate."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    counted = packing.with_token_count(docs)
    return packing.truncation_report(counted, [128, 256, 512, 1024])


SQL_TRUNCATION_REPORT = r"""
WITH counted AS (
  SELECT CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS BIGINT) AS t
  FROM documents
),
e AS (
  SELECT t, CAST(unnest([128, 256, 512, 1024]) AS BIGINT) AS budget
  FROM counted
)
SELECT budget,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(t > budget AS INT)) AS BIGINT) AS n_over,
       ROUND(SUM(CAST(t > budget AS INT)) * 1.0 / COUNT(*), 6) AS frac_over,
       CAST(SUM(t) AS BIGINT) AS tokens_total,
       CAST(SUM(GREATEST(t - budget, 0)) AS BIGINT) AS tokens_lost_truncate,
       CAST(SUM(CASE WHEN t > budget THEN t ELSE 0 END) AS BIGINT)
         AS tokens_lost_drop,
       ROUND(SUM(GREATEST(t - budget, 0)) * 1.0 / SUM(t), 6)
         AS frac_lost_truncate
FROM e GROUP BY budget ORDER BY budget
"""


QUERIES.update({
    "tokenizer_fertility": q_tokenizer_fertility,
    "truncation_report": q_truncation_report,
})
ORACLES.update({
    "tokenizer_fertility": SQL_TOKENIZER_FERTILITY,
    "truncation_report": SQL_TRUNCATION_REPORT,
})


def q_dup_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-DE-WEIGHTED sampling (dedup.dup_weighted_sample, round
    9): near-dup clusters are kept, not deleted, and the k=100 training
    draw samples each doc with probability ∝ 1/cluster_size — content,
    not copies, gets equal expected mass (Muennighoff 2023's
    dedup-or-de-weight). Deterministic Gumbel-top-k over
    −ln(dup_count); oracle = the recursive-CC closure + size join + the
    hash-Gumbel formula."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scope = _rotating_scope("dup_weighted_sample")
    sh = scope.persist(
        dedup.minhash_signatures(
            dedup.shingle_hashes(docs, "text", n=3), num_hashes=64
        ).select("doc_id", "shingles", "minhash")
    )
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.dup_weighted_sample(
        docs, clusters, k=100, seed=42
    ).select("doc_id", "dup_count", "resample_score")


SQL_DUP_WEIGHTED_SAMPLE = SQL_DEDUP_CLUSTERS.replace(
    """SELECT node, CAST(MIN(peer) AS BIGINT) AS cluster
FROM reach GROUP BY node""",
    """, cl AS (SELECT node, MIN(peer) AS cluster FROM reach GROUP BY node),
sz AS (SELECT cluster, COUNT(*) AS szc FROM cl GROUP BY cluster),
lab AS (
  SELECT d.doc_id, COALESCE(sz.szc, 1) AS dup_count
  FROM main.documents d
  LEFT JOIN cl ON cl.node = d.doc_id
  LEFT JOIN sz ON sz.cluster = cl.cluster
),
scored AS (
  SELECT doc_id, dup_count,
         ROUND(-LN(CAST(dup_count AS DOUBLE)) / 1.0
               + (-LN(-LN(
                   ((CAST(('0x' || substr(md5('42' || '#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 9007199254740992) + 0.5) / 9007199254740992.0
                 ))), 6) AS resample_score
  FROM lab
)
SELECT doc_id, CAST(dup_count AS BIGINT) AS dup_count, resample_score
FROM scored ORDER BY resample_score DESC, doc_id ASC LIMIT 100""",
)
assert ", cl AS" in SQL_DUP_WEIGHTED_SAMPLE  # replace() must not rot


QUERIES.update({"dup_weighted_sample": q_dup_weighted_sample})
ORACLES.update({"dup_weighted_sample": SQL_DUP_WEIGHTED_SAMPLE})


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the trained quality classifier
    (ml.calibration_report, round 9): ten equal-width score bins, each
    bin's mean predicted score vs its observed positive rate against
    the heuristic gate it was distilled from — the per-bin |gap| is the
    ECE integrand, and an over-confident bin right of the 0.5 cut means
    the classifier gate admits junk at a higher rate than its score
    claims. Decimal score sums, one end-division per bin."""
    from ..operators import classifier

    docs = _t(spark, sf_dir, "documents")
    scores = classifier.classifier_scores(
        docs, classifier.WEIGHTS_QUALITY_V1
    )
    lab = textstats.with_quality_score(docs, "text").select(
        "doc_id", (F.col("quality_score") >= 0.5).alias("__label")
    )
    return ml.calibration_report(
        scores.join(lab, "doc_id"), "clf_score", "__label", n_bins=10
    )


SQL_CLASSIFIER_CALIBRATION = (
    "WITH scores AS (" + SQL_QUALITY_CLASSIFIER_SCORES + """),
q AS (""" + SQL_TEXT_QUALITY + """),
j AS (
  SELECT s.doc_id, s.clf_score AS sc,
         CAST(q.quality_score >= 0.5 AS INT) AS lab
  FROM scores s JOIN q ON q.doc_id = s.doc_id
  WHERE s.clf_score IS NOT NULL AND q.quality_score IS NOT NULL
),
binned AS (
  SELECT GREATEST(LEAST(CAST(FLOOR(sc * 10.0) AS INT), 9), 0) AS bin,
         CAST(sc AS DECIMAL(18,6)) AS sd, lab
  FROM j
),
agg AS (
  SELECT bin, COUNT(*) AS n, SUM(sd) AS ss, SUM(lab) AS pos
  FROM binned GROUP BY bin
)
SELECT bin,
       ROUND(bin / 10.0, 6) AS bin_lo,
       CAST(n AS BIGINT) AS n,
       ROUND(CAST(ss AS DOUBLE) / n, 6) AS mean_score,
       ROUND(CAST(pos AS DOUBLE) / n, 6) AS frac_pos,
       ROUND(ABS(CAST(ss - pos AS DOUBLE)) / n, 6) AS abs_gap
FROM agg ORDER BY bin
"""
)


def q_gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the heuristic quality gate and the trained
    classifier gate (ml.cohens_kappa, round 9): chance-corrected
    agreement — κ ≈ 1 means the trained model only re-learned the
    heuristic (no point running both), κ near 0 means the gates
    disagree beyond chance. Two category-bounded margin aggregates +
    one total; 1-row output."""
    from ..operators import classifier

    docs = _t(spark, sf_dir, "documents")
    heur = textstats.with_quality_score(docs, "text").select(
        "doc_id", (F.col("quality_score") >= 0.5).alias("gate_h")
    )
    clf = classifier.classifier_scores(
        docs, classifier.WEIGHTS_QUALITY_V1
    ).select("doc_id", (F.col("clf_score") >= 0.5).alias("gate_c"))
    return ml.cohens_kappa(heur.join(clf, "doc_id"), "gate_h", "gate_c")


SQL_GATE_AGREEMENT_KAPPA = (
    "WITH scores AS (" + SQL_QUALITY_CLASSIFIER_SCORES + """),
q AS (""" + SQL_TEXT_QUALITY + """),
j AS (
  SELECT CAST(q.quality_score >= 0.5 AS VARCHAR) AS a,
         CAST(s.clf_score >= 0.5 AS VARCHAR) AS b
  FROM scores s JOIN q ON q.doc_id = s.doc_id
  WHERE s.clf_score IS NOT NULL AND q.quality_score IS NOT NULL
),
tot AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
  FROM j
),
ma AS (SELECT a AS c, COUNT(*) AS ca FROM j GROUP BY a),
mb AS (SELECT b AS c, COUNT(*) AS cb FROM j GROUP BY b),
pe AS (SELECT SUM(ca * cb) AS pen FROM ma JOIN mb USING (c))
SELECT CAST(t.n AS BIGINT) AS n,
       ROUND(t.agree * 1.0 / t.n, 6) AS p_observed,
       ROUND(p.pen * 1.0 / (t.n * t.n), 6) AS p_expected,
       CASE WHEN p.pen * 1.0 / (t.n * t.n) < 1.0 THEN
         ROUND((t.agree * 1.0 / t.n - p.pen * 1.0 / (t.n * t.n))
               / (1.0 - p.pen * 1.0 / (t.n * t.n)), 6) END AS kappa
FROM tot t CROSS JOIN pe p
"""
)


QUERIES.update({
    "classifier_calibration": q_classifier_calibration,
    "gate_agreement_kappa": q_gate_agreement_kappa,
})
ORACLES.update({
    "classifier_calibration": SQL_CLASSIFIER_CALIBRATION,
    "gate_agreement_kappa": SQL_GATE_AGREEMENT_KAPPA,
})


def q_pack_attention_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document attention contamination of greedy-packed sequences
    (packing.pack_attention_stats, round 9): per (source, pack), the
    fraction of causal attention pairs that cross document seams when
    packs train WITHOUT boundary masking — the measured basis for the
    doc-masked-attention decision. Integer-exact pair counts; one
    aggregate over the packed output; oracle = the greedy recursive-CTE
    walk + the same closed-form pair arithmetic."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    counted = packing.with_token_count(docs)
    packed = packing.greedy_pack(counted, budget=256)
    return packing.pack_attention_stats(packed)


SQL_PACK_ATTENTION_STATS = r"""
WITH RECURSIVE counted AS (
  SELECT doc_id, source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS INT) AS n_tokens
  FROM documents
),
ordered AS (
  SELECT source, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM counted
),
walk AS (
  SELECT source, rn, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.n_tokens,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 256
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 256
              THEN o.n_tokens ELSE w.used + o.n_tokens END
  FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
),
per AS (
  SELECT source, pack_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
         CAST(SUM(CAST(n_tokens AS BIGINT) * (n_tokens + 1) / 2)
              AS BIGINT) AS within_pairs
  FROM walk GROUP BY source, pack_id
)
SELECT source, pack_id, n_docs, seq_tokens,
       CAST(seq_tokens * (seq_tokens + 1) / 2 AS BIGINT)
         AS total_causal_pairs,
       CAST(seq_tokens * (seq_tokens + 1) / 2 - within_pairs AS BIGINT)
         AS cross_doc_pairs,
       CASE WHEN seq_tokens > 0 THEN
         ROUND((seq_tokens * (seq_tokens + 1) / 2.0 - within_pairs)
               / (seq_tokens * (seq_tokens + 1) / 2.0), 6)
       ELSE 0.0 END AS frac_cross
FROM per
"""


QUERIES.update({"pack_attention_stats": q_pack_attention_stats})
ORACLES.update({"pack_attention_stats": SQL_PACK_ATTENTION_STATS})


def q_pack_boundary_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-mask offsets for greedy-packed sequences
    (packing.pack_boundaries, round 10, VERDICT r9 item #6): one row
    per packed document carrying its half-open token span
    [start_offset, end_offset) inside the pack — the flash-attention
    varlen cu_seqlens / position-id reset table a trainer needs to mask
    the cross-document attention pack_attention_stats quantifies.
    Oracle = the greedy recursive-CTE walk carrying doc_id + the same
    exclusive-cumsum window over (source, pack) replayed relationally."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    counted = packing.with_token_count(docs)
    packed = packing.greedy_pack(counted, budget=256)
    return packing.pack_boundaries(packed)


SQL_PACK_BOUNDARY_OFFSETS = r"""
WITH RECURSIVE counted AS (
  SELECT doc_id, source,
         CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS INT) AS n_tokens
  FROM documents
),
ordered AS (
  SELECT source, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM counted
),
walk AS (
  SELECT source, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 256
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.used > 0 AND w.used + o.n_tokens > 256
              THEN o.n_tokens ELSE w.used + o.n_tokens END
  FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
)
SELECT source, pack_id, doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY source, pack_id ORDER BY doc_id)
            - 1 AS BIGINT) AS doc_pos,
       CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY source, pack_id ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start_offset,
       CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY source, pack_id ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + n_tokens AS BIGINT) AS end_offset
FROM walk
"""


QUERIES.update({"pack_boundary_offsets": q_pack_boundary_offsets})
ORACLES.update({"pack_boundary_offsets": SQL_PACK_BOUNDARY_OFFSETS})


def q_corpus_prepare_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus pipeline through a persisted near-dup index
    (pipeline.prepare_corpus(neardup_index=), round 10, VERDICT r9 item
    #7): the corpus (doc_id % 7 != 0, after the same lang/quality gates
    the pipeline applies) is banded/shingled ONCE into a bucketed
    persist_neardup_index; preparing the batch (doc_id % 7 == 0) then
    probes that index bucket-locally + runs a batch-sized self-join
    (dedup.incremental_minhash_losers) instead of the full banded
    self-join over corpus ∪ batch — per-run cost tracks the batch. A
    batch doc loses on near-dup with ANY accepted corpus doc (the
    corpus is already admitted) or a smaller-id batch doc. Oracle
    replays gates → batch exact dedup → both loser rules brute-force →
    greedy pack walk → per-source report."""
    from ..operators import pipeline, textstats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    batch = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    # the index carries the corpus in the SAME text state the pipeline's
    # near-dup stage sees: after the per-doc lang/quality gates
    gated = textstats.with_quality_score(
        textstats.with_lang_id(corpus, "text"), "text"
    ).where(
        (F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.5)
    ).select("doc_id", "text", "source")
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    tag = f"{tag}_{gated.count()}"
    idx = dedup.persist_neardup_index(
        gated, "doc_id", bands=32,
        band_table=f"q_cpi_bands_{tag}",
        shingle_table=f"q_cpi_shingles_{tag}",
        reuse_if_exists=True,
    )
    scope = _rotating_scope("corpus_prepare_indexed")
    packed = pipeline.prepare_corpus(
        batch, pack_budget=512, neardup_bands=32,
        neardup_index=idx, scope=scope,
    )
    return pipeline.corpus_report(packed, pack_budget=512)


SQL_CORPUS_PREPARE_INDEXED = SQL_CORPUS_PREPARE.replace(
    """exact AS (
  SELECT doc_id, text, source FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
      ORDER BY doc_id) AS rn
    FROM kept)
  WHERE rn = 1
),""",
    """exact AS (
  SELECT doc_id, text, source FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
      ORDER BY doc_id) AS rn
    FROM kept WHERE doc_id % 7 = 0)
  WHERE rn = 1
),
corpus_sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t3) - 2, 0) + 1),
            i -> t3[i] || ' ' || t3[i+1] || ' ' || t3[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t3
        FROM kept WHERE doc_id % 7 <> 0)
),
cex AS (SELECT doc_id, unnest(shingles) AS s FROM corpus_sh),""",
).replace(
    """losers AS (
  SELECT DISTINCT id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = p.id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = p.id_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.7
),""",
    """losers AS (
  SELECT DISTINCT id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = p.id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = p.id_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.7
  UNION
  SELECT DISTINCT id_b FROM (
    SELECT c.doc_id AS id_a, n2.doc_id AS id_b, COUNT(*) AS i
    FROM cex c JOIN ex n2 ON c.s = n2.s
    GROUP BY 1, 2
  ) p2
  JOIN (SELECT doc_id, len(shingles) AS n FROM corpus_sh) ca
    ON ca.doc_id = p2.id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb2 ON nb2.doc_id = p2.id_b
  WHERE CAST(i AS DOUBLE) / (ca.n + nb2.n - i) >= 0.7
),""",
)
assert "corpus_sh AS" in SQL_CORPUS_PREPARE_INDEXED  # replace() must not rot
assert "cex c JOIN ex n2" in SQL_CORPUS_PREPARE_INDEXED


QUERIES.update({"corpus_prepare_indexed": q_corpus_prepare_indexed})
ORACLES.update({"corpus_prepare_indexed": SQL_CORPUS_PREPARE_INDEXED})


def _mov_keyframe_payload_expr() -> str:
    """MJPEG-in-MOV fixtures with PLANTED stss keyframe tables keyed on
    c_custkey: 6+(k%3)*3 solid-gray frames, sync samples every 1+k%4
    frames; k%5==0 rows are garbage bytes (the honest parsed=false
    row)."""
    from ..operators.multimodal import build_mjpeg_mov, encode_jpeg_solid_gray

    frame = encode_jpeg_solid_gray(128)
    cases = []
    for nmod in range(3):
        for kmod in range(4):
            mov = build_mjpeg_mov(
                [frame] * (6 + nmod * 3), fps=25, keyframe_every=1 + kmod
            )
            cases.append(
                f"WHEN c_custkey % 3 = {nmod} AND c_custkey % 4 = {kmod} "
                f"THEN unhex('{mov.hex()}')"
            )
    return (
        "CASE WHEN c_custkey % 5 = 0 THEN encode('not a video', 'utf-8') "
        + " ".join(cases)
        + " END"
    )


def q_video_keyframe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe-aware sampling plan (multimodal.video_keyframe_plan,
    round 10, VERDICT r9 item #9): the stss sync-sample box walk gives
    each sampled frame its seek keyframe + decode_ahead cost — the real
    cost model for sampling inter-frame video. Fixtures plant stss
    tables (sync every 1+k%4 samples over 6+(k%3)*3 frames); the oracle
    is pure arithmetic on the planted parameters (snap = fi − fi % kf,
    n_keyframes = ceil(n/kf))."""
    from ..operators.multimodal import video_keyframe_plan

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 400).select(
        "c_custkey", F.expr(_MOV_KEYFRAME_PAYLOAD_EXPR).alias("payload")
    )
    return video_keyframe_plan(cust, "payload", every_n=2).select(
        "c_custkey", "parsed", "codec", "n_frames", "n_keyframes",
        "frame_index", "keyframe_index", "decode_ahead",
    )


_MOV_KEYFRAME_PAYLOAD_EXPR = _mov_keyframe_payload_expr()


SQL_VIDEO_KEYFRAME_PLAN = """
WITH params AS (
  SELECT c_custkey,
         c_custkey % 5 = 0 AS bad,
         CAST(6 + (c_custkey % 3) * 3 AS INT) AS n,
         CAST(1 + c_custkey % 4 AS INT) AS kf
  FROM customer WHERE c_custkey < 400
),
expanded AS (
  SELECT c_custkey, bad, n, kf,
         unnest(CASE WHEN bad THEN [CAST(NULL AS INT)]
                     ELSE CAST(range(0, n, 2) AS INT[]) END) AS fi
  FROM params
)
SELECT c_custkey,
       NOT bad AS parsed,
       CASE WHEN NOT bad THEN 'jpeg' END AS codec,
       CASE WHEN NOT bad THEN n END AS n_frames,
       CASE WHEN NOT bad THEN CAST(CEIL(n * 1.0 / kf) AS INT) END
         AS n_keyframes,
       fi AS frame_index,
       CASE WHEN NOT bad THEN fi - fi % kf END AS keyframe_index,
       CASE WHEN NOT bad THEN fi % kf END AS decode_ahead
FROM expanded
"""


QUERIES.update({"video_keyframe_plan": q_video_keyframe_plan})
ORACLES.update({"video_keyframe_plan": SQL_VIDEO_KEYFRAME_PLAN})


def q_ingest_door_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-door ingest-log rollup (pipeline.ingest_log_report, round 10,
    VERDICT r9 item #10 — the oracled READER for the round-9 streaming
    door log): a deterministic 3-batch log is synthesized from the
    fixtures by replaying three ingest doors relationally (arrived →
    lang/quality gate → in-batch exact dedup, batch = doc_id % 3), then
    rolled up per door: rows in / out / rejected / rejection rate via a
    lag over the canonical door order. The reader is the surface an
    ingest operator queries when a source's admission rate drops."""
    from ..operators import pipeline

    # log synthesis shared with the round-11 time-series/health queries
    return pipeline.ingest_log_report(_ingest_log_3batch(spark, sf_dir))


SQL_INGEST_DOOR_ROLLUP = SQL_CORPUS_PREPARE.split("kept AS (")[0] + r"""base AS (
  SELECT doc_id % 3 AS batch_id, doc_id, text, lang_pred, quality_score
  FROM quality
),
log AS (
  SELECT batch_id, 'arrived' AS stage, 0 AS r, COUNT(*) AS n
  FROM base GROUP BY batch_id
  UNION ALL
  SELECT batch_id, 'lang_quality_gate', 1, COUNT(*)
  FROM base WHERE lang_pred = 'en' AND quality_score >= 0.5
  GROUP BY batch_id
  UNION ALL
  SELECT batch_id, 'in_batch_exact', 2,
         COUNT(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
  FROM base WHERE lang_pred = 'en' AND quality_score >= 0.5
  GROUP BY batch_id
),
staged AS (
  SELECT stage, r, n,
         COALESCE(LAG(n) OVER (PARTITION BY batch_id ORDER BY r), n) AS rin
  FROM log
)
SELECT stage,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(rin) AS BIGINT) AS rows_in,
       CAST(SUM(n) AS BIGINT) AS rows_out,
       CAST(SUM(rin) - SUM(n) AS BIGINT) AS n_rejected,
       ROUND(CASE WHEN SUM(rin) > 0
                  THEN (SUM(rin) - SUM(n)) * 1.0 / SUM(rin)
                  ELSE 0.0 END, 6) AS reject_rate
FROM staged GROUP BY stage, r ORDER BY r
"""
assert "base AS (" in SQL_INGEST_DOOR_ROLLUP  # split() must not rot


QUERIES.update({"ingest_door_rollup": q_ingest_door_rollup})
ORACLES.update({"ingest_door_rollup": SQL_INGEST_DOOR_ROLLUP})


def q_gate_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-driven gate-threshold tuner (ml.threshold_sweep,
    round 10, VERDICT r9 item #10): for each candidate cut t = b/10,
    the admission outcome of gating the trained quality classifier at
    score >= t against the heuristic gate it distills — admitted count
    and fraction, precision (1 − junk-admission rate), recall, F1. The
    companion decision table to classifier_calibration: calibration
    says whether scores mean what they claim, the sweep says where to
    cut. One 10-row aggregate + a top-down cumulative window."""
    from ..operators import classifier

    docs = _t(spark, sf_dir, "documents")
    scores = classifier.classifier_scores(
        docs, classifier.WEIGHTS_QUALITY_V1
    )
    lab = textstats.with_quality_score(docs, "text").select(
        "doc_id", (F.col("quality_score") >= 0.5).alias("__label")
    )
    return ml.threshold_sweep(
        scores.join(lab, "doc_id"), "clf_score", "__label", n_bins=10
    )


SQL_GATE_THRESHOLD_SWEEP = (
    "WITH scores AS (" + SQL_QUALITY_CLASSIFIER_SCORES + """),
q AS (""" + SQL_TEXT_QUALITY + """),
j AS (
  SELECT s.clf_score AS sc, CAST(q.quality_score >= 0.5 AS INT) AS lab
  FROM scores s JOIN q ON q.doc_id = s.doc_id
  WHERE s.clf_score IS NOT NULL AND q.quality_score IS NOT NULL
),
per_bin AS (
  SELECT GREATEST(LEAST(CAST(FLOOR(sc * 10.0) AS INT), 9), 0) AS b,
         COUNT(*) AS n, SUM(lab) AS pos
  FROM j GROUP BY 1
),
dense AS (
  SELECT CAST(gb AS INT) AS b,
         COALESCE(n, 0) AS n, COALESCE(pos, 0) AS pos
  FROM (SELECT unnest(range(0, 10)) AS gb)
  LEFT JOIN per_bin ON per_bin.b = gb
),
cum AS (
  SELECT b,
         SUM(n) OVER (ORDER BY b DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adm,
         SUM(pos) OVER (ORDER BY b DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adm_pos
  FROM dense
),
tot AS (SELECT COUNT(*) AS tn, SUM(lab) AS tpos FROM j)
SELECT ROUND(b / 10.0, 6) AS threshold,
       CAST(adm AS BIGINT) AS n_admitted,
       ROUND(CASE WHEN tn > 0 THEN adm * 1.0 / tn ELSE 0.0 END, 6)
         AS frac_admitted,
       ROUND(CASE WHEN adm > 0 THEN adm_pos * 1.0 / adm END, 6)
         AS precision,
       ROUND(CASE WHEN tpos > 0 THEN adm_pos * 1.0 / tpos END, 6)
         AS recall,
       ROUND(CASE WHEN adm > 0 AND tpos > 0 AND adm_pos > 0
                  THEN 2.0 * adm_pos / (adm + tpos) END, 6) AS f1
FROM cum CROSS JOIN tot ORDER BY threshold
"""
)


QUERIES.update({"gate_threshold_sweep": q_gate_threshold_sweep})
ORACLES.update({"gate_threshold_sweep": SQL_GATE_THRESHOLD_SWEEP})


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (ml.mann_whitney_u, round 10):
    urgent vs low-priority order values — the nonparametric A/B
    location test (rank-based, heavy-tail-safe) completing the
    KS/chi²/z battery. Integer-exact pooled midranks per distinct
    value; tie-corrected normal z. Oracle replays the identical
    2·midrank arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    return ml.mann_whitney_u(
        orders, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    )


SQL_MANN_WHITNEY = """
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v,
         CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS ia
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    AND o_totalprice IS NOT NULL
),
per_val AS (
  SELECT v, COUNT(*) AS t, SUM(ia) AS ta FROM base GROUP BY v
),
ranked AS (
  SELECT t, ta,
         2 * (SUM(t) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
           + t + 1 AS r2
  FROM per_val
),
agg AS (
  SELECT SUM(ta * r2) AS r2a, SUM(ta) AS na, SUM(t - ta) AS nb,
         SUM(t * t * t - t) AS ties
  FROM ranked
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       ROUND(r2a / 2.0 - na * (na + 1) / 2.0, 6) AS u_a,
       ROUND(na * nb - (r2a / 2.0 - na * (na + 1) / 2.0), 6) AS u_b,
       ROUND(CASE WHEN na > 0 AND nb > 0 AND
                  na * nb / 12.0 * ((na + nb + 1)
                    - ties * 1.0 / ((na + nb) * (na + nb - 1))) > 0
             THEN ((r2a / 2.0 - na * (na + 1) / 2.0) - na * nb / 2.0)
                  / SQRT(na * nb / 12.0 * ((na + nb + 1)
                    - ties * 1.0 / ((na + nb) * (na + nb - 1))))
             END, 6) AS z,
       ROUND(CASE WHEN na > 0 AND nb > 0 THEN
             ((r2a / 2.0 - na * (na + 1) / 2.0)
              - (na * nb - (r2a / 2.0 - na * (na + 1) / 2.0)))
             / (na * nb) END, 6) AS cliffs_delta
FROM agg
"""


QUERIES.update({"mann_whitney": q_mann_whitney})
ORACLES.update({"mann_whitney": SQL_MANN_WHITNEY})


def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-truncation recall
    (similarity.dim_truncation_eval, round 10): recall@10 of exact
    cosine top-k on the first 4/16/64 dims vs the full 64-dim ground
    truth, 16 pinned queries — the decision table for cutting an
    embedding column's width (storage/scan cost is linear in d; this
    measures what it buys back). Shared deterministic tie-break with
    cosine_topk; oracle replays truncation (list slices), scoring, both
    top-k cuts, and the hit ratio."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.dim_truncation_eval(
        emb, queries, dims=[4, 16, 64], k=10
    )


SQL_DIM_TRUNCATION_RECALL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 16
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(c.cv, q.qv)
               / (sqrt(list_dot_product(c.cv, c.cv))
                  * sqrt(list_dot_product(q.qv, q.qv))) DESC,
             c.vec_id) AS rn
    FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id
  ) WHERE rn <= 10
),
dims AS (SELECT unnest([4, 16, 64]) AS d),
topd AS (
  SELECT d, query_id, vec_id FROM (
    SELECT dims.d, q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY dims.d, q.query_id ORDER BY
             list_dot_product(c.cv[1:dims.d], q.qv[1:dims.d])
               / (sqrt(list_dot_product(c.cv[1:dims.d], c.cv[1:dims.d]))
                  * sqrt(list_dot_product(q.qv[1:dims.d], q.qv[1:dims.d])))
               DESC,
             c.vec_id) AS rn
    FROM c CROSS JOIN q CROSS JOIN dims WHERE c.vec_id <> q.query_id
  ) WHERE rn <= 10
),
hits AS (
  SELECT d, COUNT(*) AS h
  FROM topd JOIN truth USING (query_id, vec_id) GROUP BY d
),
nq AS (SELECT COUNT(DISTINCT query_id) AS n FROM truth)
SELECT CAST(g.gd AS INT) AS dim,
       CAST(nq.n AS BIGINT) AS n_queries,
       ROUND(COALESCE(h.h, 0) / (nq.n * 10.0), 6) AS recall_at_k
FROM (SELECT unnest([4, 16, 64]) AS gd) g
LEFT JOIN hits h ON h.d = g.gd
CROSS JOIN nq
ORDER BY dim
"""


QUERIES.update({"dim_truncation_recall": q_dim_truncation_recall})
ORACLES.update({"dim_truncation_recall": SQL_DIM_TRUNCATION_RECALL})


def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (textstats.c4_line_filters, round 10; Raffel
    et al. 2020 §2.2): terminal-punctuation line filter, ≥5-words-per-
    line, javascript-line drop, lorem-ipsum / curly-brace page drop,
    ≥3-surviving-lines page floor. Pages are planted multi-line from
    the fixture text: a punctuation-less nav header (always dropped), a
    fixture-text sentence (kept iff long enough), two fixed kept
    sentences, a too-short line, a javascript line on every 5th page,
    a lorem-ipsum page-killer on every 7th, a brace on every 11th.
    Oracle replays the line split, word counts, regexes, and page
    floors."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    l2 = F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" tail appended."))
    l3 = F.when(
        d % 11 == 0,
        F.lit("The quick brown fox jumps over the lazy { dog."),
    ).otherwise(F.lit("The quick brown fox jumps over the lazy dog."))
    parts = [
        F.lit("Navigation menu home about contact"),
        l2,
        l3,
        F.lit("Too short."),
        F.lit("Another closing sentence with plenty of words here."),
    ]
    page = F.concat_ws("\n", *parts)
    page = F.when(
        d % 5 == 0,
        F.concat(
            page,
            F.lit("\nPlease enable javascript for the best experience today."),
        ),
    ).otherwise(page)
    page = F.when(
        d % 7 == 0,
        F.concat(
            page,
            F.lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit."),
        ),
    ).otherwise(page)
    planted = docs.select("doc_id", page.alias("text"))
    return textstats.c4_line_filters(planted)


SQL_C4_LINE_FILTERS = r"""
WITH planted AS (
  SELECT doc_id,
         'Navigation menu home about contact' || chr(10)
         || COALESCE(text, '') || ' tail appended.' || chr(10)
         || CASE WHEN doc_id % 11 = 0
                 THEN 'The quick brown fox jumps over the lazy { dog.'
                 ELSE 'The quick brown fox jumps over the lazy dog.' END
         || chr(10) || 'Too short.' || chr(10)
         || 'Another closing sentence with plenty of words here.'
         || CASE WHEN doc_id % 5 = 0 THEN chr(10)
              || 'Please enable javascript for the best experience today.'
              ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN chr(10)
              || 'lorem ipsum dolor sit amet consectetur adipiscing elit.'
              ELSE '' END AS text
  FROM documents
),
split AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines
  FROM planted
),
kept AS (
  SELECT doc_id, text,
         len(lines) AS n_lines_in,
         list_filter(lines, ln ->
           regexp_matches(ln, '[.!?"][)"'']*\s*$')
           AND len(list_filter(regexp_split_to_array(trim(ln), '\s+'),
                               w -> w <> '')) >= 5
           AND NOT contains(lower(ln), 'javascript')) AS kl
  FROM split
)
SELECT doc_id,
       array_to_string(kl, chr(10)) AS text_clean,
       CAST(n_lines_in AS INT) AS n_lines_in,
       CAST(len(kl) AS INT) AS n_lines_kept
FROM kept
WHERE NOT contains(text, '{')
  AND NOT contains(lower(text), 'lorem ipsum')
  AND len(kl) >= 3
"""


QUERIES.update({"c4_line_filters": q_c4_line_filters})
ORACLES.update({"c4_line_filters": SQL_C4_LINE_FILTERS})


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across the five order priorities
    (ml.kruskal_wallis, round 10): the k-sample rank test — one
    chi-square-referenced statistic instead of 10 pairwise
    Mann–Whitneys; per-priority mean ranks are the post-hoc reading.
    Integer-exact midranks, tie-corrected H; oracle replays the
    2·midrank arithmetic, both rank aggregates, and the correction."""
    orders = _t(spark, sf_dir, "orders")
    return ml.kruskal_wallis(orders, "o_orderpriority", "o_totalprice")


SQL_KRUSKAL_WALLIS = """
WITH base AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
),
pv AS (SELECT v, g, COUNT(*) AS tg FROM base GROUP BY v, g),
tot_v AS (SELECT v, SUM(tg) AS t FROM pv GROUP BY v),
r2v AS (
  SELECT v, 2 * (SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
           + t + 1 AS r2
  FROM tot_v
),
per_g AS (
  SELECT g, SUM(pv.tg * r2v.r2) AS r2g, SUM(pv.tg) AS ng
  FROM pv JOIN r2v USING (v) GROUP BY g
),
g_tot AS (
  SELECT SUM(t) AS n, SUM(t * t * t - t) AS ties FROM tot_v
),
sum_term AS (
  SELECT SUM((r2g / 2.0) * (r2g / 2.0) / ng) AS s, COUNT(*) AS k
  FROM per_g
)
SELECT per_g.g AS o_orderpriority,
       CAST(ng AS BIGINT) AS n,
       ROUND((r2g / 2.0) / ng, 6) AS mean_rank,
       ROUND(12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0), 6) AS h,
       ROUND(CASE WHEN 1.0 - ties * 1.0 / (n * n * n * 1.0 - n) > 0
             THEN (12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0))
                  / (1.0 - ties * 1.0 / (n * n * n * 1.0 - n)) END, 6)
         AS h_corrected,
       CAST(k - 1 AS INT) AS df
FROM per_g CROSS JOIN g_tot CROSS JOIN sum_term
ORDER BY o_orderpriority
"""


QUERIES.update({"kruskal_wallis": q_kruskal_wallis})
ORACLES.update({"kruskal_wallis": SQL_KRUSKAL_WALLIS})


def q_cluster_split_leakfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split over REAL near-dup clusters
    (dedup.cluster_aware_split, round 10): the split unit is the
    MinHash cluster, so no test document can have a train near-dup —
    the dedup-then-split hygiene. 80/10/10 by the deterministic
    md5-bucket rule on coalesce(cluster, doc_id); oracle = the
    recursive-CC closure + the identical bucket arithmetic."""
    docs = dedup.ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    scope = _rotating_scope("cluster_split_leakfree")
    sh = scope.persist(
        dedup.minhash_signatures(
            dedup.shingle_hashes(docs, "text", n=3), num_hashes=64
        ).select("doc_id", "shingles", "minhash")
    )
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    pairs = dedup.jaccard_verify(cand, sh, "doc_id", threshold=0.5)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.cluster_aware_split(
        docs.select("doc_id"), "doc_id", clusters,
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "split")


SQL_CLUSTER_SPLIT_LEAKFREE = SQL_DEDUP_CLUSTERS.replace(
    """SELECT node, CAST(MIN(peer) AS BIGINT) AS cluster
FROM reach GROUP BY node""",
    """, cl AS (SELECT node, MIN(peer) AS cluster FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id,
         CAST(COALESCE(cl.cluster, d.doc_id) AS VARCHAR) AS ustr
  FROM main.documents d LEFT JOIN cl ON cl.node = d.doc_id
),
bucketed AS (
  SELECT doc_id,
         ('0x' || substring(md5('split' || ustr), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM lab
)
SELECT doc_id,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM bucketed""",
)
assert ", cl AS" in SQL_CLUSTER_SPLIT_LEAKFREE  # replace() must not rot


QUERIES.update({"cluster_split_leakfree": q_cluster_split_leakfree})
ORACLES.update({"cluster_split_leakfree": SQL_CLUSTER_SPLIT_LEAKFREE})


def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste table for length-bucketed batching
    (packing.padding_waste_report, round 10): per bucket (64/128/256/
    512 + overflow-to-max), documents, real tokens, padded tokens, and
    the fraction of compute burned on padding — the measured
    bucketing-vs-packing comparison on the fixture length
    distribution. One bucket assignment + one |buckets|-row aggregate;
    oracle replays the CASE bucketing and the overflow pad target."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    counted = packing.with_token_count(docs)
    return packing.padding_waste_report(counted, [64, 128, 256, 512])


SQL_PADDING_WASTE = r"""
WITH counted AS (
  SELECT CAST(COALESCE(array_length(list_filter(
             regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 0)
           AS BIGINT) AS t
  FROM documents
),
bucketed AS (
  SELECT t,
         CASE WHEN t <= 64 THEN 64 WHEN t <= 128 THEN 128
              WHEN t <= 256 THEN 256 WHEN t <= 512 THEN 512 END AS b
  FROM counted
),
agg AS (
  SELECT b, COUNT(*) AS n_docs, SUM(t) AS sum_tokens, MAX(t) AS maxt
  FROM bucketed GROUP BY b
)
SELECT CAST(COALESCE(b, maxt) AS BIGINT) AS bucket_bound,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum_tokens AS BIGINT) AS sum_tokens,
       CAST(n_docs * COALESCE(b, maxt) AS BIGINT) AS sum_padded,
       CAST(n_docs * COALESCE(b, maxt) - sum_tokens AS BIGINT) AS pad_tokens,
       ROUND(CASE WHEN n_docs * COALESCE(b, maxt) > 0
             THEN (n_docs * COALESCE(b, maxt) - sum_tokens) * 1.0
                  / (n_docs * COALESCE(b, maxt)) ELSE 0.0 END, 6) AS pad_frac
FROM agg ORDER BY bucket_bound
"""


QUERIES.update({"padding_waste": q_padding_waste})
ORACLES.update({"padding_waste": SQL_PADDING_WASTE})


# --------------------------------------------------------------------------
# Round 11 — persisted dup-cluster labeling, composed (VERDICT r10 item #1)
# --------------------------------------------------------------------------


def _dup_cluster_index(spark: SparkSession, sf_dir: str) -> dict:
    """ONE persisted near-dup cluster labeling shared by every
    ``*_clustered`` twin (round 11, VERDICT r10 item #1): the direct
    queries each rebuild the identical minhash → band → verify →
    big-star-CC sub-plan (~22 s of round-10 headline wall across five
    consumers); dedup.persist_dup_clusters builds it ONCE per
    (sf_dir, corpus) — bucketed (node, cluster) + (id_a, id_b, jaccard)
    tables with the exact direct-query recipe (3-shingles, 64 hashes,
    32 bands, threshold 0.5) — and the consumers join it bucket-locally.
    ``reuse_if_exists`` makes the second..fifth caller free."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    tag = f"{tag}_{docs.count()}"
    return dedup.persist_dup_clusters(
        docs, "doc_id", bands=32, threshold=0.5,
        cluster_table=f"q_dupcl_clusters_{tag}",
        pair_table=f"q_dupcl_pairs_{tag}",
        reuse_if_exists=True,
    )


def q_dup_cluster_sizes_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dup_cluster_sizes composed over the PERSISTED labeling
    (dedup.persist_dup_clusters, round 11): identical result to the
    direct query — same oracle — but the cluster build is amortized
    into the shared bucketed index; this consumer is one two-level
    aggregate over (node, cluster)."""
    idx = _dup_cluster_index(spark, sf_dir)
    clusters = dedup.load_dup_clusters(spark, idx)
    return (
        clusters.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
        )
    )


def q_quality_dedup_survivors_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """quality_dedup_survivors composed over the PERSISTED labeling
    (round 11): keep-longest survivor selection
    (dedup.dedup_by_clusters_prefer) reading clusters= from the shared
    bucketed table instead of rebuilding minhash→verify→CC. Same
    oracle as the direct query — results must be identical."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    idx = _dup_cluster_index(spark, sf_dir)
    clusters = dedup.load_dup_clusters(spark, idx)
    return dedup.dedup_by_clusters_prefer(
        docs, "doc_id", clusters, "n_chars"
    ).select("doc_id", "n_chars")


def q_dup_weighted_sample_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dup_weighted_sample composed over the PERSISTED labeling
    (round 11): the Gumbel-top-k de-weighted draw with clusters= from
    the shared bucketed table — one size aggregate + two key joins +
    TakeOrderedAndProject, zero signature hashing. Same oracle as the
    direct query."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = _dup_cluster_index(spark, sf_dir)
    clusters = dedup.load_dup_clusters(spark, idx)
    return dedup.dup_weighted_sample(
        docs, clusters, k=100, seed=42
    ).select("doc_id", "dup_count", "resample_score")


def q_cluster_split_leakfree_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """cluster_split_leakfree composed over the PERSISTED labeling
    (round 11): leakage-free 80/10/10 assignment with clusters= from
    the shared bucketed table — one left join + the md5-bucket rule.
    Same oracle as the direct query."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    idx = _dup_cluster_index(spark, sf_dir)
    clusters = dedup.load_dup_clusters(spark, idx)
    return dedup.cluster_aware_split(
        docs, "doc_id", clusters,
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "split")


def q_cross_source_dups_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """cross_source_dups composed over the PERSISTED verified-pair
    table (round 11): the who-copies-from-whom matrix reading
    (id_a, id_b) from the shared bucketed pair_table instead of
    re-running shingle→minhash→band→verify. Same oracle as the direct
    query."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    idx = _dup_cluster_index(spark, sf_dir)
    pairs = dedup.load_dup_pairs(spark, idx).select("id_a", "id_b")
    return dedup.cross_source_dup_matrix(docs, pairs)


QUERIES.update({
    "dup_cluster_sizes_clustered": q_dup_cluster_sizes_clustered,
    "quality_dedup_survivors_clustered": q_quality_dedup_survivors_clustered,
    "dup_weighted_sample_clustered": q_dup_weighted_sample_clustered,
    "cluster_split_leakfree_clustered": q_cluster_split_leakfree_clustered,
    "cross_source_dups_clustered": q_cross_source_dups_clustered,
})
# identical results to the direct queries by construction — the oracle IS
# the direct query's oracle (the persisted labeling replays the same
# recipe); a twin that diverges from its direct query fails the gate
ORACLES.update({
    "dup_cluster_sizes_clustered": SQL_DUP_CLUSTER_SIZES,
    "quality_dedup_survivors_clustered": SQL_QUALITY_DEDUP_SURVIVORS,
    "dup_weighted_sample_clustered": SQL_DUP_WEIGHTED_SAMPLE,
    "cluster_split_leakfree_clustered": SQL_CLUSTER_SPLIT_LEAKFREE,
    "cross_source_dups_clustered": SQL_CROSS_SOURCE_DUPS,
})


def q_lsh_plan_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-plan decision table (dedup.lsh_plan, round 11, VERDICT
    r10 item #3): every (bands, rows) factorization of num_hashes in
    {16, 32, 64, 128}, its candidate-recall at s = 0.5
    (1 − (1 − s^rows)^bands) and its false-positive rate at s = 0.25;
    feasible = recall ≥ 0.95 AND rows ≥ 2 (the planner's min_rows floor:
    1-row bands bucket on raw minhash values — candidate volume
    1 − (1 − s)^b at every s); chosen = the planner's pick (smallest
    num_hashes, then lowest fp, then fewest rows) replayed RELATIONALLY
    with one window. Pure expressions over an exploded literal grid —
    no data scan; the table is what lsh_plan's driver-side arithmetic
    walks."""
    grid = (
        spark.sql(
            "SELECT explode(array(16, 32, 64, 128)) AS num_hashes"
        )
        .select(
            "num_hashes",
            F.explode(F.expr("sequence(1, num_hashes)")).alias("n_rows"),
        )
        .where(F.col("num_hashes") % F.col("n_rows") == 0)
        .withColumn(
            "n_bands", (F.col("num_hashes") / F.col("n_rows")).cast("long")
        )
    )
    recall = 1 - F.pow(
        1 - F.pow(F.lit(0.5), F.col("n_rows")), F.col("n_bands")
    )
    fp = 1 - F.pow(
        1 - F.pow(F.lit(0.25), F.col("n_rows")), F.col("n_bands")
    )
    scored = grid.select(
        F.col("num_hashes").cast("long").alias("num_hashes"),
        "n_bands",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(recall, 6).alias("recall_at_t"),
        F.round(fp, 6).alias("fp_at_low"),
        ((recall >= 0.95) & (F.col("n_rows") >= 2)).alias("feasible"),
    )
    from pyspark.sql.window import Window

    return scored.withColumn(
        "chosen",
        F.when(
            F.col("feasible"),
            F.row_number().over(
                Window.partitionBy("feasible").orderBy(
                    "num_hashes", "fp_at_low", "n_rows"
                )
            ) == 1,
        ).otherwise(F.lit(False)),
    )


SQL_LSH_PLAN_CURVE = """
WITH nh AS (SELECT unnest([16, 32, 64, 128]) AS num_hashes),
grid AS (
  SELECT num_hashes, r AS n_rows, num_hashes // r AS n_bands
  FROM nh, LATERAL (SELECT unnest(range(1, num_hashes + 1)) AS r)
  WHERE num_hashes % r = 0
),
scored AS (
  SELECT CAST(num_hashes AS BIGINT) AS num_hashes,
         CAST(n_bands AS BIGINT) AS n_bands,
         CAST(n_rows AS BIGINT) AS n_rows,
         ROUND(1 - POWER(1 - POWER(0.5, n_rows), n_bands), 6) AS recall_at_t,
         ROUND(1 - POWER(1 - POWER(0.25, n_rows), n_bands), 6) AS fp_at_low,
         (1 - POWER(1 - POWER(0.5, n_rows), n_bands)) >= 0.95
           AND n_rows >= 2 AS feasible
  FROM grid
)
SELECT num_hashes, n_bands, n_rows, recall_at_t, fp_at_low, feasible,
       CASE WHEN feasible THEN
         row_number() OVER (PARTITION BY feasible
                            ORDER BY num_hashes, fp_at_low, n_rows) = 1
       ELSE FALSE END AS chosen
FROM scored
"""


QUERIES.update({"lsh_plan_curve": q_lsh_plan_curve})
ORACLES.update({"lsh_plan_curve": SQL_LSH_PLAN_CURVE})


def q_corpus_prepare_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pipeline with the batch URL door FIRST (round 11, VERDICT
    r10 item #9 — pipeline.prepare_corpus(url_col=), streaming-parity
    door order): a deterministic re-crawl URL is derived per doc
    (doc_id mod 40 × mod 7 — ~280 canonical identities over the
    fixture, so the door cuts roughly half the corpus before any
    language scoring), canonical-URL dedup keeps the smallest doc_id
    per identity, and the surviving docs run the standard lang →
    quality → exact dedup → near-dup → pack pipeline. Oracle prepends
    the identical keep-first-per-URL window to the proven
    corpus_prepare replay."""
    from ..operators import pipeline

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source",
        F.concat(
            F.lit("https://ex"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".com/a/"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("url"),
    )
    scope = _rotating_scope("corpus_prepare_url")
    packed = pipeline.prepare_corpus(
        docs, pack_budget=512, neardup_bands=32, url_col="url",
        scope=scope,
    )
    return pipeline.corpus_report(packed, pack_budget=512)


SQL_CORPUS_PREPARE_URL = SQL_CORPUS_PREPARE.replace(
    """WITH RECURSIVE toks AS (
  SELECT doc_id, text, source,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                   t -> t <> '')) AS tk
  FROM documents
),""",
    """WITH RECURSIVE url_kept AS (
  SELECT doc_id, text, source FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY 'https://ex' || CAST(doc_id % 40 AS VARCHAR)
                   || '.com/a/' || CAST(doc_id % 7 AS VARCHAR)
      ORDER BY doc_id) AS urn
    FROM documents)
  WHERE urn = 1
),
toks AS (
  SELECT doc_id, text, source,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                   t -> t <> '')) AS tk
  FROM url_kept
),""",
)
assert "url_kept AS" in SQL_CORPUS_PREPARE_URL  # replace() must not rot


QUERIES.update({"corpus_prepare_url": q_corpus_prepare_url})
ORACLES.update({"corpus_prepare_url": SQL_CORPUS_PREPARE_URL})


def q_quality_cut_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The argmax-F1 trained-gate cut (round 11, VERDICT r10 item #8 —
    the decision RULE prepare_corpus(quality_cut="f1") applies): the
    gate_threshold_sweep decision table reduced to its best row, F1
    descending with ties to the LOWEST threshold (admit more when
    equal). One 10-row sweep + a deterministic order/limit. The
    pipeline applies the same rule over ITS population (the lang-kept
    docs its classifier gate sees — the unit test replicates that
    population exactly); this query sweeps the raw table, the
    gate_threshold_sweep pairing. Chosen cut surfaced on corpus_card
    as clf_cut."""
    from ..operators import classifier

    docs = _t(spark, sf_dir, "documents")
    scores = classifier.classifier_scores(
        docs, classifier.WEIGHTS_QUALITY_V1
    )
    lab = textstats.with_quality_score(docs, "text").select(
        "doc_id", (F.col("quality_score") >= 0.5).alias("__label")
    )
    sweep = ml.threshold_sweep(
        scores.join(lab, "doc_id"), "clf_score", "__label", n_bins=10
    )
    return (
        sweep.where(F.col("f1").isNotNull())
        .orderBy(F.col("f1").desc(), F.col("threshold").asc())
        .limit(1)
    )


SQL_QUALITY_CUT_F1 = (
    "SELECT * FROM (" + SQL_GATE_THRESHOLD_SWEEP + """
) WHERE f1 IS NOT NULL
ORDER BY f1 DESC, threshold ASC LIMIT 1
"""
)


QUERIES.update({"quality_cut_f1": q_quality_cut_f1})
ORACLES.update({"quality_cut_f1": SQL_QUALITY_CUT_F1})


def q_dunns_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise battery after Kruskal–Wallis
    (ml.dunns_test, round 11, VERDICT r10 item #10b): all 10 priority
    pairs over order values — tie-corrected pairwise z from the SAME
    pooled integer-exact midranks as the omnibus H, two-sided p via the
    A&S 26.2.17 exp polynomial (the KS battery's p-value precedent),
    jointly BH-FDR-controlled at q=0.05 by composing ml.bh_fdr. Oracle
    replays midranks, the pairwise variance, the polynomial, and the
    exact step-up line."""
    orders = _t(spark, sf_dir, "orders")
    return ml.dunns_test(orders, "o_orderpriority", "o_totalprice", q=0.05)


SQL_DUNNS_POSTHOC = """
WITH base AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
),
pv AS (SELECT v, g, COUNT(*) AS tg FROM base GROUP BY v, g),
tot_v AS (SELECT v, SUM(tg) AS t FROM pv GROUP BY v),
r2v AS (
  SELECT v, 2 * (SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
           + t + 1 AS r2
  FROM tot_v
),
per_g AS (
  SELECT g, SUM(pv.tg * r2v.r2) AS r2g, SUM(pv.tg) AS ng
  FROM pv JOIN r2v USING (v) GROUP BY g
),
g_tot AS (
  SELECT SUM(t) AS n, SUM(t * t * t - t) AS ties FROM tot_v
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb, a.ng AS na, b.ng AS nb,
         a.r2g / (2.0 * a.ng) AS mra, b.r2g / (2.0 * b.ng) AS mrb,
         (n * (n + 1.0) - ties * 1.0 / (n - 1.0)) / 12.0 AS sigma2,
         n
  FROM per_g a JOIN per_g b ON a.g < b.g CROSS JOIN g_tot
),
zed AS (
  SELECT ga, gb, na, nb, mra, mrb,
         CASE WHEN SQRT(sigma2 * (1.0 / na + 1.0 / nb)) > 0
              THEN (mra - mrb) / SQRT(sigma2 * (1.0 / na + 1.0 / nb))
         END AS z
  FROM pairs
),
pval AS (
  SELECT *, LEAST(
    2.0 * (EXP(-ABS(z) * ABS(z) / 2.0) / 2.5066282746310002)
        * ((1.0 / (1.0 + 0.2316419 * ABS(z)))
           * (0.319381530 + (1.0 / (1.0 + 0.2316419 * ABS(z)))
           * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * ABS(z)))
           * (1.781477937 + (1.0 / (1.0 + 0.2316419 * ABS(z)))
           * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * ABS(z)))
              * 1.330274429))))),
    1.0) AS p_value
  FROM zed
),
ranked AS (
  SELECT *, ga || '|' || gb AS test,
         ROW_NUMBER() OVER (ORDER BY p_value ASC, ga || '|' || gb ASC)
           AS rnk,
         COUNT(*) OVER () AS m
  FROM pval
),
kmax AS (
  SELECT MAX(rnk) AS km FROM ranked
  WHERE p_value <= rnk * 1.0 / m * 0.05
)
SELECT ga AS group_a, gb AS group_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(mra, 6) AS mean_rank_a, ROUND(mrb, 6) AS mean_rank_b,
       ROUND(z, 6) AS z,
       ROUND(p_value, 6) AS p,
       CAST(rnk AS BIGINT) AS rank,
       ROUND(rnk * 1.0 / m * 0.05, 6) AS bh_threshold,
       COALESCE(rnk <= km, FALSE) AS rejected
FROM ranked CROSS JOIN kmax
ORDER BY rank
"""


QUERIES.update({"dunns_posthoc": q_dunns_posthoc})
ORACLES.update({"dunns_posthoc": SQL_DUNNS_POSTHOC})


def _ingest_log_3batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 3-batch door log q_ingest_door_rollup
    synthesizes (arrived → lang_quality_gate → in_batch_exact,
    batch = doc_id % 3) — shared by the rollup, the round-11 time
    series, and the dedup-health join."""
    from ..operators import textstats as ts_mod

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b = (F.col("doc_id") % 3).cast("long").alias("batch_id")
    scored = ts_mod.with_quality_score(
        ts_mod.with_lang_id(docs, "text"), "text"
    )
    gated = scored.where(
        (F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.5)
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.groupBy(b)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("batch_id", F.lit("arrived").alias("stage"), "n_rows")
        .unionByName(
            gated.groupBy(b)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(
                "batch_id",
                F.lit("lang_quality_gate").alias("stage"),
                "n_rows",
            )
        )
        .unionByName(
            gated.groupBy(b)
            .agg(F.countDistinct(norm).alias("n_rows"))
            .select(
                "batch_id", F.lit("in_batch_exact").alias("stage"), "n_rows"
            )
        )
    )


def q_ingest_log_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(batch, door) ingest TIME SERIES
    (pipeline.ingest_log_timeseries, round 11, VERDICT r10 item #10a):
    the rollup's 3-batch synthesized log expanded to the trend view —
    per batch and door, rows in/out/rejected, exact-ppm rejection rate,
    cumulative admitted, trailing-3 ratio-of-sums moving rejection
    rate, and the batch-over-batch rate delta. All rates are integer
    half-up ppm (DIV arithmetic — no double boundary at any scale);
    oracle replays the lag, both trailing windows, and the ppm line."""
    from ..operators import pipeline

    return pipeline.ingest_log_timeseries(_ingest_log_3batch(spark, sf_dir))


SQL_INGEST_LOG_TS = SQL_INGEST_DOOR_ROLLUP.split("staged AS (")[0] + r"""staged AS (
  SELECT batch_id, stage, r, n,
         COALESCE(LAG(n) OVER (PARTITION BY batch_id ORDER BY r), n) AS rin
  FROM log
),
ext AS (
  SELECT *, rin - n AS rej,
         CASE WHEN rin > 0 THEN (2000000 * (rin - n) + rin) // (2 * rin)
              ELSE 0 END AS ppm
  FROM staged
),
win AS (
  SELECT *,
         SUM(rin) OVER wma AS ma_in,
         SUM(rej) OVER wma AS ma_rej,
         SUM(n) OVER wcum AS cum_out,
         LAG(ppm) OVER ws AS prev_ppm
  FROM ext
  WINDOW ws AS (PARTITION BY stage ORDER BY batch_id),
         wma AS (PARTITION BY stage ORDER BY batch_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         wcum AS (PARTITION BY stage ORDER BY batch_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT batch_id, stage,
       CAST(rin AS BIGINT) AS rows_in,
       CAST(n AS BIGINT) AS rows_out,
       CAST(rej AS BIGINT) AS n_rejected,
       ppm / 1000000.0 AS reject_rate,
       CAST(cum_out AS BIGINT) AS cum_rows_out,
       (CASE WHEN ma_in > 0 THEN (2000000 * ma_rej + ma_in) // (2 * ma_in)
             ELSE 0 END) / 1000000.0 AS ma_reject,
       (ppm - prev_ppm) / 1000000.0 AS delta_reject
FROM win ORDER BY batch_id, r
"""
assert "ext AS (" in SQL_INGEST_LOG_TS  # split() must not rot


QUERIES.update({"ingest_log_ts": q_ingest_log_ts})
ORACLES.update({"ingest_log_ts": SQL_INGEST_LOG_TS})


def q_dedup_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-health dashboard (pipeline.dedup_health_report, round 11,
    VERDICT r10 item #10a): per ingest batch, the exact-dedup door's
    rejection rate joined to the near-dup cluster structure of that
    batch's documents — clustered share and largest touched cluster —
    over the SHARED persisted dup-cluster labeling (its sixth
    consumer). A batch that both rejects heavily at the dedup door and
    lives in large clusters is the re-collected-template signal.
    Oracle = the synthesized log's lag + ppm arithmetic composed with
    the brute-force recursive-CC closure."""
    from ..operators import pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    log = _ingest_log_3batch(spark, sf_dir)
    idx = _dup_cluster_index(spark, sf_dir)
    clusters = dedup.load_dup_clusters(spark, idx)
    batch_map = docs.select(
        "doc_id", (F.col("doc_id") % 3).cast("long").alias("batch_id")
    )
    return pipeline.dedup_health_report(
        log, clusters, batch_map, dedup_stages=("in_batch_exact",)
    )


SQL_DEDUP_HEALTH = SQL_INGEST_DOOR_ROLLUP.split("staged AS (")[0] + r"""staged AS (
  SELECT batch_id, stage, r, n,
         COALESCE(LAG(n) OVER (PARTITION BY batch_id ORDER BY r), n) AS rin
  FROM log
),
doors AS (
  SELECT batch_id, SUM(rin) AS din, SUM(n) AS dout
  FROM staged WHERE stage = 'in_batch_exact' GROUP BY batch_id
),
ctok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ctoks
  FROM documents
),
csh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(ctoks) - 2, 0) + 1),
            i -> ctoks[i] || ' ' || ctoks[i+1] || ' ' || ctoks[i+2])) AS shingles
  FROM ctok
),
cex AS (SELECT doc_id, unnest(shingles) AS s FROM csh),
cinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM cex a JOIN cex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cpairs AS (
  SELECT id_a, id_b FROM cinter
  JOIN (SELECT doc_id, len(shingles) AS n FROM csh) na ON na.doc_id = id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM csh) nb ON nb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
cund AS (
  SELECT id_a AS a, id_b AS b FROM cpairs
  UNION SELECT id_b, id_a FROM cpairs
),
creach AS (
  SELECT a AS node, a AS peer FROM cund
  UNION
  SELECT r.node, u.b FROM creach r JOIN cund u ON u.a = r.peer
),
cl AS (SELECT node, MIN(peer) AS cluster FROM creach GROUP BY node),
sizes AS (SELECT cluster, COUNT(*) AS sz FROM cl GROUP BY cluster),
bm AS (SELECT doc_id, doc_id % 3 AS batch_id FROM main.documents),
cstat AS (
  SELECT bm.batch_id,
         COUNT(*) AS n_docs,
         SUM(CASE WHEN cl.node IS NOT NULL THEN 1 ELSE 0 END) AS n_clustered,
         MAX(COALESCE(sizes.sz, 1)) AS max_cluster_size
  FROM bm LEFT JOIN cl ON cl.node = bm.doc_id
  LEFT JOIN sizes ON sizes.cluster = cl.cluster
  GROUP BY bm.batch_id
)
SELECT d.batch_id,
       CAST(din AS BIGINT) AS dedup_rows_in,
       CAST(dout AS BIGINT) AS dedup_rows_out,
       (CASE WHEN din > 0 THEN (2000000 * (din - dout) + din) // (2 * din)
             ELSE 0 END) / 1000000.0 AS dedup_reject_rate,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_clustered AS BIGINT) AS n_clustered,
       (CASE WHEN n_docs > 0
             THEN (2000000 * n_clustered + n_docs) // (2 * n_docs)
             ELSE 0 END) / 1000000.0 AS clustered_share,
       CAST(max_cluster_size AS BIGINT) AS max_cluster_size
FROM doors d LEFT JOIN cstat ON cstat.batch_id = d.batch_id
ORDER BY d.batch_id
"""
assert "creach AS (" in SQL_DEDUP_HEALTH  # split() must not rot


QUERIES.update({"ingest_log_ts": q_ingest_log_ts,
                "dedup_health": q_dedup_health})
ORACLES.update({"ingest_log_ts": SQL_INGEST_LOG_TS,
                "dedup_health": SQL_DEDUP_HEALTH})


def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competence-based curriculum assignment (packing.curriculum_schedule,
    round 11; Platanios et al. 2019): documents ranked easiest-first by
    length, each assigned the first phase whose competence fraction
    c(p) = sqrt((p+1)/4) admits its exact rank — root pacing over 4
    phases. Closed-form integer/decimal threshold arithmetic from one
    global rank window + a 1-row count broadcast; oracle replays the
    rank and the squared-threshold comparisons exactly."""
    from ..operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return packing.curriculum_schedule(
        docs, "n_chars", n_phases=4, pacing="sqrt"
    ).select(
        "doc_id",
        F.col("difficulty_rank").cast("long").alias("difficulty_rank"),
        F.col("phase").cast("int").alias("phase"),
    )


SQL_CURRICULUM_SCHEDULE = """
WITH ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rnk
  FROM documents
),
n AS (SELECT COUNT(*) AS nn FROM documents)
SELECT doc_id,
       CAST(rnk AS BIGINT) AS difficulty_rank,
       CAST(CASE WHEN rnk * rnk * 4 <= 1 * nn * nn THEN 0
                 WHEN rnk * rnk * 4 <= 2 * nn * nn THEN 1
                 WHEN rnk * rnk * 4 <= 3 * nn * nn THEN 2
                 ELSE 3 END AS INT) AS phase
FROM ranked CROSS JOIN n
"""


QUERIES.update({"curriculum_schedule": q_curriculum_schedule})
ORACLES.update({"curriculum_schedule": SQL_CURRICULUM_SCHEDULE})


def q_waterfill_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair token-budget allocation across sources
    (transform.waterfill_allocation, round 11): each source's cap is
    its total whitespace-token count; a 30k-token budget is shared at
    the water level L with Σ min(cap, L) = budget — sources below L
    keep everything (capped), the rest get exactly L. One
    source-cardinality sort window + a 1-row level broadcast; oracle
    replays the prefix sums, the max-of-valid-candidates level, and
    min(cap, L) exactly."""
    from ..operators import transform

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    toks = F.size(
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
            lambda t: t != "",
        )
    )
    caps = docs.groupBy("source").agg(
        F.sum(toks).cast("long").alias("cap_tokens")
    )
    return transform.waterfill_allocation(
        caps, "source", "cap_tokens", total_budget=30000
    )


SQL_WATERFILL_TOKENS = r"""
WITH caps AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
                        x -> x <> ''))) AS BIGINT) AS cap
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, cap,
         ROW_NUMBER() OVER (ORDER BY cap ASC, source ASC) AS i,
         COALESCE(SUM(cap) OVER (ORDER BY cap ASC, source ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM caps
),
tot AS (SELECT COUNT(*) AS k, SUM(cap) AS s FROM caps),
cand AS (
  SELECT MAX((30000 - prefix) * 1.0 / (k - i + 1)) AS level
  FROM ranked CROSS JOIN tot
  WHERE s > 30000
    AND (30000 - prefix) * 1.0 / (k - i + 1) < cap * 1.0
)
SELECT r.source, r.cap,
       ROUND(CASE WHEN t.s <= 30000 THEN cap * 1.0
                  ELSE LEAST(cap * 1.0, c.level) END, 6) AS allocation,
       (t.s <= 30000 OR cap * 1.0 <= c.level) AS capped,
       ROUND(c.level, 6) AS water_level
FROM ranked r CROSS JOIN tot t CROSS JOIN cand c
ORDER BY r.source
"""


QUERIES.update({"waterfill_tokens": q_waterfill_tokens})
ORACLES.update({"waterfill_tokens": SQL_WATERFILL_TOKENS})


def q_neardup_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level near-dup diagnostics (dedup.neardup_pair_stats, round
    11): planted FRAGMENT docs (first 400 chars of every 11th document,
    id + 100000) pair with their originals at high containment — the
    subset relationship a symmetric Jaccard threshold can't see; the
    stats emit both directed containments, exact sizes, and the
    keep-the-superset hint. Banded candidates at 32x2 (structural
    recall at the 0.5 gate), exact verify; oracle is brute-force
    all-pairs shingle intersection with the identical ratio and hint
    arithmetic."""
    docs = dedup.ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    frags = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring("text", 1, 400).alias("text"),
    )
    both = docs.unionByName(frags)
    scope = _rotating_scope("neardup_pair_stats")
    sh = scope.persist(
        dedup.minhash_signatures(
            dedup.shingle_hashes(both, "text", n=3), num_hashes=64
        ).select("doc_id", "shingles", "minhash")
    )
    cand = dedup.lsh_candidate_pairs(sh, "doc_id", bands=32, barrier=False)
    return dedup.neardup_pair_stats(cand, sh, "doc_id").where(
        F.col("jaccard") >= 0.5
    )


SQL_NEARDUP_PAIR_STATS = r"""
WITH both_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, substring(text, 1, 400) FROM documents
  WHERE doc_id % 11 = 0
),
tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM both_docs
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM tok
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (
  SELECT id_a, id_b,
         CAST(na.n AS BIGINT) AS size_a, CAST(nb.n AS BIGINT) AS size_b, i
  FROM inter
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) na ON na.doc_id = id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) nb ON nb.doc_id = id_b
),
scored AS (
  SELECT id_a, id_b, size_a, size_b,
         ROUND(i * 1.0 / (size_a + size_b - i), 6) AS jaccard,
         CASE WHEN size_a > 0 THEN i * 1.0 / size_a END AS ca,
         CASE WHEN size_b > 0 THEN i * 1.0 / size_b END AS cb
  FROM sized
)
SELECT id_a, id_b, size_a, size_b, jaccard,
       ROUND(ca, 6) AS containment_a, ROUND(cb, 6) AS containment_b,
       CASE WHEN ca >= 0.9 AND cb < 0.9 THEN 'b'
            WHEN cb >= 0.9 AND ca < 0.9 THEN 'a'
            ELSE 'either' END AS keep_hint
FROM scored WHERE jaccard >= 0.5
"""


QUERIES.update({"neardup_pair_stats": q_neardup_pair_stats})
ORACLES.update({"neardup_pair_stats": SQL_NEARDUP_PAIR_STATS})


#: deterministic code-ish preamble planted on every 5th doc (shared
#: VERBATIM by the Spark query and the DuckDB oracle)
CODE_PLANT_EXPR = (
    "CASE WHEN doc_id % 5 = 0 THEN "
    "'```' || chr(10) || 'def handler(reqVal):' || chr(10) || "
    "'    x = compute(reqVal);' || chr(10) || "
    "'    return {x};' || chr(10) || '```' || chr(10) || text "
    "ELSE text END"
)


def q_code_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code/structure detection (textstats.code_structure_stats, round
    11): every 5th document gets a deterministic fenced code preamble
    (def/indent/semicolons/braces); the detector's pure-expression
    features (fences, indent ratio, semicolon-EOL ratio, symbol
    density, camelCase count, urls) and the frozen-weight score must
    flag exactly the planted docs on this fixture. Zero shuffles; the
    oracle replays every regexp count and the weighted score."""
    from ..operators import textstats as ts_mod

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(CODE_PLANT_EXPR).alias("text")
    )
    return ts_mod.code_structure_stats(docs, "text").select(
        "doc_id", "n_lines", "fence_blocks", "indent_ratio",
        "semicolon_ratio", "symbol_density", "camel_tokens", "n_urls",
        "code_score", "is_code",
    )


SQL_CODE_STRUCTURE = rf"""
WITH d AS (SELECT doc_id, {CODE_PLANT_EXPR} AS text FROM documents),
feats AS (
  SELECT doc_id,
         string_split(COALESCE(text, ''), chr(10)) AS lines,
         COALESCE(text, '') AS t
  FROM d
),
c AS (
  SELECT doc_id,
         CAST(len(lines) AS INT) AS n_lines,
         GREATEST(len(lines), 1) * 1.0 AS nz,
         CAST(len(regexp_extract_all(t, '```')) // 2 AS INT) AS fence_blocks,
         len(list_filter(lines, ln -> regexp_matches(ln, '^(    |\t)')))
           AS indented,
         len(list_filter(lines,
             ln -> regexp_matches(ln, '[;{{}}][ \t\r]*$') AND trim(ln) <> ''))
           AS semi_eol,
         LENGTH(t) - LENGTH(regexp_replace(t, '[{{}}\[\]();=<>]', '', 'g'))
           AS symbols,
         CAST(len(regexp_extract_all(t, '\b[a-z]+[A-Z][A-Za-z0-9]*'))
           AS BIGINT) AS camel_tokens,
         CAST(len(regexp_extract_all(t, 'https?://')) AS BIGINT) AS n_urls,
         GREATEST(LENGTH(t), 1) * 1.0 AS lz
  FROM feats
),
scored AS (
  SELECT *,
         0.4 * LEAST(1.0, fence_blocks * 1.0)
         + 0.25 * (indented / nz)
         + 0.2 * (semi_eol / nz)
         + 0.15 * LEAST(1.0, 10.0 * (symbols / lz)) AS score
  FROM c
)
SELECT doc_id, n_lines, fence_blocks,
       ROUND(indented / nz, 6) AS indent_ratio,
       ROUND(semi_eol / nz, 6) AS semicolon_ratio,
       ROUND(symbols / lz, 6) AS symbol_density,
       camel_tokens, n_urls,
       ROUND(score, 6) AS code_score,
       score >= 0.3 AS is_code
FROM scored
"""


QUERIES.update({"code_structure": q_code_structure})
ORACLES.update({"code_structure": SQL_CODE_STRUCTURE})


def _lang_nb_margin_oracle_sql(model: dict | None = None) -> str:
    """The :func:`_lang_nb_oracle_sql` replica extended with the
    round-11 decision margin: second-best minus best of the same BIGINT
    micro-unit decision values, length-normalized only at the end."""
    if model is None:
        from ..operators.classifier import LANG_NB_V2 as model

    n, dim, ell = model["n"], model["dim"], model["ell"]
    langs, prior, w = model["langs"], model["prior"], model["w"]
    fallback = max(range(len(langs)), key=lambda i: (prior[i], -i))
    s_cols = []
    for li in range(len(langs)):
        wl = ", ".join(str(int(round(v * 1_000_000))) for v in w[li])
        s_cols.append(
            f"CAST(SUM(cnt * ([{wl}])[b + 1]) AS BIGINT) AS s_{li}"
        )
    structs = ", ".join(
        "{'ns': -(t * (%d) + %d * s_%d), 'l': '%s'}"
        % (int(round(prior[li] * 1_000_000)), ell, li, langs[li])
        for li in range(len(langs))
    )
    bucket_rel = f"({_sql_xxh64_bucket(dim)})"
    return f"""
WITH g AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(text) - {n} + 2, 1)),
                               i -> substring(text, i, {n}))) AS gram
  FROM documents
),
c AS MATERIALIZED (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {bucket_rel} GROUP BY 1, 2
),
s AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS t,
         {', '.join(s_cols)}
  FROM c GROUP BY doc_id
),
p AS (
  SELECT doc_id,
         list_sort([{structs}])[1].l AS pred,
         ROUND((list_sort([{structs}])[2].ns
                - list_sort([{structs}])[1].ns) * 1.0
               / (t * 1000000.0), 6) AS mpg
  FROM s
)
SELECT d.doc_id,
       CASE WHEN p.mpg < 0.02 THEN 'und'
            ELSE COALESCE(p.pred, '{langs[fallback]}') END AS lang_pred,
       p.mpg AS margin_per_gram
FROM documents d LEFT JOIN p USING (doc_id)
"""


def q_lang_id_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained lang-ID with a decision margin and confidence reject
    (classifier.lang_id_nb_margin over LANG_NB_V2, round 11): the
    second-best-vs-best gap of the exact LONG micro-unit NB decision
    values, per gram — low-margin docs route to 'und' (cut 0.02)
    instead of a coin-flip argmax. Oracle extends the bit-exact XXH64
    NB replica with the same integer margin and the identical
    length normalization."""
    from ..operators import classifier

    docs = _t(spark, sf_dir, "documents")
    return classifier.lang_id_nb_margin(
        docs, classifier.LANG_NB_V2, und_below=0.02
    )


SQL_LANG_ID_MARGIN = _lang_nb_margin_oracle_sql()


QUERIES.update({"lang_id_margin": q_lang_id_margin})
ORACLES.update({"lang_id_margin": SQL_LANG_ID_MARGIN})
