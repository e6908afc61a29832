"""TPC-H-shape planner battery, part 2 (SURVEY.md §2.9 extension surface).

The reference has no joins at all (its only join-shaped op is the
positional stats lookup, StreamingJob.java:369-385); this module rounds
out the relational surface with the remaining classic TPC-H plan shapes
the first battery (operators/relational.py) didn't cover:

- Q7  two-trading-blocs volume: dim-filter-before-join + broadcast dims,
  the OR pair predicate kept as a post-join *filter* (an OR inside a
  join condition would plan as a nested-loop cross product).
- Q10 returned-item ranking: selective fact filter → join → agg →
  deterministic top-k.
- Q13 customer order-count distribution: left outer join preserving
  zero-order customers + two-level aggregation.
- Q14 promo revenue share: conditional aggregation (one pass, no
  self-join).
- Q18 large-quantity orders: aggregate-then-join where the *aggregated*
  side is broadcast (having-filtered groups are tiny at any scale).
- Q19 disjunctive brand/size/quantity brackets: OR-of-ANDs residual
  over a single equi-join; partkey join stays hash-based.
- Q22 idle high-balance customers: scalar-subquery threshold
  (crossJoin of a 1-row aggregate = broadcast) + anti join.

Scale notes (100 TB): every query filters dims *before* joining and
broadcasts only provably-small sides (nation/supplier/filtered-groups);
fact-fact joins shuffle on their natural keys; aggregates use partial
(map-side) combine via plain groupBy. Sums are exact decimal sums
(``functions/exact.py``) so results are order-independent and bit-identical to the DuckDB
oracle regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# --- q7: two-blocs trade volume ---------------------------------------------

def q7_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between region-0 customers and region-1 suppliers
    (both directions), by nation pair and ship year.

    Plan shape: nation is filtered to the two regions *before* joining
    and broadcast to both the customer and supplier sides; supplier is
    broadcast onto lineitem; lineitem⋈orders shuffles on orderkey. The
    bloc-pair condition is a post-join filter on two already-joined
    region columns — never part of a join condition.
    """
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_regionkey").isin(0, 1)
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nat),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"),
                F.col("n_regionkey").alias("cust_region"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"),
                F.col("n_regionkey").alias("supp_region"))
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        _revenue().alias("revenue"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    out = (
        l.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("cust_region") == 0) & (F.col("supp_region") == 1))
            | ((F.col("cust_region") == 1) & (F.col("supp_region") == 0))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(exact_sum(F.col("revenue")), 6).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )
    return out


Q7_ORACLE = f"""
WITH nat AS (SELECT * FROM nation WHERE n_regionkey IN (0, 1))
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nat sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nat cn ON c_nationkey = cn.n_nationkey
WHERE (cn.n_regionkey = 0 AND sn.n_regionkey = 1)
   OR (cn.n_regionkey = 1 AND sn.n_regionkey = 0)
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --- q10: returned-item ranking ---------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by revenue lost to returned items in 1996.

    Selective filters (returnflag, one order year) are applied to each
    fact before the join so the shuffle carries only qualifying rows;
    customer and nation are broadcast. Deterministic top-k: ties broken
    by c_custkey.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", _revenue().alias("revenue"))
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    out = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(F.round(exact_sum(F.col("revenue")), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )
    return out


Q10_ORACLE = f"""
SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
       {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- q13: customer order-count distribution ---------------------------------

def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer order counts (non-urgent orders),
    including customers with zero such orders.

    Left outer join keeps every customer; count(o_orderkey) counts only
    matched rows (NULL-safe), so the zero bucket survives. Two-level
    aggregation: per-customer count, then histogram of counts.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    out = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )
    return out


Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- q14: promo revenue share -----------------------------------------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROMO-type share of January-1996 revenue: one conditional
    aggregation pass, no self-join; part is broadcast."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-02-01"))
    ).select("l_partkey", _revenue().alias("revenue"))
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", F.col("revenue")).otherwise(
        F.lit(0.0)
    )
    out = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(exact_sum(promo), 6).alias("promo_revenue"),
            F.round(exact_sum(F.col("revenue")), 6).alias("total_revenue"),
            F.round(
                F.lit(100.0) * exact_sum(promo) / exact_sum(F.col("revenue")), 6
            ).alias("promo_share"),
        )
    )
    return out


_REVENUE_SQL = "l_extendedprice * (1.0 - l_discount)"
_PROMO_SQL = f"CASE WHEN p_type = 'PROMO' THEN {_REVENUE_SQL} ELSE 0.0 END"

Q14_ORACLE = f"""
SELECT
  {round_sql(exact_sum_sql(_PROMO_SQL), 6)} AS promo_revenue,
  {round_sql(exact_sum_sql(_REVENUE_SQL), 6)} AS total_revenue,
  {round_sql("100.0 * " + exact_sum_sql(_PROMO_SQL) + " / "
             + exact_sum_sql(_REVENUE_SQL), 6)} AS promo_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
"""


# --- q18: large-quantity orders ---------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total line quantity exceeds 250, with customer info.

    Aggregate-then-join: lineitem is aggregated by orderkey first
    (map-side partial combine), the HAVING filter shrinks it to a
    handful of groups, and *that* side is broadcast onto orders — the
    big-fact join never shuffles orders. Customer is broadcast last.
    """
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(exact_sum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", F.round(F.col("sum_qty"), 6).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )
    return out


Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {round_sql("sum_qty", 6)} AS sum_qty
FROM (
  SELECT l_orderkey, {exact_sum_sql("l_quantity")} AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250.0
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --- q19: disjunctive brand/size/quantity brackets --------------------------

def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three brand/size/quantity brackets OR-ed together.

    The join stays a plain hash equi-join on partkey (part broadcast);
    the OR-of-ANDs is a residual filter evaluated post-join inside
    whole-stage codegen. Putting the OR *into* the join condition would
    degrade to a nested-loop product.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", _revenue().alias("revenue")
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    bracket = (
        ((brand == "Brand#11") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#22") & size.between(10, 30) & qty.between(10, 30))
        | ((brand == "Brand#33") & size.between(20, 50) & qty.between(20, 40))
    )
    out = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(bracket)
        .agg(
            F.round(exact_sum(F.col("revenue")), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return out


Q19_ORACLE = f"""
SELECT
  {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS revenue,
  count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
"""


# --- q22: idle high-balance customers ---------------------------------------

def q22_idle_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average positive balance and no order since
    1999, grouped by a derived country bucket.

    Scalar-subquery threshold = crossJoin of a 1-row aggregate (planned
    as a broadcast nested loop of exactly one row); the 'no recent
    order' condition is a left-anti join against the date-filtered
    order keys. Both are shuffle-free on the customer side at any
    scale except the anti join's own key shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        # Own type: a decimal quotient's scale follows the operand
        # precision, so the wider DEC could move this double.
        .agg((F.sum(F.col("c_acctbal").cast("decimal(27,15)")) / F.count(F.lit(1)))
             .cast("double").alias("avg_bal"))
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    ).select("o_custkey")
    out = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("int").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(exact_sum(F.col("c_acctbal")), 6).alias("totacctbal"),
        )
        .orderBy("cntry")
    )
    return out


Q22_ORACLE = f"""
SELECT CAST(c_nationkey % 10 AS INT) AS cntry, count(*) AS numcust,
       {round_sql(exact_sum_sql("c_acctbal"), 6)} AS totacctbal
FROM customer
WHERE c_acctbal > (
        SELECT {exact_sum_sql("c_acctbal")} / count(*)
        FROM customer WHERE c_acctbal > 0.0
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
GROUP BY 1
ORDER BY 1
"""


# --- q6: forecast revenue change (pure scan-side filter agg) ----------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table filter + aggregate — every predicate is pushable to
    the parquet scan (min/max row-group skipping at scale); no joins,
    no shuffle beyond the final 1-row combine."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return l.agg(
        F.round(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount")), 6
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q6_ORACLE = f"""
SELECT
  {round_sql(exact_sum_sql("l_extendedprice * l_discount"), 6)} AS revenue,
  count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
  AND l_quantity < CAST(24 AS DOUBLE)
"""


# --- q8: market share --------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-2 suppliers' share of PROMO-part revenue sold to region-0
    customers, per order year: two independent nation lookups (both
    broadcast, aliased), conditional aggregation for the share."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.filter(F.col("n_regionkey") == 0)),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.withColumnRenamed("n_regionkey", "supp_region")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_region")
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", _revenue().alias("revenue")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    in_region = F.when(
        F.col("supp_region") == 2, F.col("revenue")
    ).otherwise(F.lit(0.0))
    out = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy("o_year")
        .agg(
            F.round(exact_sum(in_region), 6).alias("region2_revenue"),
            F.round(exact_sum(F.col("revenue")), 6).alias("total_revenue"),
            F.round(exact_sum(in_region) / exact_sum(F.col("revenue")), 6).alias(
                "mkt_share"
            ),
        )
        .orderBy("o_year")
    )
    return out


_REGION2_SQL = f"CASE WHEN sn.n_regionkey = 2 THEN {_REVENUE_SQL} ELSE 0.0 END"

Q8_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
  {round_sql(exact_sum_sql(_REGION2_SQL), 6)} AS region2_revenue,
  {round_sql(exact_sum_sql(_REVENUE_SQL), 6)} AS total_revenue,
  {round_sql(exact_sum_sql(_REGION2_SQL) + " / "
             + exact_sum_sql(_REVENUE_SQL), 6)} AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_type = 'PROMO'
  AND o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE cn.n_regionkey = 0
  )
GROUP BY 1
ORDER BY 1
"""


# --- q15: top supplier(s) by quarterly revenue ------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers achieving the maximum Q1-1996 revenue: the classic
    view + scalar-max pattern. The per-supplier aggregate is computed
    once and reused for both the max (1-row broadcast) and the final
    equality filter — no re-scan, no correlated re-execution."""
    from psd_project_spark.functions.caching import transient_cache

    # cached: without it the docstring's "computed once" is false in
    # DAG terms — the max subquery and the equality filter would each
    # re-run the lineitem scan+aggregate (guide §5)
    rev = transient_cache(
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(exact_sum(_revenue()), 6).alias("total_revenue"))
    )
    best = rev.agg(F.max("total_revenue").alias("best"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )
    return out


Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


QUERIES = {
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_ORACLE),
    "q7_trade_volume": (q7_trade_volume, Q7_ORACLE),
    "q8_market_share": (q8_market_share, Q8_ORACLE),
    "q15_top_supplier": (q15_top_supplier, Q15_ORACLE),
    "q10_returned_items": (q10_returned_items, Q10_ORACLE),
    "q13_order_count_distribution": (
        q13_order_count_distribution,
        Q13_ORACLE,
    ),
    "q14_promo_revenue": (q14_promo_revenue, Q14_ORACLE),
    "q18_large_orders": (q18_large_orders, Q18_ORACLE),
    "q19_bracket_revenue": (q19_bracket_revenue, Q19_ORACLE),
    "q22_idle_high_balance": (q22_idle_high_balance, Q22_ORACLE),
}
