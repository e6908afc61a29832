"""Relational operator battery (SURVEY.md §2.9 extension surface).

The reference has no joins/set-ops/grouping-sets (its stats lookup is a
positional array read standing in for a broadcast equi-join,
StreamingJob.java:369-385). The driver contract exercises the full
relational surface over the TPC-H-ish tables; everything here is
built-in Catalyst territory — the engineering is in *plan shape*:

- small dims (`region``nation``customer`-sized) are broadcast, never
  shuffled;
- aggregates sum in DECIMAL so results are order-independent and
  bit-identical to the DuckDB oracle;
- every top-k / limit has a total deterministic ordering (ties broken
  by key columns);
- the as-of join is the union + last-non-null window trick — one
  shuffle on (key, time), no per-group pandas, no range explosion —
  the plan that survives 100 TB of events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psd_project_spark.functions.exact import DEC, exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table


# --- q1_pricing_summary (TPC-H Q1 shape) ------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    out = (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(exact_sum(F.col("l_quantity")), 6).alias("sum_qty"),
            F.round(exact_sum(F.col("l_extendedprice")), 6).alias("sum_base_price"),
            F.round(exact_sum(disc_price), 6).alias("sum_disc_price"),
            F.round(exact_sum(charge), 6).alias("sum_charge"),
            F.round(exact_sum(F.col("l_quantity")) / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(exact_sum(F.col("l_extendedprice")) / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(exact_sum(F.col("l_discount")) / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  {round_sql(exact_sum_sql("l_quantity"), 6)} AS sum_qty,
  {round_sql(exact_sum_sql("l_extendedprice"), 6)} AS sum_base_price,
  {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS sum_disc_price,
  {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"), 6)} AS sum_charge,
  {round_sql(exact_sum_sql("l_quantity") + " / count(*)", 6)} AS avg_qty,
  {round_sql(exact_sum_sql("l_extendedprice") + " / count(*)", 6)} AS avg_price,
  {round_sql(exact_sum_sql("l_discount") + " / count(*)", 6)} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- top_orders_by_revenue (TPC-H Q3 shape: 3-way join + top-N) -------------

def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, revenue per order, deterministic top 10.

    customer is broadcast (small dim); lineitem⋈orders shuffles on the
    join key with AQE handling skew. Top-N via global sort on
    (revenue DESC, o_orderkey) — ties cannot reorder results.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(exact_sum(revenue), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


TOP_ORDERS_ORACLE = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# --- region_nation_rollup (multi-join + ROLLUP) ------------------------------

def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(exact_sum(F.col("c_acctbal")), 6).alias("total_acctbal"),
        )
    )


ROLLUP_ORACLE = f"""
SELECT r_name, n_name, count(*) AS n_customers,
       {round_sql(exact_sum_sql("c_acctbal"), 6)} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# --- cube_orders (CUBE) ------------------------------------------------------

def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(exact_sum(F.col("o_totalprice")), 6).alias("total_price"),
    )


CUBE_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {round_sql(exact_sum_sql("o_totalprice"), 6)} AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- semi / anti joins -------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who never placed a top-decile (>450k) order — left-anti
    join (NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
"""


def big_spenders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one order above 100k (left-semi join)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


SEMI_ORACLE = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
"""


# --- set operations ----------------------------------------------------------

def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION of customer vs supplier nation keys,
    tagged and unioned into one result."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("op", F.lit("intersect"))
    only_c = c.subtract(s).withColumn("op", F.lit("except"))
    union_d = c.union(s).distinct().withColumn("op", F.lit("union"))
    return both.unionByName(only_c).unionByName(union_d)


SET_OPS_ORACLE = """
SELECT nationkey, 'intersect' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer
   INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'except' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer
   EXCEPT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'union' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer
   UNION SELECT s_nationkey FROM supplier)
"""


# --- ranking windows / bounded top-k (SURVEY §2.5 O3) ------------------------

def top3_cheapest_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's bounded top-k-minima buffer (StreamingJob.java:319-344)
    as a ranking window: 3 cheapest lineitems per returnflag,
    deterministic tiebreak."""
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        l.withColumn("rank_in_flag", F.row_number().over(w))
        .filter(F.col("rank_in_flag") <= 3)
        .select(
            "l_returnflag",
            "rank_in_flag",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
        )
    )


TOP3_ORACLE = """
SELECT l_returnflag, rank_in_flag, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS rank_in_flag
  FROM lineitem
)
WHERE rank_in_flag <= 3
"""


# --- running windowed sum (cumulative state per key) -------------------------

def running_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(exact_sum(F.col("value"), over=w), 6).alias("running_value"),
    )


RUNNING_ORACLE = f"""
SELECT user_id, event_id,
       {round_sql(exact_sum_sql("value", over=(
           "( PARTITION BY user_id ORDER BY event_id"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
       )), 6)}
         AS running_value
FROM events
"""


# --- as-of join --------------------------------------------------------------

def purchases_asof_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase event: the most recent view event at-or-before
    it for the same user (as-of backward join, inclusive).

    Spark lacks a native as-of join. This is the scalable composition:
    tag both sides, union, sort once per user on (ts_ns, side, event_id)
    and carry the last view via ``last(..., ignorenulls)`` — one shuffle
    total, no range cross-product, no per-group pandas
    (cf. pd.merge_asof semantics; DuckDB oracle uses native ASOF JOIN).
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_ns",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_view_id"),
        F.lit(None).cast("double").alias("_view_value"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts_ns",
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("double").alias("purchase_value"),
        F.lit(0).alias("_side"),
        F.col("event_id").alias("_view_id"),
        F.col("value").alias("_view_value"),
    )
    unioned = purchases.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "_side", "_view_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        unioned.withColumn("view_id", F.last("_view_id", ignorenulls=True).over(w))
        .withColumn("view_value", F.last("_view_value", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select(
            "user_id",
            "purchase_id",
            "purchase_value",
            "view_id",
            "view_value",
        )
    )


ASOF_ORACLE = """
WITH e AS (
  SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type, value FROM events
),
p AS (SELECT user_id, ts_ns, event_id AS purchase_id, value AS purchase_value
      FROM e WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts_ns, event_id AS view_id, value AS view_value
      FROM e WHERE event_type = 'view')
SELECT p.user_id, p.purchase_id, p.purchase_value, v.view_id, v.view_value
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.ts_ns >= v.ts_ns
"""


# --- sessionization ----------------------------------------------------------

SESSION_GAP_NS = 30 * 60 * 1_000_000_000  # 30 minutes


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is idle
    > 30 min. lag + conditional cumsum — pure integer arithmetic, one
    shuffle on user_id."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        e.withColumn("_prev", F.lag("ts_ns").over(wo))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("ts_ns") - F.col("_prev") > SESSION_GAP_NS),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("_new").over(wrun))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_ns").alias("session_start_ns"),
        F.max("ts_ns").alias("session_end_ns"),
    )


SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT event_id, epoch_ns(ts) AS ts_ns, user_id FROM events
), lagd AS (
  SELECT *, lag(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev
  FROM e
), marked AS (
  SELECT *, CASE WHEN prev IS NULL OR ts_ns - prev > {SESSION_GAP_NS}
                 THEN 1 ELSE 0 END AS is_new
  FROM lagd
), sessions AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
  FROM marked
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_ns) AS session_start_ns, max(ts_ns) AS session_end_ns
FROM sessions
GROUP BY user_id, session_id
"""


# --- grouping sets (beyond cube/rollup: arbitrary group combinations) --------

def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status, priority), (status), ()) in one pass —
    Catalyst expands to a single Expand + partial/final agg, one
    shuffle regardless of how many sets are requested (vs N separate
    groupBys = N shuffles)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(exact_sum(F.col("o_totalprice")), 6).alias("total_price"),
    )


GROUPING_SETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n_orders,
       {round_sql(exact_sum_sql("o_totalprice"), 6)} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# --- pivot (wide conditional aggregation) ------------------------------------

def pivot_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: total order value per priority × status. The
    explicit value list ('F','O','P') matters at scale — without it
    Spark runs an extra distinct-collect job over the pivot column."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(exact_sum(F.col("o_totalprice")), 6))
    )
    return p.select(
        "o_orderpriority",
        F.col("F").alias("total_F"),
        F.col("O").alias("total_O"),
        F.col("P").alias("total_P"),
    )


def _status_total_sql(status: str) -> str:
    # FILTER has no exact_sum_sql form, so the exact sum is spelled out.
    return (
        f"CAST(CAST(sum(CAST(CAST(o_totalprice AS STRING) AS {DEC})) "
        f"FILTER (WHERE o_orderstatus = '{status}') AS STRING) AS DOUBLE)"
    )


PIVOT_ORACLE = f"""
SELECT o_orderpriority,
  {round_sql(_status_total_sql("F"), 6)} AS total_F,
  {round_sql(_status_total_sql("O"), 6)} AS total_O,
  {round_sql(_status_total_sql("P"), 6)} AS total_P
FROM orders
GROUP BY o_orderpriority
"""


# --- keep-latest dedup (training-pipeline staple) ----------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest deduplication: one row per user — the most recent
    event (ties broken by event_id). row_number over (key, time DESC)
    is the scalable form of `dropDuplicates` with an ordering
    guarantee: one shuffle on user_id, no global sort."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_ns").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("event_id").alias("last_event_id"),
                "ts_ns", "event_type", "value")
    )


LATEST_EVENT_ORACLE = """
SELECT user_id, event_id AS last_event_id, ts_ns, event_type, value
FROM (
  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


# --- interval (range) join ---------------------------------------------------

HOUR_NS = 3_600_000_000_000


def views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: for each purchase, the count/value of the same
    user's view events in the preceding hour [ts−1h, ts).

    Plan shape that survives scale: the equality key (user_id) carries
    the shuffle; the range predicate evaluates post-join inside the
    hash/sort-merge join — never a cross product. If one user is a
    whale, AQE skew-split handles it; the further scale lever is
    bucketing both sides by (user_id, coarse time bucket) so the range
    overlap becomes part of the join key."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts_ns").alias("p_ns"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts_ns").alias("v_ns"),
        F.col("value").alias("v_value"),
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ns") >= F.col("p_ns") - F.lit(HOUR_NS))
        & (F.col("v_ns") < F.col("p_ns")),
        "left",
    )
    return joined.groupBy("user_id", "purchase_id").agg(
        F.count(F.col("v_ns")).alias("n_views_1h"),
        F.coalesce(
            F.round(exact_sum(F.col("v_value")), 6), F.lit(0.0)
        ).alias("view_value_1h"),
    )


VIEWS_BEFORE_PURCHASE_ORACLE = f"""
WITH e AS (
  SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type, value FROM events
),
p AS (SELECT user_id, event_id AS purchase_id, ts_ns AS p_ns
      FROM e WHERE event_type = 'purchase'),
v AS (SELECT user_id AS v_user, ts_ns AS v_ns, value AS v_value
      FROM e WHERE event_type = 'view')
SELECT p.user_id, p.purchase_id,
       count(v.v_ns) AS n_views_1h,
       coalesce({round_sql(exact_sum_sql("v.v_value"), 6)}, 0.0)
         AS view_value_1h
FROM p LEFT JOIN v
  ON p.user_id = v.v_user
 AND v.v_ns >= p.p_ns - {HOUR_NS}
 AND v.v_ns < p.p_ns
GROUP BY p.user_id, p.purchase_id
"""


# --- q5_local_supplier_volume (TPC-H Q5 shape: 6-table join) -----------------

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where the customer and the
    supplier share a nation, restricted to one region and one year.

    Plan shape for 100 TB: the only big⋈big join is lineitem⋈orders
    (shuffle on orderkey, AQE-sized); supplier, customer, nation,
    region are all broadcast — four dim joins with zero shuffles. The
    c_nationkey = s_nationkey correlation rides along as a post-join
    filter on already-broadcast columns, so Catalyst never plans a
    second big shuffle for it. Filters (region name, date year) are
    pushed into the scans before any join."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(exact_sum(revenue), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


Q5_ORACLE = f"""
SELECT n_name,
       {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- q17_small_quantity_revenue (correlated scalar subquery, decorrelated) ---

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity is below
    20% of that part's average quantity, per brand of PROMO parts.

    The textbook form is a correlated scalar subquery
    (``l_quantity < (SELECT 0.2*avg(l_quantity) ... WHERE l_partkey =
    outer.l_partkey)``). Decorrelated here as a window aggregate over
    l_partkey — ONE shuffle of lineitem, versus the naive
    aggregate-then-self-join's two passes. The 20%-of-average
    threshold compares as exact integers (5·n·q < Σq — quantities are
    integral), so no float-division drift between engines. part is a
    broadcast dim join after the filter has already shrunk lineitem."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    w = Window.partitionBy("l_partkey")
    stats = l.select(
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        F.sum(F.col("l_quantity").cast("bigint")).over(w).alias("_sum_q"),
        F.count(F.lit(1)).over(w).alias("_n"),
    )
    small = stats.filter(
        F.col("l_quantity").cast("bigint") * F.lit(5) * F.col("_n")
        < F.col("_sum_q")
    )
    joined = small.join(F.broadcast(p), small.l_partkey == p.p_partkey)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(exact_sum(F.col("l_extendedprice")), 6).alias(
                "small_qty_revenue"
            ),
        )
        .orderBy("p_brand")
    )


Q17_ORACLE = f"""
WITH stats AS (
  SELECT l_partkey, l_quantity, l_extendedprice,
         sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey) AS sum_q,
         count(*) OVER (PARTITION BY l_partkey) AS n
  FROM lineitem
)
SELECT p_brand, count(*) AS n_lines,
       {round_sql(exact_sum_sql("l_extendedprice"), 6)}
         AS small_qty_revenue
FROM stats JOIN part ON l_partkey = p_partkey
WHERE p_type = 'PROMO' AND CAST(l_quantity AS BIGINT) * 5 * n < sum_q
GROUP BY p_brand
ORDER BY p_brand
"""


# --- q4_order_priority (raw SQL entry point + EXISTS subquery) ---------------

Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape, run through the engine's SQL entry point
    (``register_views`` + ``spark.sql`` — the same ANSI text the DuckDB
    oracle runs). The correlated EXISTS plans as a left SEMI join on
    l_orderkey with the l_shipdate > o_orderdate correlation as a join
    residual: lineitem is never widened or aggregated, the semi join
    short-circuits on first match, and the date filter prunes orders at
    the scan before the shuffle."""
    from psd_project_spark.sources.registry import register_views

    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(Q4_SQL)


# --- full outer join ----------------------------------------------------------

def nation_accounts_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer vs supplier account balances via FULL OUTER
    join — keeps nations that have only customers or only suppliers
    (the rows inner/left would drop). Both sides pre-aggregate to one
    row per nation BEFORE the join, so the full-outer matches tiny
    inputs regardless of the base tables' size — aggregate-then-join
    is the shape that scales, join-then-aggregate is not."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(exact_sum(F.col("c_acctbal")), 6).alias("cust_balance"),
        )
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(exact_sum(F.col("s_acctbal")), 6).alias("supp_balance"),
        )
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("cust_balance"), F.lit(0.0)).alias("cust_balance"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
            F.coalesce(F.col("supp_balance"), F.lit(0.0)).alias("supp_balance"),
        )
    )


FULL_OUTER_ORACLE = f"""
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_customers,
         {round_sql(exact_sum_sql("c_acctbal"), 6)} AS cust_balance
  FROM customer GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
         {round_sql(exact_sum_sql("s_acctbal"), 6)} AS supp_balance
  FROM supplier GROUP BY s_nationkey
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(cust_balance, 0.0) AS cust_balance,
       coalesce(n_suppliers, 0) AS n_suppliers,
       coalesce(supp_balance, 0.0) AS supp_balance
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


# --- distribution windows (ntile / percent_rank / cume_dist) ------------------

def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: decile (ntile), percent_rank and
    cume_dist of each order's total price within its priority class,
    rolled up to per-(priority, decile) stats. One shuffle on the
    partition key; ties broken by o_orderkey so every engine ranks
    identically."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy("o_orderpriority", "decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(exact_sum(F.col("o_totalprice")), 6).alias("total_price"),
        F.round(F.max("pr"), 6).alias("max_percent_rank"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )


DECILES_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ntile(10) OVER w AS decile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey)
)
SELECT o_orderpriority, decile, count(*) AS n_orders,
       {round_sql(exact_sum_sql("o_totalprice"), 6)} AS total_price,
       {round_sql("max(pr)", 6)} AS max_percent_rank,
       {round_sql("max(cd)", 6)} AS max_cume_dist
FROM ranked
GROUP BY o_orderpriority, decile
"""


# --- TPC-H Q3 shape (join → agg → global top-k) ------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: segment-filtered customers ⋈
    orders ⋈ lineitem, revenue per order, global top-10. customer is
    broadcast after its segment filter; the orders date filter is
    pushed to the scan; the final top-k is a TakeOrderedAndProject
    (per-partition heap + driver merge of 10 rows — no global sort
    materialization, the only top-k that works at 100 TB).
    (Reference has no joins — SURVEY.md §2.9 extension surface.)"""
    cutoff = "1997-06-30"
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(exact_sum(rev), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_ORACLE = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {round_sql(exact_sum_sql("l_extendedprice * (1 - l_discount)"), 6)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-30 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# --- lead/lag (inter-row deltas) ---------------------------------------------

def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer via ``lag``, rolled
    up to per-customer gap statistics. One shuffle on o_custkey serves
    both the window and the groupBy (same key ⇒ Catalyst reuses the
    partitioning, no second exchange)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_days"), 6).alias("avg_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


ORDER_GAPS_ORACLE = f"""
WITH gaps AS (
  SELECT o_custkey,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders
)
SELECT o_custkey, count(*) AS n_gaps,
       {round_sql("avg(gap_days)", 6)} AS avg_gap_days,
       max(gap_days) AS max_gap_days
FROM gaps
WHERE gap_days IS NOT NULL
GROUP BY o_custkey
"""


# --- RANGE-frame window (time-based trailing aggregate) ----------------------

_HOUR_NS = 3_600_000_000_000


def trailing_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: count and value-sum of the same user's events in the
    trailing hour (inclusive) — a RANGE frame over the µs-aligned
    nanosecond epoch. Value-based frames are what time-series rollups
    need when events are irregularly spaced; one shuffle on user_id,
    frame bounds evaluated by binary search per partition (no
    self-join, no interval explosion)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns")
        .rangeBetween(-_HOUR_NS, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.round(exact_sum(F.col("value"), over=w), 6).alias("value_1h"),
    )


TRAILING_HOUR_ORACLE = f"""
WITH e AS (
  SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, value FROM events
)
SELECT user_id, event_id,
       count(*) OVER w AS n_events_1h,
       {round_sql(exact_sum_sql("value", over="w"), 6)}
         AS value_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns
             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
"""


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_ORACLE),
    "nation_accounts_full_outer": (nation_accounts_full_outer, FULL_OUTER_ORACLE),
    "order_value_deciles": (order_value_deciles, DECILES_ORACLE),
    "q3_shipping_priority": (q3_shipping_priority, Q3_ORACLE),
    "customer_order_gaps": (customer_order_gaps, ORDER_GAPS_ORACLE),
    "trailing_hour_user_value": (trailing_hour_user_value, TRAILING_HOUR_ORACLE),
    "q4_order_priority": (q4_order_priority, Q4_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_ORACLE),
    "q5_local_supplier_volume": (q5_local_supplier_volume, Q5_ORACLE),
    "top_orders_by_revenue": (top_orders_by_revenue, TOP_ORDERS_ORACLE),
    "region_nation_rollup": (region_nation_rollup, ROLLUP_ORACLE),
    "cube_orders": (cube_orders, CUBE_ORACLE),
    "customers_without_orders": (customers_without_orders, ANTI_ORACLE),
    "big_spenders_semi": (big_spenders_semi, SEMI_ORACLE),
    "nation_set_ops": (nation_set_ops, SET_OPS_ORACLE),
    "top3_cheapest_per_flag": (top3_cheapest_per_flag, TOP3_ORACLE),
    "running_user_spend": (running_user_spend, RUNNING_ORACLE),
    "purchases_asof_views": (purchases_asof_views, ASOF_ORACLE),
    "sessionize_events": (sessionize_events, SESSIONIZE_ORACLE),
    "grouping_sets_orders": (grouping_sets_orders, GROUPING_SETS_ORACLE),
    "pivot_status_totals": (pivot_status_totals, PIVOT_ORACLE),
    "latest_event_per_user": (latest_event_per_user, LATEST_EVENT_ORACLE),
    "views_before_purchase": (views_before_purchase, VIEWS_BEFORE_PURCHASE_ORACLE),
}
