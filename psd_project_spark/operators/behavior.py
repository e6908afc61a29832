"""Event-behavior analytics: windowed top-k and transition mining.

- ``hourly_top_spenders``: per-hour top-3 users by spend — the
  grouped-agg → ranking-window → filter shape. One shuffle for the
  aggregate, one for the rank partition; deterministic ties
  (user_id ascending).
- ``event_transitions``: first-order Markov transition counts over
  each user's event sequence (``lag`` over (user, time)), with the
  per-source total carried so downstream can form exact rational
  probabilities. The sequence shuffle is keyed by user; counts are a
  map-side-combined aggregate over (prev, next).
- ``compression_ratio``: zlib-compressibility per document — the
  classic repetition/quality signal (highly repetitive text
  compresses far below typical prose). Arrow-batched ``mapInPandas``;
  DuckDB has no zlib, so this entry ships without an oracle (the
  driver records a rows-only check) and its semantics are pinned by
  ``tests/test_properties.py`` invariants instead.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table


# --- hourly_top_spenders -----------------------------------------------------

def hourly_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3 users by total purchase value within every hour."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
        )
        .agg(F.round(exact_sum(F.col("value")), 6).alias("spend"))
    )
    w = Window.partitionBy("hour").orderBy(
        F.col("spend").desc(), F.col("user_id")
    )
    return (
        hourly.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("hour", "rank", "user_id", "spend")
    )


TOP_SPENDERS_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, user_id,
         {round_sql(exact_sum_sql("value"), 6)} AS spend
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT hour, CAST(rank AS INT) AS rank, user_id, spend
FROM (
  SELECT hour, user_id, spend,
         row_number() OVER (PARTITION BY hour
                            ORDER BY spend DESC, user_id) AS rank
  FROM hourly
)
WHERE rank <= 3
"""


# --- event_transitions -------------------------------------------------------

def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prev_type → event_type) transition counts across all users,
    with the per-source total for exact transition probabilities."""
    e = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(seq))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(
        F.sum("n").alias("n_from_prev")
    )
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n",
            "n_from_prev",
            (F.col("n") / F.col("n_from_prev")).alias("p_transition"),
        )
        .orderBy("prev_type", "event_type")
    )


TRANSITIONS_ORACLE = """
WITH seqd AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_ns(ts), event_id) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type, count(*) AS n
  FROM seqd WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from_prev FROM pairs GROUP BY 1
)
SELECT p.prev_type, p.event_type, p.n, t.n_from_prev,
       p.n / t.n_from_prev AS p_transition
FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
ORDER BY p.prev_type, p.event_type
"""


# --- compression_ratio -------------------------------------------------------

_CR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("n_compressed", IntegerType()),
        StructField("compression_ratio", DoubleType()),
    ]
)


def _cr_kernel(batches):
    for pdf in batches:
        raw = [t.encode("utf-8") for t in pdf["text"]]
        comp = [len(zlib.compress(b, 6)) for b in raw]
        n = [len(b) for b in raw]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "n_bytes": n,
                "n_compressed": comp,
                "compression_ratio": [
                    (c / b if b else 0.0) for c, b in zip(comp, n)
                ],
            }
        )


def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-level-6 compressed size / raw size per document (lower =
    more repetitive). DuckDB has no zlib, so the oracle joins a
    content-addressed fixture (md5(text) → n_compressed, regenerated by
    tools/gen_zlib_fixture.py and freshness-pinned in
    tests/test_properties.py) — raw lengths and the ratio division are
    recomputed live in SQL."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(_cr_kernel, schema=_CR_SCHEMA)


#: Content-addressed zlib sizes for the oracle (see gen_zlib_fixture).
_ZLIB_FIXTURE = "/root/repo/tests/fixtures/zlib_by_md5.parquet"

COMPRESSION_RATIO_ORACLE = f"""
SELECT d.doc_id,
  CAST(octet_length(encode(d.text)) AS INT) AS n_bytes,
  CAST(f.n_compressed AS INT) AS n_compressed,
  CASE WHEN octet_length(encode(d.text)) = 0 THEN 0.0
       ELSE CAST(f.n_compressed AS DOUBLE) / octet_length(encode(d.text))
  END AS compression_ratio
FROM documents d
JOIN '{_ZLIB_FIXTURE}' f ON md5(d.text) = f.text_md5
"""


# --- rolling_dau -------------------------------------------------------------

def rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day distinct active users — the canonical
    engagement metric, and the canonical distinct-over-sliding-window
    trap: COUNT(DISTINCT) cannot ride a window frame, and a naive
    day×events range join is a nested-loop product.

    Shape chosen for scale: dedup to (day, user) pairs first (the only
    wide shuffle, on a shrinking input), then *fan out* each pair to
    the ≤7 window-days it contributes to via ``explode(sequence(...))``
    — a pure map-side 7× expansion that turns the range join into an
    equi-groupBy on window_day. Exact COUNT(DISTINCT) per day then
    shuffles (day, user) once more. At 100 TB the exact tail (billions
    of users/day) swaps to per-day HLL sketches merged over the 7-day
    window — same fan-out shape, approximate merge (documented, not
    needed at test SF).
    """
    pairs = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
        .distinct()
    )
    daily = pairs.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    fanned = pairs.select(
        F.explode(
            F.expr("sequence(day, day + INTERVAL 6 DAYS, INTERVAL 1 DAY)")
        ).alias("window_day"),
        "user_id",
    )
    rolling = (
        fanned.join(
            F.broadcast(daily.select(F.col("day").alias("window_day"))),
            "window_day",
            "left_semi",
        )
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").alias("dau_7d"))
    )
    return (
        daily.join(rolling, daily["day"] == rolling["window_day"])
        .select("day", "dau", "dau_7d")
        .orderBy("day")
    )


ROLLING_DAU_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
  FROM events
), daily AS (
  SELECT day, count(DISTINCT user_id) AS dau FROM pairs GROUP BY 1
), rolling AS (
  SELECT d.day AS window_day, count(DISTINCT p.user_id) AS dau_7d
  FROM daily d
  JOIN pairs p ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY 1
)
SELECT CAST(day AS TIMESTAMP) AS day, dau, dau_7d
FROM daily JOIN rolling ON day = window_day
ORDER BY day
"""


# --- nearest_view_lag (cogrouped applyInPandas) ------------------------------

#: Max |purchase − view| distance considered a match (1 h, in ns).
_NV_TOL_NS = 3_600_000_000_000

_NV_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_purchases", LongType()),
        StructField("n_matched", LongType()),
        StructField("sum_lag_ns", LongType()),
    ]
)


def _nv_kernel(key, purchases: pd.DataFrame, views: pd.DataFrame) -> pd.DataFrame:
    """Per user: align each purchase to its nearest view within 1 h
    (ties: the earlier view wins) via sorted searchsorted — O((p+v)·log v),
    no pairwise product. Output is integer-only (counts + signed ns lag
    sum), so there is no float rounding anywhere in this operator."""
    import numpy as np

    if len(purchases) == 0:
        return pd.DataFrame(columns=_NV_SCHEMA.fieldNames()).astype("int64")
    tp = purchases["ts_ns"].to_numpy(dtype="int64")
    tv = np.sort(views["ts_ns"].to_numpy(dtype="int64"))
    n_matched = 0
    sum_lag = 0
    if len(tv):
        idx = np.searchsorted(tv, tp)
        prev_i = np.clip(idx - 1, 0, len(tv) - 1)
        next_i = np.clip(idx, 0, len(tv) - 1)
        prev_d = np.where(idx > 0, tp - tv[prev_i], np.iinfo("int64").max)
        next_d = np.where(idx < len(tv), tv[next_i] - tp, np.iinfo("int64").max)
        take_prev = prev_d <= next_d
        best = np.where(take_prev, tv[prev_i], tv[next_i])
        dist = np.where(take_prev, prev_d, next_d)
        ok = dist <= _NV_TOL_NS
        n_matched = int(ok.sum())
        sum_lag = int((tp[ok] - best[ok]).sum())
    return pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_purchases": [len(tp)],
            "n_matched": [n_matched],
            "sum_lag_ns": [sum_lag],
        }
    )


def nearest_view_lag_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-``applyInPandas`` form of :func:`nearest_view_lag` —
    kept as the engine's cogroup surface and as a differential oracle
    for the JVM-side registry form (tests/test_behavior_differential.py).
    Per-key Python invocation makes it ~4× slower than the windowed
    plan at sf0.1, which is why it is no longer the registry entry."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_ns"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts_ns")
    out = (
        purchases.groupBy("user_id")
        .cogroup(views.groupBy("user_id"))
        .applyInPandas(_nv_kernel, schema=_NV_SCHEMA)
    )
    return out.orderBy("user_id")


#: Sentinel distance for "no view on this side" — far above any real
#: ns gap, far below int64 overflow when compared/negated.
_NV_FAR_NS = 1 << 62


def nearest_view_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: each purchase aligned to the nearest view within 1 h —
    the attribution-style nearest-in-time join that neither equi-joins
    nor as-of joins (which only look one direction) express.

    Pure-JVM plan: union both event subsets into one per-user stream
    ordered by ``(ts_ns, is_view)`` (views sort AFTER purchases at equal
    timestamps), then a single window pass computes, for every purchase,
    the previous view (strictly earlier, ``last ignorenulls`` over
    preceding rows) and the next view (same-or-later, ``first
    ignorenulls`` over following rows). Integer comparisons pick the
    nearer side — ties go to the earlier view — so the output is pure
    integers and bit-identical to the DuckDB oracle with no float
    convention. One shuffle on ``user_id``; the trailing groupBy reuses
    the window's hash partitioning, so no second exchange. At 100 TB the
    state per task is one sort run, not one user's events in Python —
    this replaced a cogrouped-pandas kernel whose per-key Python
    invocation dominated (6.4 s → JVM-side, see BENCH.md)."""
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("purchase", "view")).select(
        "user_id",
        "ts_ns",
        (F.col("event_type") == "view").cast("int").alias("is_view"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "is_view")
    view_ts = F.when(F.col("is_view") == 1, F.col("ts_ns"))
    prev_view = F.last(view_ts, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_view = F.first(view_ts, ignorenulls=True).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_d = F.coalesce(F.col("ts_ns") - prev_view, F.lit(_NV_FAR_NS))
    next_d = F.coalesce(next_view - F.col("ts_ns"), F.lit(_NV_FAR_NS))
    purchases = (
        s.withColumn("prev_d", prev_d)
        .withColumn("next_d", next_d)
        .filter(F.col("is_view") == 0)
        .withColumn("dist", F.least("prev_d", "next_d"))
        # signed lag tp - tv: +prev_d when the earlier view wins the
        # tie-or-nearer test, else -(next_d)
        .withColumn(
            "lag_ns",
            F.when(F.col("prev_d") <= F.col("next_d"), F.col("prev_d")).otherwise(
                -F.col("next_d")
            ),
        )
        .withColumn("matched", (F.col("dist") <= F.lit(_NV_TOL_NS)).cast("long"))
    )
    out = purchases.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("matched").alias("n_matched"),
        F.sum(
            F.when(F.col("matched") == 1, F.col("lag_ns")).otherwise(F.lit(0))
        ).alias("sum_lag_ns"),
    )
    return out.orderBy("user_id")


NEAREST_VIEW_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tp FROM events
  WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, epoch_ns(ts) AS tv FROM events WHERE event_type = 'view'
), cand AS (
  SELECT p.user_id, p.event_id, tp, tv,
         row_number() OVER (
           PARTITION BY p.user_id, p.event_id
           ORDER BY abs(tp - tv), tv
         ) AS rn
  FROM p JOIN v ON p.user_id = v.user_id
  WHERE abs(tp - tv) <= {_NV_TOL_NS}
), best AS (
  SELECT user_id, tp - tv AS lag_ns FROM cand WHERE rn = 1
), per_user AS (
  SELECT user_id, count(*) AS n_purchases FROM p GROUP BY 1
)
SELECT pu.user_id, pu.n_purchases,
       coalesce(b.n_matched, 0) AS n_matched,
       CAST(coalesce(b.sum_lag_ns, 0) AS BIGINT) AS sum_lag_ns
FROM per_user pu
LEFT JOIN (
  SELECT user_id, count(*) AS n_matched, sum(lag_ns) AS sum_lag_ns
  FROM best GROUP BY 1
) b USING (user_id)
ORDER BY pu.user_id
"""


# --- retention_cohorts -------------------------------------------------------

def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle over orders: customers grouped
    by first-order month, counted again in each subsequent month they
    ordered (months_since 0, 1, 2, …).

    Shape: one aggregate to (customer, month) activity, one more for
    each customer's cohort month (min over the first — input already
    collapsed), a join back on o_custkey, and the final (cohort, age)
    count — every shuffle is on a key that only shrinks. The cohort
    frame is customer-cardinality (unbounded at 100 TB), so NO
    broadcast hint: both sides are already hash-partitioned on
    o_custkey from their aggregates, making the sort-merge join
    exchange-free, and AQE may still choose broadcast at small SF.
    months_since via integer month arithmetic (no date subtraction
    float), so parity is exact.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("int")
        .alias("m"),
    )
    active = o.distinct()
    cohort = active.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    return (
        active.join(cohort, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (F.col("m") - F.col("m0")).alias("months_since"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("cohort_month", "months_since")
    )


RETENTION_ORACLE = """
WITH active AS (
  SELECT DISTINCT o_custkey,
    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m
  FROM orders
), cohort AS (
  SELECT o_custkey, min(m) AS m0 FROM active GROUP BY 1
)
SELECT m0 AS cohort_month, m - m0 AS months_since,
       count(DISTINCT active.o_custkey) AS n_customers
FROM active JOIN cohort USING (o_custkey)
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "hourly_top_spenders": (hourly_top_spenders, TOP_SPENDERS_ORACLE),
    "rolling_dau": (rolling_dau, ROLLING_DAU_ORACLE),
    "nearest_view_lag": (nearest_view_lag, NEAREST_VIEW_ORACLE),
    "retention_cohorts": (retention_cohorts, RETENTION_ORACLE),
    "event_transitions": (event_transitions, TRANSITIONS_ORACLE),
    "compression_ratio": (compression_ratio, COMPRESSION_RATIO_ORACLE),
}
