"""Time-series resampling and the partitioned-parquet write path.

- ``resample_ffill``: per-user hourly resampling with forward fill —
  the gap-filling operator every time-series store has and Spark
  doesn't ship natively. Built entirely from relational pieces:
  hour-bucket grid via ``sequence`` + ``explode`` (no driver loop),
  last-observation-per-bucket via a ranking window, forward fill via
  ``last(value, ignorenulls=True)`` over an unbounded-preceding frame.
  Everything is keyed by ``user_id`` — one shuffle key end-to-end;
  the grid fan-out is partition-local. At 100 TB the grid stays
  bounded by (keys × buckets), never by event count.
- ``partitioned_parquet_roundtrip``: the write path — a Hive-style
  ``partitionBy`` parquet sink written to local disk and read back
  through a partition-pruned scan (only the ``l_returnflag=R``
  directory is touched; the pruning is asserted by
  tests/test_plan_shapes.py). Oracle = the same aggregate computed
  directly on the source table, proving the sink round-trips values
  and schema losslessly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psd_project_spark.functions.caching import cache_dir
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table


# --- resample_ffill ----------------------------------------------------------

def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user grid from each user's first to last event hour,
    carrying the last observed ``value`` forward into empty hours."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts_ns",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    )
    grid = (
        e.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(h0, h1, interval 1 hour)")
            ).alias("hour"),
        )
    )
    last_per_hour = (
        e.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "hour").orderBy(
                    F.col("ts_ns").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", "value")
    )
    ffill = Window.partitionBy("user_id").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        grid.join(last_per_hour, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("value", ignorenulls=True).over(ffill).alias("value_ffill"),
            F.col("value").isNotNull().cast("int").alias("is_observed"),
        )
    )
    return out


RESAMPLE_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, value
  FROM events
),
b AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM e GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b
),
hl AS (
  SELECT user_id, hour, value FROM (
    SELECT user_id, hour, value,
           row_number() OVER (PARTITION BY user_id, hour
                              ORDER BY ts_ns DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1
)
SELECT g.user_id, g.hour,
       last_value(hl.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       CAST(hl.value IS NOT NULL AS INT) AS is_observed
FROM grid g LEFT JOIN hl ON g.user_id = hl.user_id AND g.hour = hl.hour
"""


# --- partitioned_parquet_roundtrip ------------------------------------------

def _sink_dir(sf_dir: str) -> str:
    return cache_dir(sf_dir, "lineitem", "lineitem_by_flag")


def partitioned_parquet_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write lineitem Hive-partitioned by returnflag, read the 'R'
    partition back (pruned scan), and aggregate it by linestatus."""
    path = _sink_dir(sf_dir)
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_returnflag",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    out = (
        back.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                exact_sum(F.col("l_extendedprice")), 6
            ).alias("sum_price"),
            F.round(exact_sum(F.col("l_quantity")), 6).alias("sum_qty"),
        )
        .orderBy("l_linestatus")
    )
    return out


ROUNDTRIP_ORACLE = f"""
SELECT l_linestatus, count(*) AS n_lines,
       {round_sql(exact_sum_sql("l_extendedprice"), 6)} AS sum_price,
       {round_sql(exact_sum_sql("l_quantity"), 6)} AS sum_qty
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --- ewma_user_value ---------------------------------------------------------

#: EWMA depth and decay. Decay 1/2 is deliberate: every weight 2^-k is
#: an exact dyadic double, so the only rounding in the whole feature is
#: the per-term multiply and the fixed left-to-right sum — bit-identical
#: across engines (no pow(), no libm).
EWMA_DEPTH = 8


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event exponentially-weighted moving average of ``value`` over
    each user's last 8 events — the standard rolling feature of an ML
    feature pipeline (recency-weighted activity level).

    Written as an explicit chain of ``lag`` terms over one
    (user, time)-ordered window rather than collect_list+HOF: the sum
    order is fixed by the expression text, every weight is a dyadic
    literal, and partial windows renormalize by the weights actually
    present. One shuffle on ``user_id``; the window is evaluated inside
    whole-stage codegen with no array materialization at all.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_ns", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    num = None
    den = None
    for k in range(EWMA_DEPTH):
        wk = F.lit(0.5**k)
        vk = F.lag("value", k).over(w) if k else F.col("value")
        term = F.coalesce(vk, F.lit(0.0)) * wk
        mask = F.when(vk.isNotNull(), wk).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = mask if den is None else den + mask
    return e.select(
        "event_id",
        "user_id",
        "ts_ns",
        "value",
        F.round(num / den, 6).alias("ewma8"),
    )


def _ewma_oracle() -> str:
    terms = " + ".join(
        (
            f"coalesce(lag(value, {k}) OVER w, 0.0) * {0.5 ** k!r}"
            if k
            else "value * 1.0"
        )
        for k in range(EWMA_DEPTH)
    )
    masks = " + ".join(
        (
            f"(CASE WHEN lag(value, {k}) OVER w IS NOT NULL"
            f" THEN {0.5 ** k!r} ELSE 0.0 END)"
            if k
            else "1.0"
        )
        for k in range(EWMA_DEPTH)
    )
    return f"""
SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, value,
       {round_sql(f"({terms}) / ({masks})", 6)} AS ewma8
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
"""


QUERIES = {
    "resample_ffill": (resample_ffill, RESAMPLE_ORACLE),
    "ewma_user_value": (ewma_user_value, _ewma_oracle()),
    "partitioned_parquet_roundtrip": (
        partitioned_parquet_roundtrip,
        ROUNDTRIP_ORACLE,
    ),
}
