"""The reference's risk-measure surface as batch queries over testdata.

Query names map to SURVEY.md §2 operator IDs:

- ``measures_agg``        — A-M1..M6 in plain ``agg()`` form (§2.7
  population path; flagship, SURVEY.md §7 M0) over
  ``lineitem.l_extendedprice`` grouped by ``l_returnflag``.
- ``measures_window``     — W1–W3 + A-M1..M6: sliding count window
  (size 30, slide 1) keyed by ``events.user_id``, ordered by arrival.
- ``alerts_batch``        — the full pipeline P1..P4 + S3: windowed
  measures, long-form unpivot, broadcast join to the reference-stats
  table, alert predicate (ref−m)/(1+ref) ≥ threshold
  (reference StreamingJob.java:369-386).
- ``alert_counts``        — A3 zero-preserving (measure × series) grid
  (reference postProcessing/countWarnings.py:15-30).
- ``portfolio_projection``— P1 weighted linear combination
  (reference StreamingJob.java:174-180).
- ``value_histogram``     — A4 fixed 10-bin histogram
  (reference postProcessing/distributions.py:24-47).

Each ``*_oracle`` SQL string computes the identical result in DuckDB.
The stats side-table is derived from the same data (population measures
per series — mirroring how dataGeneration/psd.R:29-68 derives
``stats.csv`` from the full sample), so the whole pipeline stays
deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.config import DEFAULT_CONFIG, MEASURES
from psd_project_spark.functions.exact import round_sql
from psd_project_spark.functions.measures import (
    grouped_measures,
    grouped_measures_oracle_sql,
    measures_to_long,
    windowed_measures,
)
from psd_project_spark.sources.registry import load_table

WINDOW = DEFAULT_CONFIG.window_size
THRESH = DEFAULT_CONFIG.alert_threshold
MDIGITS = DEFAULT_CONFIG.measure_round_digits


# --- measures_agg (flagship) -------------------------------------------------

def measures_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return grouped_measures(lineitem, ["l_returnflag"], "l_extendedprice", digits=6)


MEASURES_AGG_ORACLE = grouped_measures_oracle_sql(
    "lineitem", ["l_returnflag"], "l_extendedprice", digits=6
)


# --- measures_window ---------------------------------------------------------
# events stands in for the sample stream: key=user_id (the "portfolio"),
# order=event_id (arrival), value=value (FIXTURES.md F5 mapping).

def measures_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return windowed_measures(
        events,
        key_cols=["user_id"],
        order_col="event_id",
        value_col="value",
        window_size=WINDOW,
        digits=MDIGITS,
    )


def _measures_window_oracle(digits: int = MDIGITS) -> str:
    n = WINDOW
    # DuckDB mirror: list() over the same 30-row frame, then list lambdas.
    # Sum order inside a window matches Spark's sorted-array aggregation
    # (ascending), so doubles agree to rounding precision.
    return f"""
WITH seqd AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
  FROM events
), win AS (
  SELECT user_id, seq,
         list_sort(list(value) OVER (
           PARTITION BY user_id ORDER BY seq
           ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)) AS l
  FROM seqd
), m AS (
  SELECT user_id, seq, l,
         list_aggregate(l, 'sum') / {n} AS mean
  FROM win WHERE len(l) = {n}
)
SELECT user_id, seq,
  {round_sql("mean", digits)} AS mean,
  {round_sql(f"(l[{n // 2}] + l[{n // 2 + 1}]) / 2", digits)} AS median,
  {round_sql(f"l[{n // 10 + 1}]", digits)} AS q10,
  {round_sql("(l[1] + l[2] + l[3]) / 3", digits)} AS tail_mean,
  {round_sql("mean - list_aggregate(list_transform(l, x -> abs(x - mean)), 'sum')"
             f" / {2 * n}", digits)} AS sm1,
  {round_sql("mean - list_aggregate( list_transform(generate_series(1, "
             f"{n}), i -> (2 * i - {n + 1}) * l[i]), 'sum') / {n * n}", digits)} AS sm2
FROM m
"""


MEASURES_WINDOW_ORACLE = _measures_window_oracle()


def measures_window_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as ``measures_window`` through the numpy scale path
    (functions/measures_np.py): applyInPandas sliding windows instead
    of interpreted HOF folds. Shares the oracle with the HOF form."""
    from psd_project_spark.functions.measures_np import windowed_measures_np

    events = load_table(spark, sf_dir, "events")
    return windowed_measures_np(
        events,
        key_cols=["user_id"],
        order_col="event_id",
        value_col="value",
        window_size=WINDOW,
        digits=MDIGITS,
    )


# --- alerts_batch ------------------------------------------------------------

def reference_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population measures per series (the F2 ``stats`` analog), long form."""
    events = load_table(spark, sf_dir, "events")
    wide = grouped_measures(events, ["user_id"], "value", digits=MDIGITS)
    return measures_to_long(wide, ["user_id"]).withColumnRenamed(
        "value", "ref_value"
    )


def alerts_from_measures(measures: DataFrame, sf_dir: str) -> DataFrame:
    """Wide windowed measures (``user_id``, ``seq``, one column per
    measure) → alert rows: long form, broadcast join to the reference
    stats, the predicate (ref−m)/(1+ref) ≥ threshold — the one alert
    definition the batch (:func:`alerts_batch`) and streaming
    (``jobs.alerts_stream``) pipelines share.

    The stats table is 6 × |series| rows — broadcast join, never a
    shuffle (reference S3's positional array lookup, SURVEY.md §2.1).
    """
    long = measures_to_long(measures, ["user_id", "seq"])
    stats = reference_stats(measures.sparkSession, sf_dir)
    joined = long.join(
        F.broadcast(stats), on=["user_id", "measure"], how="inner"
    )
    alert = joined.filter(
        (F.col("value") < F.col("ref_value"))
        & (
            (F.col("ref_value") - F.col("value"))
            / (F.lit(1.0) + F.col("ref_value"))
            >= F.lit(THRESH)
        )
    )
    return alert.select(
        "user_id",
        "seq",
        "measure",
        F.col("value").alias("measure_value"),
        "ref_value",
    )


def alerts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed measures vs broadcast reference stats → alert rows."""
    return alerts_from_measures(measures_window(spark, sf_dir), sf_dir)


def _alerts_oracle() -> str:
    win = MEASURES_WINDOW_ORACLE
    stats = grouped_measures_oracle_sql("events", ["user_id"], "value", digits=MDIGITS)
    return f"""
WITH win_m AS ({win}),
stats_w AS ({stats}),
long_m AS (
  SELECT user_id, seq, m.measure, m.value
  FROM win_m,
  LATERAL (VALUES ('mean', mean), ('median', median), ('q10', q10),
                  ('tail_mean', tail_mean), ('sm1', sm1), ('sm2', sm2))
    AS m(measure, value)
),
stats_l AS (
  SELECT user_id, s.measure, s.ref_value
  FROM stats_w,
  LATERAL (VALUES ('mean', mean), ('median', median), ('q10', q10),
                  ('tail_mean', tail_mean), ('sm1', sm1), ('sm2', sm2))
    AS s(measure, ref_value)
)
SELECT l.user_id, l.seq, l.measure,
       l.value AS measure_value, s.ref_value
FROM long_m l JOIN stats_l s
  ON l.user_id = s.user_id AND l.measure = s.measure
WHERE l.value < s.ref_value
  AND (s.ref_value - l.value) / (1.0 + s.ref_value) >= {THRESH}
"""


# --- alert_counts (A3) -------------------------------------------------------

def alert_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-preserving (measure × series) alert-count grid."""
    alerts = alerts_batch(spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    series = events.select("user_id").distinct()
    measures_dim = spark.createDataFrame(
        [(m,) for m in MEASURES], "measure string"
    )
    grid = series.crossJoin(F.broadcast(measures_dim))
    counts = alerts.groupBy("user_id", "measure").agg(
        F.count(F.lit(1)).alias("n_alerts")
    )
    return (
        grid.join(counts, ["user_id", "measure"], "left")
        .withColumn("n_alerts", F.coalesce(F.col("n_alerts"), F.lit(0)))
        .select("user_id", "measure", "n_alerts")
    )


def _alert_counts_oracle() -> str:
    return f"""
WITH alerts AS ({_alerts_oracle()}),
grid AS (
  SELECT DISTINCT e.user_id, m.measure
  FROM events e, (VALUES ('mean'), ('median'), ('q10'),
                         ('tail_mean'), ('sm1'), ('sm2')) AS m(measure)
)
SELECT g.user_id, g.measure,
       coalesce(c.n_alerts, 0) AS n_alerts
FROM grid g
LEFT JOIN (
  SELECT user_id, measure, count(*) AS n_alerts
  FROM alerts GROUP BY user_id, measure
) c ON g.user_id = c.user_id AND g.measure = c.measure
"""


# --- portfolio_projection (P1) ----------------------------------------------
# The reference's weighted portfolio column over 6 return series
# (StreamingJob.java:174-180). lineitem's numeric columns stand in for
# the six series; weights from EngineConfig.

def portfolio_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = DEFAULT_CONFIG.weights
    lineitem = load_table(spark, sf_dir, "lineitem")
    cols = [
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_partkey",
        "l_suppkey",
    ]
    combo = sum(
        (F.col(c).cast("double") * F.lit(wi) for c, wi in zip(cols, w)),
        F.lit(0.0),
    )
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.round(combo, 6).alias("portfolio_value"),
    )


PORTFOLIO_ORACLE = f"""
SELECT l_orderkey, l_linenumber,
       {round_sql(
           "0.0 + CAST(l_quantity AS DOUBLE) * 0.2"
           " + CAST(l_extendedprice AS DOUBLE) * 0.2"
           " + CAST(l_discount AS DOUBLE) * 0.2"
           " + CAST(l_tax AS DOUBLE) * 0.15"
           " + CAST(l_partkey AS DOUBLE) * 0.15"
           " + CAST(l_suppkey AS DOUBLE) * 0.1", 6
       )} AS portfolio_value
FROM lineitem
"""


# --- value_histogram (A4) ----------------------------------------------------
# Fixed bounds → bucket edges are identical doubles in both engines.

HIST_LO, HIST_HI, HIST_BINS = 0.0, 200.0, 10


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    width = (HIST_HI - HIST_LO) / HIST_BINS
    bucket = F.least(
        F.greatest(
            F.floor((F.col("value") - F.lit(HIST_LO)) / F.lit(width)), F.lit(0)
        ),
        F.lit(HIST_BINS - 1),
    )
    return (
        events.withColumn("bucket", bucket.cast("int"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


VALUE_HISTOGRAM_ORACLE = f"""
SELECT event_type,
       CAST(least(greatest(floor((value - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BINS}), 0), {HIST_BINS - 1}) AS INT) AS bucket,
       count(*) AS n
FROM events
GROUP BY 1, 2
"""


QUERIES = {
    "measures_agg": (measures_agg, MEASURES_AGG_ORACLE),
    "measures_window": (measures_window, MEASURES_WINDOW_ORACLE),
    "measures_window_np": (measures_window_np, MEASURES_WINDOW_ORACLE),
    "alerts_batch": (alerts_batch, _alerts_oracle()),
    "alert_counts": (alert_counts, _alert_counts_oracle()),
    "portfolio_projection": (portfolio_projection, PORTFOLIO_ORACLE),
    "value_histogram": (value_histogram, VALUE_HISTOGRAM_ORACLE),
}
