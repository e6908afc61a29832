"""Skew mitigation: salted two-phase aggregation.

At 100 TB a handful of hot keys (here: 5 event types over ~10⁹ events)
concentrate a groupBy's rows onto a handful of reducers. Two levers,
both demonstrated here with an exact-parity oracle:

- **Salting** — aggregate on (key, salt) first (the salt spreads each
  hot key over ``N_SALT`` reducers), then combine the partials on the
  bare key. Algebraic aggregates (count/sum/min/max) compose exactly;
  decimal accumulation keeps the re-association bit-identical. Note
  Spark's hash aggregation already does map-side partial combine, which
  covers *input* skew; the salt matters when the combine can't shrink
  the payload — exact distinct, collect_list-style aggregates — or
  when AQE skew-split isn't available (it only splits join sides, not
  aggregation state).
- **Dedup-then-count** — exact COUNT(DISTINCT) on a hot key is the
  classic straggler; groupBy(key, member) first (uniformly
  distributed), then count per key. Same trick Catalyst applies
  internally via Expand, written out explicitly so the shape is
  auditable.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin`) is the third
lever and is exercised implicitly by every join query (session default
on); salting remains the manual fallback for aggregation skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions.exact import DEC, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table

#: Salt fan-out per hot key. Sized to the reducer count that should
#: share one hot key's load; 16 spreads a 20%-of-all-rows key over 16
#: reducers at the cost of a 16×|keys| second-phase shuffle (trivial).
N_SALT = 16


def salted_agg(df: DataFrame, key: str, salt_src: str) -> DataFrame:
    """Two-phase salted aggregation of count/sum(value) per ``key``,
    salting by ``pmod(salt_src, N_SALT)`` (deterministic — oracle-safe;
    production would use a uniform hash of any high-card column)."""
    partial = (
        df.withColumn("_salt", F.pmod(F.col(salt_src), F.lit(N_SALT)))
        .groupBy(key, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("value").cast(DEC)).alias("_sum"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("_n").alias("n_events"),
        F.round(F.sum("_sum").cast("double"), 6).alias("sum_value"),
    )


def salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals + exact distinct users, both via the
    skew-resistant two-phase shapes (salted algebraic agg;
    dedup-then-count distinct). Oracle is the direct single-phase
    query — results must be bit-identical."""
    e = load_table(spark, sf_dir, "events")
    totals = salted_agg(e, "event_type", "event_id")
    users = (
        e.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_per_user"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.max("_per_user").alias("max_events_per_user"),
        )
    )
    return totals.join(users, "event_type")


SALTED_ORACLE = f"""
SELECT event_type,
       count(*) AS n_events,
       {round_sql(exact_sum_sql("value"), 6)} AS sum_value,
       count(DISTINCT user_id) AS n_users,
       max(per_user) AS max_events_per_user
FROM (
  SELECT event_type, user_id, value,
         count(*) OVER (PARTITION BY event_type, user_id) AS per_user
  FROM events
)
GROUP BY event_type
"""


QUERIES = {
    "salted_event_stats": (salted_event_stats, SALTED_ORACLE),
}
