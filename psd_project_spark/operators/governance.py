"""Data-governance operators: k-anonymity suppression, weighted
sampling, and sharded training-data export.

None of these exist in the reference (it has no governance surface);
all are standard requirements for a 100 TB training-data platform:

- ``k_anonymity_release``: publish per-cohort statistics only for
  cohorts of size ≥ k over the quasi-identifier set; smaller cohorts
  are suppressed (stats nulled, flagged). One groupBy — suppression
  is a projection decision, not a second pass.
- ``weighted_sample``: value-proportional Bernoulli sampling with a
  *content-hash* uniform (md5 of the row key), so the sample is
  deterministic, rerun-stable, cluster-layout-independent, and
  exactly reproducible by the DuckDB oracle — no RNG state anywhere.
  The acceptance threshold max(value) arrives via a 1-row broadcast.
- ``training_shard_export``: the export path for training corpora —
  rows sharded by an explicit key function (``user_id mod N``, not an
  engine-private hash, so any downstream stack can reproduce the
  mapping), sorted within shards for sequential reads, written
  Hive-partitioned, and read back for verified per-shard stats.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions.caching import cache_dir
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table

K_ANON = 10
N_SHARDS = 8


# --- k_anonymity_release -----------------------------------------------------

def k_anonymity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort stats over quasi-identifiers (nation, market segment),
    suppressed below k=10."""
    c = load_table(spark, sf_dir, "customer")
    g = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                exact_sum(F.col("c_acctbal"))
                / F.count(F.lit(1)),
                6,
            ).alias("_avg_bal"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            (F.col("n") >= K_ANON).cast("int").alias("published"),
            F.when(F.col("n") >= K_ANON, F.col("_avg_bal")).alias(
                "avg_acctbal"
            ),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )
    return g


K_ANON_ORACLE = f"""
SELECT c_nationkey, c_mktsegment, n,
       CAST(n >= {K_ANON} AS INT) AS published,
       CASE WHEN n >= {K_ANON} THEN avg_bal END AS avg_acctbal
FROM (
  SELECT c_nationkey, c_mktsegment, count(*) AS n,
         {round_sql(exact_sum_sql("c_acctbal") + " / count(*)", 6)} AS avg_bal
  FROM customer GROUP BY 1, 2
)
ORDER BY c_nationkey, c_mktsegment
"""


# --- weighted_sample ---------------------------------------------------------

def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-proportional Bernoulli sample of events: keep a row iff
    md5-uniform(event_id) < value / max(value). Deterministic and
    engine-portable; reported as per-type sample stats."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    from psd_project_spark.functions.text import content_hash_col

    vmax = e.agg(F.max("value").alias("vmax"))
    u = content_hash_col("event_id").cast("double") / F.lit(4294967296.0)
    out = (
        e.crossJoin(F.broadcast(vmax))
        .withColumn("_keep", (u < F.col("value") / F.col("vmax")).cast("int"))
        .groupBy("event_type")
        .agg(
            F.sum("_keep").alias("n_sampled"),
            F.count(F.lit(1)).alias("n_total"),
            F.round(
                exact_sum(
                    F.when(F.col("_keep") == 1, F.col("value"))
                    .otherwise(F.lit(0.0))
                ),
                6,
            ).alias("sampled_value"),
        )
        .orderBy("event_type")
    )
    return out


WEIGHTED_SAMPLE_ORACLE = f"""
WITH e AS (
  SELECT event_type, value,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
           / 4294967296.0 AS u,
         (SELECT max(value) FROM events) AS vmax
  FROM events
)
SELECT event_type,
       CAST(sum(CASE WHEN u < value / vmax THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       count(*) AS n_total,
       {round_sql(exact_sum_sql("CASE WHEN u < value / vmax THEN value ELSE 0.0 END"), 6)} AS sampled_value
FROM e
GROUP BY event_type
ORDER BY event_type
"""


# --- training_shard_export ---------------------------------------------------

def _shard_dir(sf_dir: str) -> str:
    return cache_dir(sf_dir, "events", "event_shards")


def training_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard events by ``user_id mod 8``, sort each shard by
    (user_id, ts_ns) for sequential consumption, write Hive-partitioned
    parquet, and report verified per-shard stats from the read-back."""
    path = _shard_dir(sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_ns", "event_type", "value",
        F.pmod(F.col("user_id"), F.lit(N_SHARDS)).cast("int").alias("shard"),
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            e.repartition("shard")
            .sortWithinPartitions("shard", "user_id", "ts_ns")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
            F.min("ts_ns").alias("min_ts_ns"),
            F.max("ts_ns").alias("max_ts_ns"),
        )
        .orderBy("shard")
    )


SHARD_EXPORT_ORACLE = f"""
SELECT CAST(user_id % {N_SHARDS} AS INT) AS shard, count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       min(epoch_ns(ts)) AS min_ts_ns, max(epoch_ns(ts)) AS max_ts_ns
FROM events
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "k_anonymity_release": (k_anonymity_release, K_ANON_ORACLE),
    "weighted_sample": (weighted_sample, WEIGHTED_SAMPLE_ORACLE),
    "training_shard_export": (training_shard_export, SHARD_EXPORT_ORACLE),
}
