"""JSON-lines source (extension of SURVEY.md §2.1 S1/S2).

The reference reads exactly one format — a CSV text stream
(StreamingJob.java:433, readTextFile → comma split). A training-data
engine ingests JSONL at least as often, so the source layer exposes it
first-class: explicit ``StructType`` (schema inference over 100 TB of
JSON means a full extra pass — never in production), corrupt-record
tolerance matching the reference's silent-drop semantics
(StreamingJob.java:75-77), and the same downstream operator surface.

``events_jsonl_source`` proves faithfulness end-to-end: events staged
as JSONL (timestamps carried as int64 nanoseconds — JSON has no
timestamp type, so round-tripping through strings would invite
precision/zone drift), read back through the JSON reader, and
aggregated — the oracle runs on the original parquet, so any
staging/parse infidelity breaks the hash match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from psd_project_spark.functions.caching import cache_dir
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table

EVENTS_JSONL_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_ns", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _stage_events_jsonl(sf_dir: str) -> str:
    return cache_dir(sf_dir, "events", "events_jsonl")


def read_events_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL reader with declared schema over the events staged as
    JSONL (written once per source content); malformed lines are
    dropped and counted via the _corrupt_record column (PERMISSIVE),
    mirroring the reference's parse-and-drop (S2)."""
    path = _stage_events_jsonl(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id", "ts_ns", "user_id", "event_type", "value", "props"
            )
            .write.mode("overwrite")
            .json(path)
        )
    return spark.read.schema(EVENTS_JSONL_SCHEMA).json(path)


def events_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip check query: per-type counts / value sums / id range
    computed from the JSONL staging of events; the oracle reads the
    original parquet — equality proves the JSON source is lossless."""
    e = read_events_jsonl(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            exact_sum(F.col("value")), 6
        ).alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.max("ts_ns").alias("max_ts_ns"),
    )


EVENTS_JSONL_ORACLE = f"""
SELECT event_type, count(*) AS n_events,
       {round_sql(exact_sum_sql("value"), 6)} AS sum_value,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id,
       max(epoch_ns(ts)) AS max_ts_ns
FROM events
GROUP BY event_type
"""


QUERIES = {
    "events_jsonl_source": (events_jsonl_source, EVENTS_JSONL_ORACLE),
}
