"""ORC source/sink (extension of SURVEY.md §2.1 S1/S4-S5).

Same design as the JSONL source (sources/jsonl.py): the reference
ingests exactly one CSV format (StreamingJob.java:433), while a
production lake speaks several columnar formats. ORC ships inside
Spark (no extra package), supports predicate pushdown and column
pruning like parquet, and is the common interchange format with
Hive-era warehouses.

``lineitem_orc_source`` proves the path end-to-end: a lineitem slice
is staged as ORC once, read back through the ORC reader, filtered and
aggregated — while the DuckDB oracle runs on the *original parquet*,
so any encode/decode infidelity (decimal, timestamp, string) breaks
the value-hash match. Timestamps round-trip natively (ORC has a
timestamp type; no string staging needed).

Scale notes (100 TB): the ORC scan vectorizes and accepts pushed
filters exactly like parquet (`spark.sql.orc.filterPushdown` is on by
default); the staging write here is test plumbing, not an engine
requirement.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions.caching import cache_dir
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table


def _stage_lineitem_orc(sf_dir: str) -> str:
    return cache_dir(sf_dir, "lineitem", "lineitem_orc")


def lineitem_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip check query: Q6-style filtered aggregate per return
    flag computed from the ORC staging of lineitem; the oracle reads
    the original parquet — equality proves the ORC path is lossless
    (doubles, timestamps, strings). The shipdate filter lands in the
    ORC scan as a pushed predicate (same pushdown surface as parquet).
    """
    out = _stage_lineitem_orc(sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        load_table(spark, sf_dir, "lineitem").write.mode("overwrite").orc(out)
    l = spark.read.orc(out)
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                exact_sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                6,
            ).alias("revenue"),
            F.max("l_shipdate").alias("max_shipdate"),
        )
        .orderBy("l_returnflag")
    )


LINEITEM_ORC_ORACLE = f"""
SELECT l_returnflag, count(*) AS n_lines,
       {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS revenue,
       max(l_shipdate) AS max_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "lineitem_orc_source": (lineitem_orc_source, LINEITEM_ORC_ORACLE),
}
