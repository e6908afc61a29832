"""Parquet table registry for the driver-provided test tables.

All engine queries load inputs through :func:`load_table` so that
table-specific normalization happens in exactly one place:

- ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark
  cannot read natively. We read it as a raw long
  (``spark.sql.legacy.parquet.nanosAsLong``) and expose:
  ``ts`` (TimestampType, truncated to microseconds — identical to
  DuckDB's ``CAST(ts AS TIMESTAMP)``) plus ``ts_ns`` (the raw
  nanosecond epoch long) for exact arithmetic.

At 100 TB these reads stay scan-friendly: no action is triggered here,
so Catalyst still prunes columns and pushes filters into the parquet
scan of whatever query is composed on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.session import ensure_conf

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table, normalized for engine use."""
    ensure_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events(df)
    elif name == "embeddings":
        # Engine contract: embedding is array<float>. The driver has
        # re-generated testdata with changed physical types before
        # (events.ts); pin the logical type here so every vector op
        # sees float32 regardless of the writer (float64 → float32 is
        # the only lossy direction and matches the oracle's FLOAT[]).
        if df.schema["embedding"].dataType.simpleString() != "array<float>":
            df = df.withColumn(
                "embedding", F.col("embedding").cast("array<float>")
            )
    return df


def normalize_events(df: DataFrame) -> DataFrame:
    """Expose ``ts`` (µs TimestampType) + ``ts_ns`` (µs-aligned ns long)
    regardless of how the driver's parquet stores the column:

    - TIMESTAMP(NANOS) → Spark reads it as a raw ns long (via
      ``spark.sql.legacy.parquet.nanosAsLong``); integer DIV avoids the
      double round-trip that loses precision above 2^53 ns, and ts_ns is
      truncated to µs-aligned ns because DuckDB (the oracle) reads that
      encoding at µs precision.
    - TIMESTAMP(MICROS) (plain or NTZ) → native read; cast is a no-op
      under the UTC session timezone and ts_ns = unix_micros * 1000.
    """
    if df.schema["ts"].dataType.typeName() == "long":
        return (
            df.withColumnRenamed("ts", "_raw_ns")
            .withColumn("ts", F.expr("timestamp_micros(_raw_ns DIV 1000)"))
            .withColumn("ts_ns", F.expr("(_raw_ns DIV 1000) * 1000"))
            .select("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
        )
    return df.select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def spread_small(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a small (often single-file → single-partition) input
    so per-row-expensive work (signature UDFs, hashing) uses every core.
    One tiny round-robin shuffle; at real scale inputs already arrive
    in many partitions and this is a no-op decision for the caller."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def source_fingerprint(sf_dir: str, name: str) -> str:
    """Short content fingerprint of one source table's parquet files
    (relative names + sizes + mtimes + head/tail AND two interior 4 KiB
    content samples at 1/3 and 2/3 of each file).
    Persisted-index operators fold this into their cache-directory key
    so a regenerated/changed source can never be served a stale index
    (ADVICE r04): new data → new fingerprint → new directory → rebuild.
    The head/tail content sample defeats attribute-preserving copies
    (``cp -p`` / ``rsync -a`` of different same-size data, fixture
    writers that restore timestamps): parquet data+footer changes land
    in those bytes. The interior samples (ADVICE r05 #3) shrink the
    remaining blind spot — a same-size mtime-restored rewrite changing
    only MIDDLE bytes (one value inside a large row group whose footer
    stats don't move) now lands in a sampled window unless it dodges
    all four. Still O(files) at ≤ 16 KiB per file, never O(data)."""
    import hashlib
    import os

    def _file(h, fp):
        st = os.stat(fp)
        h.update(f"{st.st_size}:{st.st_mtime_ns}:".encode())
        with open(fp, "rb") as fh:
            h.update(fh.read(4096))
            for third in (1, 2):  # interior offsets: size/3, 2·size/3
                off = (st.st_size * third) // 3
                if 4096 < off < st.st_size - 8192:
                    fh.seek(off)
                    h.update(fh.read(4096))
            if st.st_size > 8192:
                fh.seek(-4096, os.SEEK_END)
            h.update(fh.read(4096))

    path = f"{sf_dir}/{name}.parquet"
    h = hashlib.md5()
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for f in sorted(files):
                if f.startswith(".") or f.endswith(".crc"):
                    continue
                fp = os.path.join(root, f)
                h.update(f"{os.path.relpath(fp, path)}:".encode())
                _file(h, fp)
    elif os.path.exists(path):
        _file(h, path)
    return h.hexdigest()[:10]


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register all tables as temp views for ``spark.sql`` queries."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: DuckDB-side prelude mirroring the events normalization. Oracle SQL
#: strings that touch ``events`` should select from this CTE body so
#: both engines see microsecond timestamps.
EVENTS_ORACLE_CTE = (
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
    "epoch_ns(ts) AS ts_ns, user_id, event_type, value, props FROM events"
)
