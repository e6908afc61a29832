"""Streaming pipelines over the test tables (SURVEY.md §7 M3/M5).

The reference's whole streaming surface — text source → parse →
count-window → measures → stats join → alert sink
(StreamingJob.java:428-442) — rebuilt on Structured Streaming:

- ``measures_window_stream`` — S1/S2 + W1-W3 + A-M1..M6: parquet file
  stream → stateful count-window operator → measures. Oracle-checked
  against the same DuckDB SQL as the batch path (identical semantics
  by design — the batch/streaming differential the reference never had).
- ``alerts_stream``   — adds P2/P3/S3: long-form unpivot, broadcast
  reference-stats join, alert predicate — the full reference pipeline,
  streaming end-to-end.
- ``events_time_windows`` — event-time extension: watermark + sliding
  time windows over ``events.ts`` (built-in streaming DSL; the
  reference has no event time at all, SURVEY.md §2.3).

Every registry stream over a whole test table gets its source from
``table_stream`` (the table's ``_stream_dir`` symlink dir, read with its
parquet footer's schema); ``stream_events`` adds the batch registry's
``normalize_events``. Streams over staged epoch splits read them through
``streaming/foreach_sink.epoch_stream``.

Each ``queries()`` callable runs its stream to completion into an
in-memory sink and returns the result as a batch DataFrame, so the
correctness driver exercises the real streaming engine (state store,
micro-batch planner) through the same oracle gate as batch queries.
``state_partition_scope`` pins the state-partition count around every
run, for this memory-sink runner and the foreachBatch runner alike.

Scale notes: the file source becomes Kafka in production; the memory
sink becomes parquet/Delta. State shuffles once per micro-batch on the
series key and stays executor-local between batches; the stats side is
a broadcast join against a 6×|series| table (reference S3 semantics).
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.config import DEFAULT_CONFIG
from psd_project_spark.functions.caching import cache_dir
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.operators.risk import (
    MEASURES_WINDOW_ORACLE,
    _alerts_oracle,
    alerts_from_measures,
)
from psd_project_spark.session import ensure_conf
from psd_project_spark.sources.registry import normalize_events
from psd_project_spark.streaming.count_window import (
    streaming_count_window_measures,
)

_sink_ids = itertools.count()


def _stream_dir(sf_dir: str, table: str) -> str:
    """The file-stream source needs a *directory*; stage one with a
    symlink to the single parquet file (idempotent)."""
    d = cache_dir(sf_dir, table, f"stream_{table}")
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{table}.parquet"
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/{table}.parquet"), link)
    return d


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-stream source over one test table, read with the schema of
    its own parquet footer (one cheap batch read of metadata), so the
    declared stream schema always matches the files. The one reader of
    the ``_stream_dir`` layout."""
    ensure_conf(spark)
    d = _stream_dir(sf_dir, table)
    return spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over events.parquet (S1 analog), with the
    batch registry's ``ts``/``ts_ns`` normalization for both parquet
    encodings."""
    return normalize_events(table_stream(spark, sf_dir, "events"))


#: State-partition count for stateful streaming queries. A stateful
#: operator pays a fixed per-partition price every micro-batch (state
#: store open/snapshot/commit; 4 stores per partition for a
#: stream-stream join), so the partition count must be sized to state
#: VOLUME, not to CPU count: measured at sf0.1, 8 partitions beat the
#: session's 32 by 1.2-3.3× across every stateful query here. At real
#: scale the same rule sizes partitions UP (~state_bytes / 100 MB per
#: partition). Pinned per-query because a stateful query's
#: partitioning is frozen into its checkpoint anyway.
STATE_PARTITIONS = 8

#: How long ``stream_ingest_dedup`` remembers a candidate pair: a new
#: crawl doc needs dedup against concurrently-arriving docs only within
#: an ingest window; dedup against the full historical corpus is the
#: static index join's job. One hour comfortably covers the bounded
#: availableNow replay the oracle runs (everything arrives in seconds,
#: so the bounded and unbounded variants emit identical pairs there).
INGEST_DEDUP_HORIZON = "1 hour"


@contextmanager
def state_partition_scope(spark: SparkSession, state_partitions: int | None):
    """Scope ``spark.sql.shuffle.partitions`` to ``state_partitions``
    (``None``: leave it alone) for one stream run. The value is frozen
    into the plan when the query starts, so set it before ``start()``;
    it is restored however the run ends."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream_to_memory(
    result: DataFrame,
    mode: str = "append",
    state_partitions: int | None = STATE_PARTITIONS,
) -> DataFrame:
    """Run a streaming DataFrame to completion; return the sink table.
    The run is wrapped in :func:`state_partition_scope`."""
    spark = result.sparkSession
    name = f"psd_sink_{next(_sink_ids)}"
    with state_partition_scope(spark, state_partitions):
        query = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        # expose the final progress (state-operator rows etc.) for
        # tests asserting state boundedness; recentProgress is the
        # run's full history, lastProgress the final micro-batch
        global LAST_QUERY_PROGRESS
        LAST_QUERY_PROGRESS = [p.json for p in query.recentProgress]
    return spark.table(name)


#: json strings of the most recent ``run_stream_to_memory`` query's
#: progress events — test-observability only, never read by operators.
LAST_QUERY_PROGRESS: list[str] = []


# --- measures_window_stream --------------------------------------------------

def measures_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_events(spark, sf_dir)
    out = streaming_count_window_measures(
        events,
        key_cols=["user_id"],
        order_col="event_id",
        value_col="value",
        window_size=DEFAULT_CONFIG.window_size,
        digits=DEFAULT_CONFIG.measure_round_digits,
    )
    return run_stream_to_memory(out)


# --- alerts_stream -----------------------------------------------------------

def alerts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline, streaming: count-window measures →
    long form → broadcast stats join → alert predicate (P2/P3/S3)."""
    events = stream_events(spark, sf_dir)
    measures = streaming_count_window_measures(
        events,
        key_cols=["user_id"],
        order_col="event_id",
        value_col="value",
        window_size=DEFAULT_CONFIG.window_size,
        digits=DEFAULT_CONFIG.measure_round_digits,
    )
    return run_stream_to_memory(alerts_from_measures(measures, sf_dir))


# --- events_time_windows (event-time extension) ------------------------------

def events_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min, slide 5 min) with watermark:
    per-window event counts and value sums per event_type."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                exact_sum(F.col("value")), 6
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # complete mode: with availableNow the watermark never advances past
    # the final batch, so append would hold the last windows in state
    # forever; complete emits every window when the finite source drains.
    return run_stream_to_memory(agg, mode="complete")


EVENTS_TIME_WINDOWS_ORACLE = f"""
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
), w AS (
  SELECT event_type, value, s AS bucket_start
  FROM e, LATERAL (
    VALUES (CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP)),
           (CAST(to_timestamp(floor(epoch(ts) / 300) * 300 - 300) AS TIMESTAMP))
  ) AS g(s)
  WHERE ts >= s AND ts < s + INTERVAL 10 MINUTE
)
SELECT bucket_start AS window_start,
       bucket_start + INTERVAL 10 MINUTE AS window_end,
       event_type,
       count(*) AS n_events,
       {round_sql(exact_sum_sql("value"), 6)} AS sum_value
FROM w
GROUP BY bucket_start, event_type
"""


# --- streaming dedup ---------------------------------------------------------

def stream_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication + aggregation: drop repeat
    (user_id, event_type) pairs as they arrive (keyed dedup state),
    then count distinct users per type. The batch-equivalent answer is
    ``count(DISTINCT user_id)`` — the differential the oracle checks.

    State note: plain ``dropDuplicates`` keeps every seen key forever;
    the production form for unbounded keys is
    ``dropDuplicatesWithinWatermark`` (bounded state, same plan
    otherwise). The test tables replay a finite month of events, where
    the unbounded variant is the exact-semantics choice.
    """
    events = stream_events(spark, sf_dir)
    dedup = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = dedup.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return run_stream_to_memory(agg, mode="complete")


STREAM_DEDUP_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


# --- streaming session windows -----------------------------------------------

SESSION_GAP = "30 minutes"
SESSION_GAP_NS = 30 * 60 * 1_000_000_000


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user on the event stream —
    ``session_window(ts, 30 min)``: consecutive events merge while the
    gap stays under 30 minutes; the window end is last-event + gap.
    The native streaming counterpart of the batch ``sessionize_events``
    (lag + conditional cumsum): here the state store does the island
    merging, keyed by user_id, so it parallelizes across executors and
    handles out-of-order arrivals within the watermark.

    Session-split semantics note: ``session_window`` starts a new
    session when the gap is ≥ the threshold (windows [t, t+gap) merge
    only on strict overlap); the batch variant splits on > — the oracle
    mirrors each exactly.
    """
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                exact_sum(F.col("value")), 6
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_memory(agg, mode="complete")


STREAM_SESSIONS_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, value FROM events
), lagd AS (
  SELECT *, lag(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns) AS prev
  FROM e
), marked AS (
  SELECT *, CASE WHEN prev IS NULL OR ts_ns - prev >= {SESSION_GAP_NS}
                 THEN 1 ELSE 0 END AS is_new
  FROM lagd
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       make_timestamp(min(ts_ns) // 1000) AS session_start,
       make_timestamp((max(ts_ns) + {SESSION_GAP_NS}) // 1000) AS session_end,
       count(*) AS n_events,
       {round_sql(exact_sum_sql("value"), 6)} AS sum_value
FROM sessions
GROUP BY user_id, sid
"""


# --- stream-stream join ------------------------------------------------------

def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range: every
    (purchase, view) pair where the same user's view happened in the
    hour before the purchase.

    Both sides carry watermarks and the join condition bounds the two
    event times against each other — that's what lets the state store
    evict buffered rows once the watermark passes (purchase rows wait
    ≤1 h of event time for late views, views are dropped once no future
    purchase can reach back to them). Without the time bound the join
    would be correct but its state unbounded — the difference between
    a demo and something that survives an infinite stream. The batch
    interval join (``views_before_purchase``) is the same relation
    aggregated; here the oracle checks the raw pair stream.

    Two measured plan decisions: both sides branch from ONE source
    stream (the micro-batch scans the files once, not twice), and the
    join runs at STATE_PARTITIONS (see ``run_stream_to_memory``) — a
    stream-stream join keeps FOUR state stores per partition, making
    it the most sensitive query to per-partition state overhead
    (32→8 partitions measured 6.7 s→2.0 s at sf0.1)."""
    ev = stream_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") < F.col("p_ts")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        F.expr("unix_micros(p_ts) - unix_micros(v_ts)").alias("lag_us"),
    )
    return run_stream_to_memory(joined, mode="append")


STREAM_STREAM_JOIN_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
)
SELECT p.user_id, p.purchase_id, v.view_id,
       epoch_us(p.p_ts) - epoch_us(v.v_ts) AS lag_us
FROM p JOIN v
  ON p.user_id = v.v_user
 AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
 AND v.v_ts < p.p_ts
"""


# --- stream_ingest_dedup -----------------------------------------------------

def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion near-dup screen — the micro-batch form of
    the LLM pipeline's "dedup the new crawl against the existing
    corpus" step, and the streaming twin of
    :func:`~psd_project_spark.operators.dedup.cross_dedup_minhash`
    (same split, same semantics, SAME oracle): documents of the eval
    split (``doc_id % 50 == 0``) arrive as a file STREAM, are
    MinHash-banded per micro-batch, and probe the STATIC band table of
    the existing corpus via a stream-static equi-join; candidates are
    deduped with keyed streaming state and verified by exact shingle
    Jaccard against the static signature table.

    Plan shape for 100 TB: the arriving batch is small by definition —
    its banding and payload ride the stream side, while the corpus
    side stays a STATIC table joined on the band key (at scale: a
    bucketed signature index, so each micro-batch probes matching
    buckets only — the ``ann_index_export`` layout applied to
    MinHash). The pair-dedup state is BOUNDED: docs carry an
    ingest-time watermark and candidate pairs dedup with
    ``dropDuplicatesWithinWatermark``, so a pair key is held only
    within ``INGEST_DEDUP_HORIZON`` of its ingest and then expires —
    a long-running crawl screen's state tracks the ingest horizon,
    not all pairs ever seen. (Duplicate-pair suppression beyond the
    horizon is the static corpus join's job: a screened doc joins the
    corpus index, so re-arrivals months later are caught there, not by
    streaming state.) The final zero-preserving left join against the
    eval roster is batch — the streamed aggregate is the heavy part."""
    from psd_project_spark.functions import text as T
    from psd_project_spark.functions.caching import transient_cache
    from psd_project_spark.functions.text_udfs import (
        minhash_sig_udf,
        shingles_udf,
    )
    from psd_project_spark.operators.dedup import _band_frame, _with_signatures
    from psd_project_spark.sources.registry import load_table

    ensure_conf(spark)
    is_eval = F.col("doc_id") % 50 == 0
    # static side: the existing corpus's bands + signatures
    sigs = transient_cache(
        _with_signatures(load_table(spark, sf_dir, "documents"), spark)
    )
    train = sigs.filter(~is_eval)
    tb = _band_frame(train).select(
        F.col("doc_id").alias("doc_train"), "band_id", "band_key"
    )
    st = train.select(
        F.col("doc_id").alias("doc_train"), F.col("_sh").alias("_sht")
    )
    # stream side: the arriving split
    arriving = (
        table_stream(spark, sf_dir, "documents")
        .filter(is_eval)
        # ingest-time watermark: bounds the pair-dedup state below.
        # Processing time is the right clock here — docs have no event
        # time; "recently ingested" is the dedup horizon that matters.
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", INGEST_DEDUP_HORIZON)
        .withColumn("_sh", shingles_udf(F.col("text")))
        .withColumn("_sig", minhash_sig_udf(F.col("_sh")))
        .select("doc_id", "ingest_ts", "_sh", "_sig")
    )
    sbands = arriving.select(
        F.col("doc_id").alias("doc_eval"),
        "ingest_ts",
        F.col("_sh").alias("_she"),
        F.explode(
            F.expr(
                "transform(sequence(0, {nb}), b -> struct(b AS band_id, {key} AS band_key))".format(
                    nb=T.LSH_BANDS - 1, key=T.band_key_expr("_sig", "b")
                )
            )
        ).alias("band"),
    ).select("doc_eval", "ingest_ts", "_she", "band.band_id", "band.band_key")
    jac = F.round(F.expr(T.exact_jaccard_expr("_sht", "_she")), 6)
    agg = (
        sbands.join(tb, ["band_id", "band_key"])  # stream-static
        .select("doc_eval", "doc_train", "ingest_ts", "_she")
        # keyed dedup state, BOUNDED: a pair key expires once the
        # ingest watermark passes its first occurrence + horizon
        .dropDuplicatesWithinWatermark(["doc_eval", "doc_train"])
        .drop("ingest_ts")
        .join(st, "doc_train")
        .withColumn("jac", jac)
        .groupBy("doc_eval")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("jac") >= T.JACCARD_THRESHOLD).cast("long")).alias(
                "n_near_dups"
            ),
            F.max("jac").alias("max_jaccard"),
        )
    )
    mem = run_stream_to_memory(agg, mode="complete")
    evals = (
        load_table(spark, sf_dir, "documents")
        .filter(is_eval)
        .select(F.col("doc_id").alias("doc_eval"))
    )
    return evals.join(mem, "doc_eval", "left").select(
        "doc_eval",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
        F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
    )


def _stream_ingest_oracle() -> str:
    from psd_project_spark.operators.dedup import CROSS_DEDUP_ORACLE

    return CROSS_DEDUP_ORACLE


QUERIES = {
    "measures_window_stream": (measures_window_stream, MEASURES_WINDOW_ORACLE),
    "alerts_stream": (alerts_stream, _alerts_oracle()),
    "events_time_windows": (events_time_windows, EVENTS_TIME_WINDOWS_ORACLE),
    "stream_dedup_users": (stream_dedup_users, STREAM_DEDUP_ORACLE),
    "stream_session_windows": (stream_session_windows, STREAM_SESSIONS_ORACLE),
    "stream_stream_join": (stream_stream_join, STREAM_STREAM_JOIN_ORACLE),
    "stream_ingest_dedup": (stream_ingest_dedup, _stream_ingest_oracle()),
}
