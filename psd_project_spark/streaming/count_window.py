"""Streaming count-window engine (SURVEY.md §7 M3).

Reimplements (Spark-first) the reference's core stream operator — a
sliding **count** window, size 30 slide 1, with the six risk measures
emitted per arrival once the window is warm
(``streamProcessing/psd/src/main/java/psd/StreamingJob.java:435,
83-391``: ``countWindowAll(30, 1)`` + the ``State`` accumulator).

Structured Streaming has no count-based windows (its DSL is time
based), so this is a custom stateful operator on
``applyInPandasWithState`` — a thin stateful wrapper around the batch
kernel :func:`psd_project_spark.functions.measures_np.sliding_window_measures`:

- **Keyed state** — the reference pins parallelism to 1
  (StreamingJob.java:431) to get global arrival order. We key state by
  the series/portfolio id instead, so state scales horizontally across
  executors; per-key arrival order is restored by concatenating every
  chunk of a key's micro-batch and sorting it once on the sequence
  column inside the handler. Order *across* micro-batches is the
  source's to keep (the registry's file streams arrive as one
  micro-batch; at production scale an upstream per-key sequencer, e.g.
  Kafka partition offsets keyed the same way).
- **State** = the ring of the last ``window_size - 1`` values + the
  running arrival count — the direct analog of ``State.samples`` /
  ``State.count`` (StreamingJob.java:84-87), serialized as one
  ``array<double>`` + ``long`` per key (tiny: 30 doubles).
- **Measures** are recomputed per window over the sorted window by the
  same numpy kernel the batch path runs — normative semantics per
  SURVEY.md §2.8 (the reference's incremental slide path is buggy dead
  code). The handler emits unrounded doubles; the operator then rounds
  with the batch path's ``F.round`` projection, so a stream's output
  equals the batch ``windowed_measures`` result on the same rows
  bit-for-bit (the batch/streaming differential test, §5.2-3).

At 100 TB-scale streams: state size is O(keys × window), independent
of throughput; each micro-batch shuffles once on the key (the same
hash partitioning every batch, so state stays local to its executor);
the Python handler is Arrow-batched. For very hot single keys the
reference semantics are inherently sequential (slide-1 windows form a
chain) — parallelism comes from key cardinality, exactly like the
reference's one-portfolio limit, but without capping the cluster.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from psd_project_spark.config import DEFAULT_CONFIG, MEASURES
from psd_project_spark.functions.measures_np import (
    round_measures,
    sliding_window_measures,
)

MEASURE_FIELDS = MEASURES


def count_window_state_handler(window_size: int, out_cols: list[str]):
    """Build the applyInPandasWithState handler (one key = one series).

    ``out_cols`` names the output columns: the key columns, ``seq``,
    then the six measures (unrounded)."""

    def handler(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            buf, seq = state.get[0], int(state.get[1])
        else:
            buf, seq = [], 0
        # per-key arrival order, over every chunk of the micro-batch
        batch = pd.concat(pdf_iter, ignore_index=True).sort_values("_order", kind="stable")
        vals = batch["_value"].to_numpy(np.float64)
        full = np.concatenate([np.asarray(buf, dtype=np.float64), vals])
        seq += vals.size
        if full.size >= window_size:
            # the ring holds fewer than window_size values, so every
            # complete window of ring + batch ends at a new arrival
            cols = sliding_window_measures(full, window_size)
            seqs = np.arange(seq - cols[0].size + 1, seq + 1)
            yield pd.DataFrame(dict(zip(out_cols, [*key, seqs, *cols])))
        state.update((full[max(full.size - window_size + 1, 0):].tolist(), seq))

    return handler


def streaming_count_window_measures(
    stream_df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    window_size: int = DEFAULT_CONFIG.window_size,
    digits: int | None = DEFAULT_CONFIG.measure_round_digits,
) -> DataFrame:
    """Sliding count-window measures over a streaming DataFrame.

    Output schema: ``key_cols + (seq long, mean..sm2 double)`` — one
    row per arrival once ``window_size`` samples have been seen for the
    key; identical to the batch ``windowed_measures`` oracle.
    ``digits=None`` leaves the measures unrounded.
    """
    key_fields = [stream_df.schema[c] for c in key_cols]
    out_schema = StructType(
        key_fields
        + [StructField("seq", LongType())]
        + [StructField(f, DoubleType()) for f in MEASURES]
    )
    state_schema = StructType(
        [
            StructField("buf", ArrayType(DoubleType())),
            StructField("seq", LongType()),
        ]
    )
    prepared = stream_df.select(
        *key_cols,
        F.col(order_col).cast("long").alias("_order"),
        F.col(value_col).cast("double").alias("_value"),
    )
    raw = prepared.groupBy(*key_cols).applyInPandasWithState(
        count_window_state_handler(window_size, out_schema.fieldNames()),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return round_measures(raw, digits)
