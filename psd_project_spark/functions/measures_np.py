"""The count-window measure kernel, and the vectorized batch path for W1.

One numpy kernel computes the six measures for every count window, in
batch and in the stream: :func:`sliding_window_measures` turns a key's
seq-ordered values into sorted sliding windows and their six measure
columns (every sum an ``np.cumsum`` — verified bit-identical to the
ascending left fold the HOF path and the DuckDB oracle use). Both
callers emit unrounded doubles and round JVM-side with
:func:`round_measures`, the same ``F.round`` the HOF path applies, so
batch, stream and oracle round alike.

:func:`psd_project_spark.functions.measures.windowed_measures` (the
HOF form) evaluates ~150 interpreted lambda element-ops per window —
perfect as a semantics oracle and fine at test SF, but at millions of
windows the interpreted fold dominates. :func:`windowed_measures_np`
computes the same thing through ``applyInPandas`` over one shuffle:
every key (or ``(key, chunk)``, below) is hashed into one of 64 coarse
buckets, the rows are hash-partitioned by bucket into
:func:`~psd_project_spark.functions.measures.kernel_partitions`
partitions (at most 64), and the kernel loops over the keys of each
bucket, sorting each by seq. The partition count is explicit because
the kernel is CPU-bound on a small input: AQE would coalesce an
implicit shuffle into one or two tasks and leave the other cores idle,
but it never merges an explicit-count repartition. The streaming
operator (``streaming/count_window.py``) feeds the same kernel from its
per-key ring.

For keys whose history is far larger than one task should hold (the
reference's single global series: 1M rows, SURVEY.md §6), pass
``chunk_rows``: each key is split into fixed-size seq ranges and the
last ``window_size − 1`` rows of every range are duplicated into the
next one (count windows are translation-invariant, so an overlapped
chunk computes its windows exactly). The ``(key, chunk)`` pairs then
take the keys' place in the buckets, which turns one sequential
per-key task into ``rows/chunk_rows`` independent groups — the
count-window analog of range-partitioned time windows, and the reason
this path scales to 100 TB of ordered history per key while the
reference is pinned to parallelism 1 (StreamingJob.java:431).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from psd_project_spark.config import DEFAULT_CONFIG, MEASURES
from psd_project_spark.functions.measures import kernel_partitions

#: coarse hash buckets the numpy kernel's inner groups are folded into
_BUCKETS = 64


def compute_measures_sorted(xs: list[float]) -> dict[str, float]:
    """The six measures over one sorted window, as a scalar left fold in
    ascending order — the reference the vectorized kernel is tested
    against (SURVEY.md §7 hard-part #2)."""
    n = len(xs)
    total = 0.0
    for v in xs:  # ascending fold == aggregate(sort_array(...))
        total += v
    mean = total / float(n)
    if n % 2 == 0:
        median = (xs[n // 2 - 1] + xs[n // 2]) / 2
    else:
        median = xs[(n - 1) // 2]
    q10 = xs[n // 10]  # 4th smallest for n=30 (normative, §2.8 #3)
    k = max(n // 10, 1)
    tail = 0.0
    for v in xs[:k]:
        tail += v
    tail_mean = tail / float(k)
    s1 = 0.0
    for v in xs:
        s1 += abs(v - mean)
    sm1 = mean - s1 / (2.0 * n)
    s2 = 0.0
    for i, v in enumerate(xs, start=1):  # sorted Gini identity
        s2 += float(i * 2 - (n + 1)) * v
    sm2 = mean - s2 / float(n * n)
    return dict(mean=mean, median=median, q10=q10, tail_mean=tail_mean, sm1=sm1, sm2=sm2)


def _measures_vectorized(windows_sorted: np.ndarray) -> list[np.ndarray]:
    """All six measures over rows of pre-sorted windows — vectorized.

    Every sum is ``np.cumsum`` (verified exactly equal to a sequential
    left-to-right fold for float64), so each row reproduces
    :func:`compute_measures_sorted` bit-for-bit at numpy speed.
    """
    s = windows_sorted  # (rows, n) ascending
    n = s.shape[1]
    csum = np.cumsum(s, axis=1)
    total = csum[:, -1]
    mean = total / float(n)
    if n % 2 == 0:
        median = (s[:, n // 2 - 1] + s[:, n // 2]) / 2
    else:
        median = s[:, (n - 1) // 2]
    q10 = s[:, n // 10]
    k = max(n // 10, 1)
    tail_mean = csum[:, k - 1] / float(k)
    sm1 = mean - np.cumsum(np.abs(s - mean[:, None]), axis=1)[:, -1] / (2.0 * n)
    w = (2.0 * np.arange(1, n + 1) - (n + 1)).astype(np.float64)
    sm2 = mean - np.cumsum(w[None, :] * s, axis=1)[:, -1] / float(n * n)
    return [mean, median, q10, tail_mean, sm1, sm2]


def sliding_window_measures(
    values: np.ndarray, window_size: int, keep: np.ndarray | None = None
) -> list[np.ndarray]:
    """The six unrounded measure columns of every complete window over a
    key's seq-ordered ``values``: row ``i`` is the window ending at
    ``values[i + window_size - 1]``. ``keep`` (a boolean mask over those
    rows) drops windows before they are sorted."""
    windows = sliding_window_view(values, window_size)
    if keep is not None:
        windows = windows[keep]
    return _measures_vectorized(np.sort(windows, axis=1))


def round_measures(df: DataFrame, digits: int | None) -> DataFrame:
    """Round the six measure columns JVM-side; ``digits=None`` keeps them
    unrounded. ``F.round`` on a double is HALF_UP on its shortest
    decimal form (Scala ``BigDecimal(d)``), the rounding of the HOF path
    and of the DuckDB oracles."""
    if digits is None:
        return df
    return df.withColumns({m: F.round(F.col(m), digits) for m in MEASURES})


def windowed_measures_np(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    window_size: int = DEFAULT_CONFIG.window_size,
    digits: int | None = DEFAULT_CONFIG.measure_round_digits,
    chunk_rows: int | None = None,
    seq_precomputed: bool = False,
) -> DataFrame:
    """Sliding count-window measures, numpy-vectorized.

    Output schema and values are identical to ``windowed_measures``:
    ``key_cols + (seq, mean, median, q10, tail_mean, sm1, sm2)``;
    ``digits=None`` leaves the measures unrounded.

    ``seq_precomputed=True`` declares that ``order_col`` already *is*
    a contiguous 1-based per-key arrival sequence — skipping the
    ``row_number()`` pass, which would otherwise serialize each key
    into a single sort task before chunking can parallelize it.
    """
    keys = list(key_cols)
    if seq_precomputed:
        seqd = df.select(
            *keys,
            F.col(order_col).cast("long").alias("seq"),
            F.col(value_col).cast("double").alias("_v"),
        )
    else:
        worder = Window.partitionBy(*keys).orderBy(order_col)
        seqd = df.withColumn("seq", F.row_number().over(worder)).select(
            *keys, "seq", F.col(value_col).cast("double").alias("_v")
        )
    inner = keys
    if chunk_rows:
        carry = window_size - 1
        if chunk_rows < carry:
            raise ValueError(
                f"chunk_rows ({chunk_rows}) must be >= window_size - 1 "
                f"({carry}): a window's history must fit in one "
                "preceding chunk"
            )
        main = seqd.withColumn("_chunk", F.expr(f"(seq - 1) DIV {chunk_rows}"))
        spill = seqd.filter(
            F.expr(f"(seq - 1) % {chunk_rows}") >= chunk_rows - carry
        ).withColumn("_chunk", F.expr(f"(seq - 1) DIV {chunk_rows} + 1"))
        seqd = main.unionByName(spill)
        inner = [*keys, "_chunk"]
    # One applyInPandas group per inner group would pay the per-group
    # Python invocation price |groups| times (~0.4 ms each — 10k users
    # at sf0.1 made this the slowest registry query at ~5 s while the
    # numpy math itself is <0.5 s). Group by a COARSE hash bucket of
    # the inner group instead: each group still lands wholly in one
    # bucket, and the kernel loops per group inside it — at most
    # _BUCKETS Python invocations, semantics untouched.
    #
    # The explicit-count repartition (see the module docstring) also
    # satisfies the groupBy, so it is the only shuffle; more partitions
    # than buckets would only add empty tasks.
    n_parts = min(kernel_partitions(df.sparkSession), _BUCKETS)
    grouped = seqd.withColumn(
        "_bucket", F.pmod(F.xxhash64(*inner), F.lit(_BUCKETS)).cast("int")
    ).repartition(n_parts, "_bucket")

    key_fields = [df.schema[k] for k in keys]
    schema = StructType(
        key_fields
        + [StructField("seq", LongType())]
        + [StructField(m, DoubleType()) for m in MEASURES]
    )

    def _one_group(g: "pd.DataFrame"):
        g = g.sort_values("seq", kind="mergesort")
        v = g["_v"].to_numpy(np.float64)
        if len(v) < window_size:
            return None
        ends = g["seq"].to_numpy(np.int64)[window_size - 1 :]
        own = None
        if chunk_rows:
            own = (ends - 1) // chunk_rows == int(g["_chunk"].iloc[0])
            if not own.any():
                return None
            ends = ends[own]
        out = {k: g[k].iloc[0] for k in keys}
        out["seq"] = ends
        out.update(zip(MEASURES, sliding_window_measures(v, window_size, own)))
        return pd.DataFrame(out)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False: Spark's groupBy keeps NULL keys as a group, so
        # the pandas regroup must too — pandas' default dropna=True
        # would silently discard NULL-keyed rows and diverge from the
        # HOF path / oracle.
        parts = [
            p
            for _, g in pdf.groupby(inner, sort=False, dropna=False)
            if (p := _one_group(g)) is not None
        ]
        if not parts:
            return pd.DataFrame({f.name: [] for f in schema.fields})
        return pd.concat(parts, ignore_index=True)

    raw = grouped.groupBy("_bucket").applyInPandas(kernel, schema)
    return round_measures(raw, digits)
