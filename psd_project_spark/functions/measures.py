"""The six risk measures as reusable Spark expressions.

Reimplements (from scratch, Spark-first) the measure semantics of the
reference engine — ``calculateFirstMeasures`` at
``streamProcessing/psd/src/main/java/psd/StreamingJob.java:184-234`` and
the population versions in ``dataGeneration/psd.R:29-68``:

================  ====================================================
mean              arithmetic mean
median            avg of the two middle order statistics (even n)
q10               the ``(n/10 + 1)``-th smallest value (0-indexed
                  ``n/10`` — the reference's "first calc" convention,
                  StreamingJob.java:190; normative per SURVEY.md §2.8)
tail_mean         mean of the ``max(n/10, 1)`` smallest values
                  (CVaR-style; StreamingJob.java:191-196)
sm1               mean − (1/2n)·Σ|mean − xⱼ|   (StreamingJob.java:212-221)
sm2               mean − (1/2n²)·ΣⱼΣₖ|xⱼ − xₖ|  (StreamingJob.java:223-234)
================  ====================================================

Scale design
------------
``sm2``'s Gini mean difference is **never** computed as the reference's
O(n²) pairwise loop. Over a sorted sequence,
``ΣⱼΣₖ|xⱼ−xₖ| = 2·Σᵢ (2i − n − 1)·x₍ᵢ₎`` (i = 1-based rank), so one
rank window + one aggregation computes it in O(n log n) with a single
shuffle. The same rank window also yields the median / q10 / tail
order statistics, so :func:`grouped_measures` costs exactly one shuffle
(hash-partition by group + in-partition sort) regardless of group size
— no ``collect_list`` materialization, no driver-side state, skew
handled by AQE. This is the plan that survives 100 TB groups.

Every sum feeding a measure is an exact decimal sum
(:mod:`psd_project_spark.functions.exact`), and outputs are rounded to
``digits`` decimals, so :func:`grouped_measures_oracle_sql` — the
mirrored DuckDB SQL — returns bit-identical doubles.

For fixed-size count windows (n = 30) the sorted window array is tiny;
:func:`sorted_array_measures` computes all six measures from one shared
``sort_array(collect_list(...))`` column with JVM-side higher-order
functions (no Python in the hot path).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from psd_project_spark.config import DEFAULT_CONFIG, MEASURES
from psd_project_spark.functions.exact import DEC, exact_sum, exact_sum_sql, round_sql

#: Output measure column names, in reference emission order.
MEASURE_COLS: tuple[str, ...] = tuple(MEASURES)


def grouped_measures(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    digits: int = 6,
) -> DataFrame:
    """All six measures of ``value_col`` per group — one-shuffle plan.

    Returns ``group_cols + (n_rows, mean, median, q10, tail_mean, sm1,
    sm2)``. Works for any group size: order statistics come from a rank
    window, not a collected array.
    """
    groups = list(group_cols)
    v = F.col("_v")
    wp = Window.partitionBy(*groups)
    wr = wp.orderBy("_v")

    ranked = (
        df.select(*groups, F.col(value_col).cast("double").alias("_v"))
        .filter(v.isNotNull())
        .withColumn("_rn", F.row_number().over(wr))
        .withColumn("_n", F.count(F.lit(1)).over(wp))
        .withColumn("_gmean", exact_sum(v, over=wp) / F.col("_n"))
    )

    n = F.col("_n")
    rn = F.col("_rn")
    gmean = F.col("_gmean")
    mid_lo = F.expr("(_n + 1) DIV 2")
    mid_hi = F.expr("_n DIV 2 + 1")
    q10_idx = F.expr("_n DIV 10 + 1")
    tail_k = F.greatest(F.expr("_n DIV 10"), F.lit(1))

    agg = ranked.groupBy(*groups).agg(
        F.max(n).alias("n_rows"),
        F.round(F.max(gmean), digits).alias("mean"),
        F.round(
            F.avg(F.when((rn == mid_lo) | (rn == mid_hi), v)), digits
        ).alias("median"),
        F.round(F.max(F.when(rn == q10_idx, v)), digits).alias("q10"),
        F.round(
            exact_sum(F.when(rn <= tail_k, v)) / F.max(tail_k), digits
        ).alias("tail_mean"),
        F.round(
            F.max(gmean) - exact_sum(F.abs(v - gmean)) / (F.lit(2) * F.max(n)),
            digits,
        ).alias("sm1"),
        # Gini identity: ΣΣ|xi−xj| = 2·Σ (2·rn − n − 1)·x_(rn)
        F.round(
            F.max(gmean)
            - exact_sum((F.lit(2) * rn - n - F.lit(1)) * v)
            / (F.max(n) * F.max(n)),
            digits,
        ).alias("sm2"),
    )
    return agg


def grouped_measures_oracle_sql(
    table_sql: str,
    group_cols: Sequence[str],
    value_col: str,
    digits: int = 6,
    order_by: str | None = None,
) -> str:
    """DuckDB SQL computing exactly :func:`grouped_measures`.

    ``table_sql`` is a table name or parenthesized subquery.
    """
    g = ", ".join(group_cols)
    # The CASE sits inside the sum here, so the exact sum is spelled out.
    tail_sum = (
        "CAST(CAST(sum(CASE WHEN rn <= greatest(n // 10, 1) "
        f"THEN CAST(CAST(v AS STRING) AS {DEC}) END) AS STRING) AS DOUBLE)"
    )
    q = f"""
WITH ranked AS (
  SELECT {g}, CAST({value_col} AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY {g} ORDER BY CAST({value_col} AS DOUBLE)) AS rn,
         count(*) OVER (PARTITION BY {g}) AS n,
         {exact_sum_sql(f"CAST({value_col} AS DOUBLE)", over=f"(PARTITION BY {g})")} AS gsum
  FROM {table_sql}
  WHERE {value_col} IS NOT NULL
), d AS (
  SELECT *, gsum / n AS gmean FROM ranked
)
SELECT {g},
  max(n) AS n_rows,
  {round_sql("max(gmean)", digits)} AS mean,
  {round_sql("avg(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1 THEN v END)", digits)} AS median,
  {round_sql("max(CASE WHEN rn = n // 10 + 1 THEN v END)", digits)} AS q10,
  {round_sql(tail_sum + " / max(greatest(n // 10, 1))", digits)} AS tail_mean,
  {round_sql("max(gmean) - " + exact_sum_sql("abs(v - gmean)") + " / (2 * max(n))", digits)} AS sm1,
  {round_sql("max(gmean) - " + exact_sum_sql("(2 * rn - n - 1) * v") + " / (max(n) * max(n))", digits)} AS sm2
FROM d
GROUP BY {g}
"""
    if order_by:
        q += f"ORDER BY {order_by}\n"
    return q


def sorted_array_measures(
    arr: Column,
    n: int,
    digits: int | None = None,
    mean_col: Column | None = None,
) -> dict[str, Column]:
    """All six measures from a pre-sorted array of exactly ``n`` doubles.

    Pure JVM higher-order functions — used by the count-window operator
    (reference window size n = 30) where the window array is tiny and
    already materialized per row. Summation runs in ascending value
    order, so results are deterministic for a given window.

    Pass ``mean_col`` (a column holding ``sum(arr)/n``) to avoid
    re-evaluating the mean aggregate inside sm1's per-element lambda —
    without it Catalyst inlines the mean into the closure, turning sm1
    into O(n²) per row.
    """
    dbl = F.lit(0.0)
    total = F.aggregate(arr, dbl, lambda a, x: a + x)
    mean = mean_col if mean_col is not None else total / F.lit(float(n))
    if n % 2 == 0:
        median = (F.element_at(arr, n // 2) + F.element_at(arr, n // 2 + 1)) / 2
    else:
        median = F.element_at(arr, (n + 1) // 2)
    q10 = F.element_at(arr, n // 10 + 1)
    k = max(n // 10, 1)
    tail_mean = F.aggregate(F.slice(arr, 1, k), dbl, lambda a, x: a + x) / F.lit(float(k))
    sm1 = mean - F.aggregate(arr, dbl, lambda a, x: a + F.abs(x - mean)) / F.lit(2.0 * n)
    # Sorted-order Gini identity (see module docstring).
    weighted = F.zip_with(
        arr,
        F.sequence(F.lit(1), F.lit(n)),
        lambda x, i: (i * 2 - F.lit(n + 1)).cast("double") * x,
    )
    sm2 = mean - F.aggregate(weighted, dbl, lambda a, x: a + x) / F.lit(float(n * n))
    out = {
        "mean": mean,
        "median": median,
        "q10": q10,
        "tail_mean": tail_mean,
        "sm1": sm1,
        "sm2": sm2,
    }
    if digits is not None:
        out = {name: F.round(c, digits) for name, c in out.items()}
    return out


def windowed_measures(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    window_size: int = DEFAULT_CONFIG.window_size,
    digits: int | None = DEFAULT_CONFIG.measure_round_digits,
    seq_col: str = "seq",
) -> DataFrame:
    """Sliding count-window measures (reference W1–W3 batch semantics).

    Assigns a per-key arrival sequence from ``order_col``, then for each
    row with ``seq >= window_size`` computes the six measures over the
    window of the last ``window_size`` values (inclusive). Mirrors the
    reference's ``countWindowAll(30, 1)`` + full-recompute aggregate
    with state keyed for parallelism (SURVEY.md §2.3). ``digits=None``
    leaves the measures unrounded.
    """
    keys = list(key_cols)
    worder = Window.partitionBy(*keys).orderBy(order_col)
    wframe = worder.rowsBetween(-(window_size - 1), 0)
    arr = F.sort_array(F.collect_list(F.col(value_col).cast("double")).over(wframe))
    measures = sorted_array_measures(
        F.col("_arr"), window_size, digits=digits, mean_col=F.col("_mean")
    )
    out = (
        df.withColumn(seq_col, F.row_number().over(worder))
        .withColumn("_arr", arr)
        .filter(F.col(seq_col) >= window_size)
        .withColumn(
            "_mean",
            F.aggregate(F.col("_arr"), F.lit(0.0), lambda a, x: a + x)
            / F.lit(float(window_size)),
        )
        .select(
            *keys,
            seq_col,
            *[c.alias(name) for name, c in measures.items()],
        )
    )
    return out


def measures_to_long(df: DataFrame, id_cols: Sequence[str]) -> DataFrame:
    """Unpivot wide measure columns to ``(… , measure, value)`` long form.

    The reference emits per-(measure, series) rows
    (StreamingJob.java:368-387); long form turns 7×6 column expressions
    into one ``groupBy`` downstream (SURVEY.md §2.2 P2).
    """
    stack_expr = "stack({n}, {args}) as (measure, value)".format(
        n=len(MEASURE_COLS),
        args=", ".join(f"'{m}', {m}" for m in MEASURE_COLS),
    )
    return df.select(*id_cols, F.expr(stack_expr))
