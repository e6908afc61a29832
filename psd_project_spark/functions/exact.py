"""The exact-arithmetic contract: one decimal accumulator, two engines.

Determinism vs the DuckDB oracle
--------------------------------
Double summation order differs between engines (and between Spark
partitionings and stream epochs), so every sum feeding a result is
accumulated in DECIMAL — exact and order-independent — and cast back
to double. Spark and DuckDB then produce *bit-identical* doubles
however rows are split. Outputs are additionally rounded in decimal
space: Spark's ``F.round`` is HALF_UP on the decimal expansion of the
double, which :func:`round_sql` mirrors in DuckDB.

Every decimal hop in the DuckDB twins goes through a STRING: DuckDB's
direct decimal→double cast is not correctly rounded (float division
by 10^scale), while string→double parsing is, in both engines, and
double→string→decimal reads the same shortest expansion Spark reads.

:data:`DEC` holds 23 integer digits, so a per-row term up to 1e23 —
e.g. the Gini weight ``(2·rank − n − 1)·v`` over 100× replicated
prices — cannot overflow under ANSI mode. Spark casts every
:func:`exact_sum` result to double at once and DuckDB already widens
a decimal sum to 38 digits, so the width raises the ceiling and moves
no double.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

#: The accumulator type, spelled so both engines parse it.
DEC = "DECIMAL(38,15)"


def exact_sum(col: Column, over: WindowSpec | None = None) -> Column:
    """Order-independent sum of ``col``: accumulate in :data:`DEC`,
    return double. ``over`` makes it a window aggregate."""
    total = F.sum(col.cast(DEC))
    if over is not None:
        total = total.over(over)
    return total.cast("double")


def exact_sum_sql(expr: str, over: str | None = None) -> str:
    """DuckDB twin of :func:`exact_sum`. ``over`` is the window as
    written after ``OVER``: a name or a parenthesized spec."""
    window = f" OVER {over}" if over else ""
    return (
        f"CAST(CAST(sum(CAST(CAST({expr} AS STRING) AS {DEC})){window} "
        "AS STRING) AS DOUBLE)"
    )


def round_sql(expr: str, digits: int) -> str:
    """DuckDB twin of Spark's ``F.round(expr, digits)`` on a double."""
    return (
        f"CAST(CAST(round(CAST(CAST({expr} AS STRING) AS DECIMAL(38,21)), "
        f"{digits}) AS STRING) AS DOUBLE)"
    )
