"""The exact-arithmetic contract (``psd_project_spark/functions/exact.py``):
the DuckDB twins' text and arithmetic, and a source scan that keeps
``exact.py`` the package's only decimal accumulator. No Spark session."""

import re
from pathlib import Path

import duckdb

from psd_project_spark.functions import exact
from psd_project_spark.functions.exact import exact_sum_sql, round_sql

_EXACT = Path(exact.__file__)
_PKG = _EXACT.parents[1]


def _lines_matching(pattern: str) -> list[str]:
    rx = re.compile(pattern)
    return [
        f"{src.relative_to(_PKG)}:{line.strip()}"
        for src in sorted(_PKG.rglob("*.py"))
        if src != _EXACT
        for line in src.read_text().splitlines()
        if rx.search(line)
    ]


def test_twins_render_the_oracle_text():
    assert exact_sum_sql("v") == (
        "CAST(CAST(sum(CAST(CAST(v AS STRING) AS DECIMAL(38,15))) "
        "AS STRING) AS DOUBLE)"
    )
    assert exact_sum_sql("v", over="w") == (
        "CAST(CAST(sum(CAST(CAST(v AS STRING) AS DECIMAL(38,15))) OVER w "
        "AS STRING) AS DOUBLE)"
    )
    assert round_sql("x", 6) == (
        "CAST(CAST(round(CAST(CAST(x AS STRING) AS DECIMAL(38,21)), 6) "
        "AS STRING) AS DOUBLE)"
    )


def test_exact_sum_sql_sums_exactly_and_holds_13_integer_digits():
    def total(rows: str) -> float:
        return duckdb.sql(
            f"SELECT {exact_sum_sql('x')} FROM (VALUES {rows}) t(x)"
        ).fetchone()[0]

    assert 0.1 + 0.2 + 0.3 != 0.6
    assert total("(0.1), (0.2), (0.3)") == 0.6
    assert total("(-1.0e12), (0.5)") == -999999999999.5


def test_accumulator_type_is_spelled_only_at_its_kept_sites():
    """The scd consumer state's on-disk column and q22's decimal
    ``avg_bal`` quotient keep their own type; everything else uses DEC."""
    assert _lines_matching(r"(?i)decimal\((27|38),15\)") == [
        'operators/relational_tpch.py:.agg((F.sum(F.col("c_acctbal")'
        '.cast("decimal(27,15)")) / F.count(F.lit(1)))',
        'operators/scd.py:dec = "decimal(27,15)"',
    ]


def test_decimal_rounding_is_spelled_only_at_the_integer_roundings():
    hits = _lines_matching(r"(?i)decimal\(38,21\)")
    assert [h.split(":")[0] for h in hits] == [
        "functions/hll_sql.py",
        "operators/analytics_extra.py",
        "operators/text_analysis.py",
    ]
    assert all(h.endswith(('AS BIGINT)"', 'AS BIGINT)",')) for h in hits)


def test_no_local_accumulator_helper_remains():
    assert _lines_matching(
        r"^\s*(def\s+(_dsum|_dec_sum|_dsum_sql|_round6_sql|dsum)\b"
        r"|_DEC\s*=)"
    ) == []
