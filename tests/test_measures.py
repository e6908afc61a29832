"""Golden-window measure tests (FIXTURES.md F3) + scale-path equivalence.

Expected values pin the SURVEY.md §2.8 semantic decisions: median = avg
of 15th/16th order stats, q10 = 4th smallest (index n/10), tail mean =
mean of 3 smallest, SM1 = mean − Σ|mean−x|/(2n), SM2 = mean −
ΣΣ|xj−xk|/(2n²) — reference StreamingJob.java:184-234.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from psd_project_spark.functions.measures import (
    grouped_measures,
    grouped_measures_oracle_sql,
    sorted_array_measures,
)


def numpy_reference(values):
    """Straightforward O(n²) reference implementation of all six measures."""
    xs = sorted(values)
    n = len(xs)
    mean = sum(xs) / n
    median = (xs[n // 2 - 1] + xs[n // 2]) / 2 if n % 2 == 0 else xs[n // 2]
    q10 = xs[n // 10]  # 0-indexed n/10 == (n/10 + 1)-th smallest
    k = max(n // 10, 1)
    tail = sum(xs[:k]) / k
    sm1 = mean - sum(abs(mean - x) for x in xs) / (2 * n)
    sm2 = mean - sum(abs(a - b) for a in xs for b in xs) / (2 * n * n)
    return dict(mean=mean, median=median, q10=q10, tail_mean=tail, sm1=sm1, sm2=sm2)


GOLDEN_RAMP = [float(i) for i in range(1, 31)]
GOLDEN_RAMP_EXPECTED = dict(
    mean=15.5,
    median=15.5,
    q10=4.0,
    tail_mean=2.0,
    sm1=11.75,
    sm2=15.5 - 8990.0 / 1800.0,
)
GOLDEN_CONST = [0.005] * 30


def _run_array_measures(spark, values):
    df = spark.createDataFrame([(values,)], "arr array<double>")
    ms = sorted_array_measures(F.sort_array(F.col("arr")), len(values))
    row = df.select(*[c.alias(k) for k, c in ms.items()]).collect()[0]
    return row.asDict()


def _run_grouped_measures(spark, values):
    df = spark.createDataFrame([(1, v) for v in values], "g int, v double")
    row = grouped_measures(df, ["g"], "v", digits=9).collect()[0]
    return row.asDict()


@pytest.mark.parametrize("values,expected", [
    (GOLDEN_RAMP, GOLDEN_RAMP_EXPECTED),
    (GOLDEN_CONST, dict(mean=0.005, median=0.005, q10=0.005,
                        tail_mean=0.005, sm1=0.005, sm2=0.005)),
])
def test_golden_windows_array_path(spark, values, expected):
    got = _run_array_measures(spark, values)
    for k, v in expected.items():
        assert math.isclose(got[k], v, rel_tol=0, abs_tol=1e-12), (k, got[k], v)


@pytest.mark.parametrize("values,expected", [
    (GOLDEN_RAMP, GOLDEN_RAMP_EXPECTED),
])
def test_golden_windows_grouped_path(spark, values, expected):
    got = _run_grouped_measures(spark, values)
    assert got["n_rows"] == len(values)
    for k, v in expected.items():
        assert math.isclose(got[k], v, rel_tol=0, abs_tol=1e-9), (k, got[k], v)


def test_random_windows_match_reference(spark):
    rng = random.Random(7)
    values = [rng.uniform(-0.1, 0.1) for _ in range(30)]
    expected = numpy_reference(values)
    arr_got = _run_array_measures(spark, values)
    grp_got = _run_grouped_measures(spark, values)
    for k, v in expected.items():
        assert math.isclose(arr_got[k], v, rel_tol=1e-12, abs_tol=1e-12), (
            "array", k, arr_got[k], v)
        assert math.isclose(grp_got[k], v, rel_tol=1e-9, abs_tol=1e-9), (
            "grouped", k, grp_got[k], v)


def test_measure_invariants(spark):
    """SM1 ≤ mean, SM2 ≤ mean, tail_mean ≤ q10 ≤ median (property test)."""
    rng = random.Random(99)
    for trial in range(5):
        values = [rng.gauss(0.002, 0.02) for _ in range(30)]
        got = _run_array_measures(spark, values)
        assert got["sm1"] <= got["mean"] + 1e-12
        assert got["sm2"] <= got["mean"] + 1e-12
        assert got["tail_mean"] <= got["q10"] + 1e-12
        assert got["q10"] <= got["median"] + 1e-12


def test_grouped_measures_hold_100x_scale_prices(spark):
    """sm2's per-row Gini term (2·rn − n − 1)·v reaches -1e12 here: 13
    integer digits, one more than a decimal(27,15) accumulator holds.
    Under ANSI both engines must return the same row, bit for bit."""
    import duckdb

    values = [5.0e11, 5.5e11, 6.0e11]
    df = spark.createDataFrame([(1, v) for v in values], "g int, v double")
    got = [r.asDict() for r in grouped_measures(df, ["g"], "v").collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(1, v) for v in values])
    cur = con.execute(grouped_measures_oracle_sql("t", ["g"], "v"))
    cols = [d[0] for d in cur.description]
    want = [dict(zip(cols, row)) for row in cur.fetchall()]

    assert got == want
    assert (got[0]["mean"], got[0]["sm1"], got[0]["sm2"]) == (
        550000000000.0, 533333333333.3333, 527777777777.7778
    )


def test_numpy_window_path_matches_hof_path_chunked(spark):
    """windowed_measures_np (incl. overlapped-chunk parallel mode) must
    be row-identical to the interpreted-HOF semantics oracle."""
    from psd_project_spark.functions.measures import windowed_measures
    from psd_project_spark.functions.measures_np import windowed_measures_np
    from psd_project_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events")
    kw = dict(
        key_cols=["user_id"], order_col="event_id", value_col="value",
        window_size=30, digits=9,
    )
    ref = {
        tuple(r): True
        for r in windowed_measures(events, **kw).collect()
    }
    for chunk_rows in (None, 40):
        got = windowed_measures_np(events, chunk_rows=chunk_rows, **kw).collect()
        assert len(got) == len(ref), (chunk_rows, len(got), len(ref))
        missing = [r for r in got if tuple(r) not in ref]
        assert not missing, (chunk_rows, missing[:3])


def test_numpy_window_path_keeps_null_keys(spark):
    """Spark's groupBy keeps NULL keys as a group; the numpy kernel's
    internal pandas regroup must too (dropna=False) or NULL-keyed rows
    silently lose their windows (ADVICE r04)."""
    import random as _random

    from pyspark.sql import Row

    from psd_project_spark.functions.measures import windowed_measures
    from psd_project_spark.functions.measures_np import windowed_measures_np

    rng = _random.Random(31)
    rows = [
        Row(user_id=uid, event_id=i, value=rng.uniform(-0.1, 0.1))
        for uid in (None, 7)
        for i in range(40)
    ]
    events = spark.createDataFrame(rows, "user_id int, event_id int, value double")
    kw = dict(
        key_cols=["user_id"], order_col="event_id", value_col="value",
        window_size=30, digits=9,
    )
    def _key(t):
        return ((t[0] is None, t[0] if t[0] is not None else 0),) + t[1:]

    ref = sorted((tuple(r) for r in windowed_measures(events, **kw).collect()), key=_key)
    assert any(r[0] is None for r in ref)  # NULL group produces windows
    for chunk_rows in (None, 32):
        got = sorted(
            (
                tuple(r)
                for r in windowed_measures_np(events, chunk_rows=chunk_rows, **kw).collect()
            ),
            key=_key,
        )
        assert got == ref, chunk_rows


def test_results_do_not_depend_on_the_shuffle_partition_count(spark):
    """Both replay kernels repartition to an explicit count taken from
    ``spark.sql.shuffle.partitions``; the rows they return must not
    depend on it."""
    from psd_project_spark.functions.measures_np import windowed_measures_np
    from psd_project_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events")
    kw = dict(
        key_cols=["user_id"], order_col="event_id", value_col="value",
        window_size=30, digits=9,
    )
    queries = {
        "np": lambda: windowed_measures_np(events, **kw),
        "np_chunked": lambda: windowed_measures_np(events, chunk_rows=40, **kw),
        "grouped": lambda: grouped_measures(events, ["user_id"], "value", digits=9),
    }
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    got: dict[str, dict[str, list]] = {name: {} for name in queries}
    try:
        for parts in ("1", "3", "8"):
            spark.conf.set(conf, parts)
            for name, query in queries.items():
                got[name][parts] = sorted((tuple(r) for r in query().collect()), key=repr)
    finally:
        spark.conf.set(conf, saved)
    for name, by_parts in got.items():
        assert by_parts["1"], name
        assert by_parts["3"] == by_parts["1"], name
        assert by_parts["8"] == by_parts["1"], name
