"""Hypothesis property tests for the measure library (SURVEY.md §5.2-5).

Invariants over arbitrary windows:
- ordering: tail_mean ≤ q10 ≤ median; sm1 ≤ mean; sm2 ≤ mean
- both dispersion measures are location-equivariant: m(x + c) = m(x) + c
- the numpy kernel shared by the batch and streaming paths agrees
  bit-for-bit with the pure-Python reference fold.
"""

import math

from hypothesis import given, settings, strategies as st

from psd_project_spark.config import MEASURES as MEASURE_FIELDS
from psd_project_spark.functions.measures_np import compute_measures_sorted

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
windows = st.lists(finite, min_size=2, max_size=60)


@given(windows)
@settings(max_examples=200, deadline=None)
def test_measure_ordering_invariants(xs):
    m = compute_measures_sorted(sorted(xs))
    assert m["tail_mean"] <= m["q10"] + 1e-9 * max(1, abs(m["q10"]))
    assert m["q10"] <= m["median"] + 1e-9 * max(1, abs(m["median"]))
    assert m["sm1"] <= m["mean"] + 1e-9 * max(1, abs(m["mean"]))
    assert m["sm2"] <= m["mean"] + 1e-9 * max(1, abs(m["mean"]))


@given(windows, st.floats(min_value=-100, max_value=100, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_location_equivariance(xs, c):
    base = compute_measures_sorted(sorted(xs))
    shifted = compute_measures_sorted(sorted(x + c for x in xs))
    for f in MEASURE_FIELDS:
        # dispersion-adjusted measures shift with the data
        assert math.isclose(
            shifted[f], base[f] + c, rel_tol=1e-6, abs_tol=1e-6
        ), (f, base[f], shifted[f], c)


@given(windows)
@settings(max_examples=100, deadline=None)
def test_vectorized_matches_scalar(xs):
    """The shared numpy kernel == the scalar reference fold, exactly."""
    import numpy as np

    from psd_project_spark.functions.measures_np import _measures_vectorized

    s = np.sort(np.asarray(xs, dtype=np.float64))
    vec = _measures_vectorized(s[None, :])
    ref = compute_measures_sorted(sorted(xs))
    for f, col in zip(MEASURE_FIELDS, vec):
        assert col[0] == ref[f] or (math.isnan(col[0]) and math.isnan(ref[f])), (
            f, col[0], ref[f],
        )


def test_approx_distinct_within_rsd(spark):
    """The HLL++ sketch estimate stays within 5×rsd of the exact
    count per group (rsd=1% ⇒ 5% tolerance — generous vs the
    sketch's 1-sigma bound, so the test is stall-proof)."""
    from psd_project_spark.operators.scalar_functions import (
        approx_distinct_users,
        distinct_users_per_type,
    )
    from tests.conftest import SF_DIR

    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in approx_distinct_users(spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in distinct_users_per_type(spark, SF_DIR).collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, approx[k], n)


def test_approx_quantiles_within_rank_error(spark):
    """Each GK-sketch percentile estimate corresponds to a true rank
    within 5×(1/accuracy) of the requested quantile — checked by
    computing the estimate's exact rank in the group, not by comparing
    float values (value distance is distribution-dependent; rank
    distance is the sketch's actual guarantee)."""
    from pyspark.sql import functions as F

    from psd_project_spark.operators.scalar_functions import (
        approx_price_quantiles,
    )
    from psd_project_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    est = {
        r["l_returnflag"]: r for r in approx_price_quantiles(spark, SF_DIR).collect()
    }
    l = load_table(spark, SF_DIR, "lineitem")
    tol = 5 * 1.0 / 10000
    for flag, row in est.items():
        grp = l.filter(F.col("l_returnflag") == flag)
        n = row["n"]
        for p, col in ((0.5, "p50_approx"), (0.9, "p90_approx"), (0.99, "p99_approx")):
            rank = grp.filter(F.col("l_extendedprice") <= row[col]).count()
            assert abs(rank / n - p) <= tol + 1.0 / n, (flag, p, rank / n)


def test_media_resize_matches_local_recompute(spark):
    """The mapInPandas resample must produce, for every doc, exactly
    the bytes a local numpy stride of the utf-8 payload produces."""
    import hashlib

    import numpy as np

    from psd_project_spark.operators.multimodal import (
        RESIZE_STRIDE,
        media_resize_binary,
    )
    from psd_project_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    got = {r["doc_id"]: r for r in media_resize_binary(spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    for r in docs[:50]:
        raw = r["text"].encode("utf-8")
        small = np.frombuffer(raw, dtype=np.uint8)[::RESIZE_STRIDE].tobytes()
        g = got[r["doc_id"]]
        assert g["orig_bytes"] == len(raw)
        assert g["resized_bytes"] == len(small)
        assert bytes(g["resized"]) == small
        assert g["resized_md5"] == hashlib.md5(small).hexdigest()


def test_zlib_fixture_is_fresh():
    """The compression_ratio oracle reads tests/fixtures/zlib_by_md5
    .parquet. Recompute it from the CURRENT testdata and require every
    current doc to be covered with the same compressed size — catches a
    driver testdata regeneration at round start, loudly, before the
    oracle turns an opaque red. Regenerate: python tools/gen_zlib_fixture.py"""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import duckdb

    from gen_zlib_fixture import OUT, build_rows

    fresh = build_rows()
    con = duckdb.connect()
    stored = dict(
        con.execute(f"SELECT text_md5, n_compressed FROM '{OUT}'").fetchall()
    )
    missing = [k for k in fresh if k not in stored]
    stale = [k for k in fresh if k in stored and stored[k] != fresh[k]]
    assert not missing and not stale, (
        f"zlib fixture stale ({len(missing)} missing, {len(stale)} changed): "
        "run python tools/gen_zlib_fixture.py"
    )


def test_compression_ratio_invariants(spark):
    """zlib signal: ratios positive, bounded, and repetitive docs
    compress at least as well as the corpus median."""
    from psd_project_spark.operators.behavior import compression_ratio
    from tests.conftest import SF_DIR

    rows = compression_ratio(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_bytes"] > 0
        assert 0 < r["n_compressed"] <= r["n_bytes"] + 32
        assert abs(r["compression_ratio"] - r["n_compressed"] / r["n_bytes"]) < 1e-15
    import zlib as _z

    # spot-check one row against a local recompute
    from psd_project_spark.sources.registry import load_table

    doc = load_table(spark, SF_DIR, "documents").limit(1).collect()[0]
    got = [r for r in rows if r["doc_id"] == doc["doc_id"]][0]
    assert got["n_compressed"] == len(_z.compress(doc["text"].encode(), 6))
