"""Round-5 operators: incremental index maintenance.

The append path must be indistinguishable from a from-scratch rebuild:
each incremental query is diffed directly against its one-shot sibling
(same probe, same corpus) AND against the DuckDB oracle.
"""

from tests.conftest import SF_DIR
from tests.oracle_utils import compare_frames, duck_connection


def _frames_equal(a, b):
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert a.equals(b)


def test_minhash_incremental_equals_rebuild(spark):
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators.dedup import (
        minhash_index_export,
        minhash_index_incremental,
    )

    full = minhash_index_export(spark, SF_DIR).toPandas()
    release_transient()
    incr = minhash_index_incremental(spark, SF_DIR).toPandas()
    release_transient()
    _frames_equal(incr, full)


def test_ann_incremental_equals_rebuild(spark):
    from psd_project_spark.operators.similarity import (
        ann_index_export,
        ann_index_incremental,
    )

    full = ann_index_export(spark, SF_DIR).toPandas()
    incr = ann_index_incremental(spark, SF_DIR).toPandas()
    _frames_equal(incr, full)


def test_minhash_incremental_oracle_parity(spark):
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators.dedup import (
        CROSS_DEDUP_ORACLE,
        minhash_index_incremental,
    )

    got = minhash_index_incremental(spark, SF_DIR).toPandas()
    release_transient()
    con = duck_connection(SF_DIR)
    compare_frames(got, con.execute(CROSS_DEDUP_ORACLE).fetchdf())


def test_incremental_marker_gates_reuse(spark, tmp_path, monkeypatch):
    """A crash between the base write and the delta append leaves a dir
    without the _DELTA_APPENDED marker — the next run must rebuild, not
    serve the base-only index."""
    import os

    import psd_project_spark.operators.dedup as dd

    scratch = str(tmp_path / "idx")
    monkeypatch.setattr(dd, "_minhash_index_dir", lambda sf: scratch)
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators.dedup import (
        _with_signatures,
        load_table,
    )
    from pyspark.sql import functions as F

    sigs = _with_signatures(load_table(spark, SF_DIR, "documents"), spark)
    is_eval = F.col("doc_id") % 50 == 0
    # simulate the crash: base batch written, no marker
    dd._write_minhash_index(
        sigs.filter(~is_eval & ~(F.col("doc_id") % 3 == 2)),
        scratch + "_incr",
        "overwrite",
    )
    assert os.path.exists(os.path.join(scratch + "_incr", "_SUCCESS"))
    assert not os.path.exists(
        os.path.join(scratch + "_incr", "_DELTA_APPENDED")
    )
    got = dd.minhash_index_incremental(spark, SF_DIR).toPandas()
    release_transient()
    full = dd.minhash_index_export(spark, SF_DIR).toPandas()
    release_transient()
    _frames_equal(got, full)


def test_compaction_preserves_probe(spark, tmp_path, monkeypatch):
    """Per-bucket compaction: appended multi-file buckets rewrite to
    one file each (dynamic partition overwrite, only hot buckets
    touched), and probe results are byte-identical. Scratch index dir:
    the shared /tmp index may already be compacted from a prior run."""
    import psd_project_spark.operators.dedup as dd
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators import index_compact as ic
    from psd_project_spark.operators.dedup import minhash_index_incremental

    monkeypatch.setattr(
        dd, "_minhash_index_dir", lambda sf: str(tmp_path / "idx")
    )
    before = minhash_index_incremental(spark, SF_DIR).toPandas()
    release_transient()
    path = str(tmp_path / "idx") + "_incr"
    assert ic.multi_file_buckets(path), "append left no multi-file buckets"
    n = ic.compact_minhash_index(spark, path)
    assert n > 0
    assert ic.multi_file_buckets(path) == []
    after = minhash_index_incremental(spark, SF_DIR).toPandas()
    release_transient()
    _frames_equal(after, before)


def test_ann_compaction_preserves_probe(spark, tmp_path, monkeypatch):
    """compact_ann_index: same per-bucket rewrite contract as the
    MinHash index — appended multi-file buckets become one file each
    and probe results are byte-identical."""
    import psd_project_spark.operators.similarity as sim
    from psd_project_spark.operators import index_compact as ic
    from psd_project_spark.operators.similarity import ann_index_incremental

    monkeypatch.setattr(
        sim, "_ann_index_dir", lambda sf: str(tmp_path / "annidx")
    )
    before = ann_index_incremental(spark, SF_DIR).toPandas()
    path = str(tmp_path / "annidx") + "_incr"
    assert ic.multi_file_buckets(path), "append left no multi-file buckets"
    n = ic.compact_ann_index(spark, path)
    assert n > 0
    assert ic.multi_file_buckets(path) == []
    after = ann_index_incremental(spark, SF_DIR).toPandas()
    _frames_equal(after, before)


def test_compaction_crash_forces_rebuild(spark, tmp_path, monkeypatch):
    """Fault injection: a crash mid-compaction must leave a directory
    that FAILS the incremental gate (markers removed before the
    rewrite), so the next run rebuilds instead of silently serving an
    index with destroyed buckets."""
    import os

    import pytest as _pytest

    import psd_project_spark.operators.dedup as dd
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators import index_compact as ic

    monkeypatch.setattr(
        dd, "_minhash_index_dir", lambda sf: str(tmp_path / "idx")
    )
    before = dd.minhash_index_incremental(spark, SF_DIR).toPandas()
    release_transient()
    path = str(tmp_path / "idx") + "_incr"
    assert os.path.exists(os.path.join(path, "_DELTA_APPENDED"))

    def boom(hot, p, cols, nparts):
        raise RuntimeError("injected mid-compaction crash")

    monkeypatch.setattr(ic, "_rewrite", boom)
    with _pytest.raises(RuntimeError):
        ic.compact_minhash_index(spark, path)
    # gates invalidated -> the builder must NOT trust this directory
    assert not os.path.exists(os.path.join(path, "_DELTA_APPENDED"))
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    monkeypatch.undo()
    monkeypatch.setattr(
        dd, "_minhash_index_dir", lambda sf: str(tmp_path / "idx")
    )
    after = dd.minhash_index_incremental(spark, SF_DIR).toPandas()
    release_transient()
    _frames_equal(after, before)


def test_prune_stale_siblings_scopes_correctly(tmp_path):
    """Pruning removes only same-layout-prefix dirs with a DIFFERENT
    fingerprint — current fp's one-shot and _incr trees survive, other
    layouts survive."""
    import os

    from psd_project_spark.functions.caching import (
        prune_stale_siblings,
    )

    parent = str(tmp_path)
    keep = ["minhash_index_4x256_aaaaaaaaaa",
            "minhash_index_4x256_aaaaaaaaaa_incr",
            "ann_lsh_index_8x6_ibkey_bbbbbbbbbb",
            "unrelated_dir"]
    drop = ["minhash_index_4x256_0123456789",
            "minhash_index_4x256_0123456789_incr"]
    for d in keep + drop:
        os.makedirs(os.path.join(parent, d))
    n = prune_stale_siblings(parent, "minhash_index_4x256_", "aaaaaaaaaa")
    assert n == len(drop)
    left = sorted(os.listdir(parent))
    assert left == sorted(keep)


def test_prune_siblings_of_parses_and_guards(tmp_path):
    """prune_siblings_of: exact fingerprint-position parse for both
    the one-shot and _incr forms, and a hard no-op on
    non-fingerprinted (test-scratch) names."""
    import os

    from psd_project_spark.functions.caching import prune_siblings_of

    for d in ["minhash_index_4x256_aaaa0000bb",
              "minhash_index_4x256_aaaa0000bb_incr",
              "minhash_index_4x256_ccc111ddd2",
              "idx", "annidx"]:
        os.makedirs(tmp_path / d)
    # incr form of the live fp prunes only the stale sibling fp
    n = prune_siblings_of(str(tmp_path / "minhash_index_4x256_aaaa0000bb_incr"))
    assert n == 1
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["minhash_index_4x256_aaaa0000bb",
         "minhash_index_4x256_aaaa0000bb_incr", "idx", "annidx"]
    )
    # scratch names never prune anything
    assert prune_siblings_of(str(tmp_path / "idx")) == 0
    assert len(os.listdir(tmp_path)) == 4
