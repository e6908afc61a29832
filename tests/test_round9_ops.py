"""Round-9 operator tests: the persisted IVF index lifecycle
(VERDICT r07 #3 / r08 #3) — layout, manifest hygiene, crash gates,
and the persisted ≡ in-memory differential."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from psd_project_spark.operators import similarity as S
from psd_project_spark.operators.index_compact import (
    list_partitions,
    multi_file_buckets,
)
from tests.conftest import SF_DIR


def _fresh(path):
    shutil.rmtree(path, ignore_errors=True)


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cell"], r["cosine"], r["rank"])
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def ivf_results(spark):
    """One build+probe of both persisted variants plus the in-memory
    reference, from clean directories."""
    _fresh(S._ivf_index_dir(SF_DIR))
    _fresh(S._ivf_index_dir(SF_DIR) + "_cmp")
    return {
        "mem": _rows(S.ivf_ann_cosine(spark, SF_DIR)),
        "search": _rows(S.ivf_index_search(spark, SF_DIR)),
        "cmp": _rows(S.ivf_index_compaction(spark, SF_DIR)),
    }


def test_persisted_ivf_equals_in_memory(ivf_results):
    """The central lifecycle claim: persist + manifest-pruned probe ≡
    the unpersisted assignment join, and base+delta+compact ≡ the
    one-shot build — row-for-row, including cell ids and ranks."""
    assert ivf_results["search"] == ivf_results["mem"]
    assert ivf_results["cmp"] == ivf_results["mem"]
    assert len(ivf_results["mem"]) == S.N_QUERIES * S.ANN_TOP_K


def test_ivf_layout_and_manifest(spark, ivf_results):
    """Cell dirs are the partition key; the quantizer lives under the
    underscore-hidden ``_quantizer/`` and never leaks into the
    partition manifest or the compaction bucket walk."""
    path = S._ivf_index_dir(SF_DIR)
    parts = list_partitions(path)
    assert parts and all(p.startswith("cell=") for p in parts)
    assert os.path.exists(os.path.join(path, "_quantizer", "_SUCCESS"))
    assert not any("_quantizer" in b for b in multi_file_buckets(path))
    qz = spark.read.parquet(f"{path}/_quantizer")
    assert qz.count() == S.N_CELLS


def test_ivf_compaction_leaves_single_file_cells(ivf_results):
    """After the lifecycle's compaction, no cell holds more than one
    parquet file (the base+delta append created multi-file cells; the
    per-bucket rewrite collapsed exactly those)."""
    path = S._ivf_index_dir(SF_DIR) + "_cmp"
    assert multi_file_buckets(path) == []
    assert os.path.exists(os.path.join(path, "_DELTA_APPENDED"))


def test_ivf_gate_rejects_missing_quantizer(spark, ivf_results):
    """Crash contract: a directory whose data write committed but
    whose quantizer is missing — so its ``_PARTITIONS`` gate, published
    after both, is missing too — fails the completion gate and
    rebuilds (rather than serving a probe that cannot be answered)."""
    path = S._ivf_index_dir(SF_DIR)
    shutil.rmtree(os.path.join(path, "_quantizer"))
    os.remove(os.path.join(path, "_PARTITIONS"))
    got = _rows(S.ivf_index_search(spark, SF_DIR))
    assert os.path.exists(os.path.join(path, "_quantizer", "_SUCCESS"))
    assert got == ivf_results["mem"]


def test_ivf_probe_reads_only_probed_cells(spark, ivf_results):
    """Scale claim made observable: the probe's parquet scan lists
    ONLY the nprobe cells of each query — at most
    N_QUERIES × N_PROBE distinct directories, never all N_CELLS —
    and prunes them at file-listing time (literal paths)."""
    from psd_project_spark.plans.inspect import partition_filters

    path = S._ivf_index_dir(SF_DIR)
    e = S._embeddings(spark, SF_DIR)
    df = S._probe_ivf_index(spark, e, path)
    pf = partition_filters(df)
    assert any("cell" in f for f in pf), pf
    # the literal path list itself is bounded by the probe fan-out:
    # the probed cell set comes from the same helper the probe uses
    import numpy as np

    qz = spark.read.parquet(f"{path}/_quantizer").collect()
    cb_ids = sorted(int(r["cid"]) for r in qz)
    vc = {int(r["cid"]): r["vc"] for r in qz}
    codebook = np.array([vc[c] for c in cb_ids], dtype=np.float64)
    qrows = {
        r["vec_id"]: r["_v"]
        for r in e.filter(F.col("vec_id") < S.N_QUERIES)
        .select("vec_id", "_v")
        .collect()
    }
    cells = {c for _, _, c in S._ivf_probe_rows(qrows, codebook, cb_ids)}
    assert 0 < len(cells) <= S.N_QUERIES * S.N_PROBE


def test_stream_ivf_search_equals_one_shot(spark, ivf_results):
    """The streaming serve path: per-epoch quantizer-pruned probes +
    epoch-sink reassembly ≡ the one-shot probe ≡ the in-memory IVF."""
    got = _rows(S.stream_ivf_search(spark, SF_DIR))
    assert got == ivf_results["mem"]


def test_stream_ivf_search_oversized_epoch_fails_cleanly(spark, tmp_path):
    import numpy as np

    fn = S._ivf_search_batch_fn(
        str(tmp_path / "idx"), str(tmp_path / "out"),
        np.eye(2), [0, 1], max_epoch_rows=3,
    )
    batch = spark.createDataFrame(
        [(100 + i, [float(i), 2.0]) for i in range(5)],
        "vec_id long, _v array<double>",
    )
    with pytest.raises(RuntimeError, match="query vectors"):
        fn(batch, 0)


def test_stream_minhash_screen_equals_index_probe(spark):
    """The streaming near-dup screen: per-epoch manifest-pruned band
    probes + Jaccard verification + epoch reassembly ≡ the one-shot
    persisted-index probe (both share cross_dedup_minhash's oracle)."""
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators.dedup import minhash_index_export
    from psd_project_spark.operators.minhash_stream import (
        stream_minhash_screen,
    )

    got = (
        stream_minhash_screen(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_eval")
        .reset_index(drop=True)
    )
    release_transient()
    ref = (
        minhash_index_export(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_eval")
        .reset_index(drop=True)
    )
    assert got.equals(ref[got.columns])
    assert len(got) > 0


def test_stream_minhash_screen_oversized_epoch_fails_cleanly(
    spark, tmp_path
):
    from psd_project_spark.operators.minhash_stream import (
        _minhash_screen_batch_fn,
    )

    st = spark.createDataFrame([], "doc_train long, _sht array<string>")
    fn = _minhash_screen_batch_fn(
        str(tmp_path / "idx"), set(), st, str(tmp_path / "out"),
        max_epoch_docs=2,
    )
    batch = spark.createDataFrame(
        [(i, "words words words " * 10) for i in range(4)],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="documents"):
        fn(batch, 0)


def test_stream_index_maintain_per_bucket_merge(spark):
    """VERDICT r08 #4: the stream-maintained index commits staged
    epochs by per-bucket file rename + multi-file-bucket compaction
    (never a full-index re-shuffle), and still equals the one-shot
    full-corpus screen row-for-row."""
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators import exact_substr as ES

    path = ES._substr_index_dir(SF_DIR) + "_stream"
    _fresh(path)
    got = (
        ES.stream_index_maintain(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    release_transient()
    ref = (
        ES.decontaminate_substr(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(ref[got.columns])
    # canonical post-compaction layout: one file per appended-to
    # bucket, no staging leftovers, manifest present
    assert multi_file_buckets(path) == []
    assert not os.path.isdir(path + "_stage")
    assert list_partitions(path)
    assert os.path.exists(os.path.join(path, "_DELTA_APPENDED"))


def test_maintain_epoch_replay_is_idempotent(spark, tmp_path):
    """Crash-recovery double delivery: replaying an epoch overwrites
    its own staging partition, and the rename commit gives replayed
    files deterministic names — never a double append."""
    from psd_project_spark.operators import exact_substr as ES

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 30) for i in range(6)],
        "doc_id long, text string",
    )
    stage = str(tmp_path / "stage")
    lock = str(tmp_path / "idx")
    fn = ES._maintain_batch_fn(stage, lock)
    fn(docs, 7)
    once = (
        spark.read.option("basePath", stage)
        .parquet(f"{stage}/epoch=7")
        .count()
    )
    fn(docs, 7)  # replay
    twice = (
        spark.read.option("basePath", stage)
        .parquet(f"{stage}/epoch=7")
        .count()
    )
    assert once == twice > 0
    os.makedirs(lock)
    ES._merge_staged_epochs(stage, lock)
    merged = spark.read.option("basePath", lock).parquet(lock).count()
    assert merged == once


def test_bucketed_join_elides_exchanges(spark):
    """The co-located pair's claim, plan-tested: the bucketed
    lineitem⋈orders join has NO exchange below the join (bucketing
    already co-located both sides); the identical join over raw
    parquet shuffles both sides. Results are identical."""
    from psd_project_spark.operators.bucketing import (
        bucketed_join_roundtrip,
    )
    from psd_project_spark.plans.inspect import executed_plan
    from psd_project_spark.sources.registry import load_table

    df = bucketed_join_roundtrip(spark, SF_DIR)
    plan = executed_plan(df)
    assert "SortMergeJoin" in plan
    # the single hash exchange is the 3-row groupBy AFTER the join
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 1, plan
    # raw-parquet differential: same join shape, both sides shuffle
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    raw = (
        li.join(
            o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    assert executed_plan(raw).count("Exchange hashpartitioning") >= 2
    # and the exchange-free result matches the straightforward rollup
    got = {
        (r["o_orderstatus"], r["n_items"]) for r in df.collect()
    }
    ref = {(r["o_orderstatus"], r["n_items"]) for r in raw.collect()}
    assert got == ref


def test_bucketed_point_lookup_prunes_buckets(spark):
    """The layout's second dividend: an equality filter on the bucket
    key scans ONE bucket out of N_BUCKETS (bucket pruning at file
    level) — the point-lookup shape a reconciliation job runs."""
    import re

    from psd_project_spark.operators.bucketing import (
        N_BUCKETS,
        _bucketed_pair,
    )
    from psd_project_spark.plans.inspect import formatted_plan

    _, lineitem_t = _bucketed_pair(spark, SF_DIR)
    # autoBucketedScan downgrades scan-only queries to a plain scan
    # (no interleaving operator benefits from bucketing) — disable it
    # so the point lookup keeps the bucketed scan and its pruning
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        one = spark.table(lineitem_t).filter(F.col("l_orderkey") == 19)
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)",
                      formatted_plan(one))
    finally:
        spark.conf.set(key, prev)
    assert m, "expected a bucketed scan"
    assert int(m.group(1)) == 1 and int(m.group(2)) == N_BUCKETS


def test_bucketed_join_survives_reinvocation(spark):
    """The bench/driver loops invoke every query at least twice per
    session: the catalog gate must reuse COHERENT files (a per-call
    scratch reclaim deleted them out from under the standing catalog
    entries in the first cut — the exact bug this pins)."""
    from psd_project_spark.operators.bucketing import (
        bucketed_join_roundtrip,
    )

    from psd_project_spark.functions.caching import _cleanup_scratch

    a = sorted(map(tuple, bucketed_join_roundtrip(spark, SF_DIR).collect()))
    b = sorted(map(tuple, bucketed_join_roundtrip(spark, SF_DIR).collect()))
    assert a == b and len(a) > 0
    # and survive a mid-session scratch sweep (test_round7_ops runs
    # one for real): the file-level gate must rebuild, never serve
    # the standing catalog entry whose files are gone
    _cleanup_scratch()
    c = sorted(map(tuple, bucketed_join_roundtrip(spark, SF_DIR).collect()))
    assert c == a


def test_range_join_is_bucketed_equi_join(spark):
    """The range-join rewrite's claims: (a) the plan carries NO
    nested-loop or cartesian join — the BETWEEN predicate became an
    equi-join on the bucket id; (b) results equal a brute-force
    pairwise count on the same data."""
    from psd_project_spark.operators.range_join import (
        RANGE_W_US,
        range_join_overlap,
    )
    from psd_project_spark.plans.inspect import executed_plan
    from psd_project_spark.sources.registry import load_table

    df = range_join_overlap(spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    got = {(r["event_id"], r["n_overlap"]) for r in df.collect()}
    rows = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.unix_micros(F.col("ts")).alias("us"))
        .collect()
    )
    ref = {
        (a["event_id"],
         sum(1 for b in rows
             if b["event_id"] != a["event_id"]
             and abs(b["us"] - a["us"]) <= RANGE_W_US))
        for a in rows
    }
    assert got == ref
    assert any(n > 0 for _, n in got)  # the window actually matches


def test_range_join_pairs_meet_in_one_bucket(spark):
    """Home-bucket assignment counts every qualifying pair exactly
    once — including pairs that straddle a bucket boundary (us one
    microsecond either side of a multiple of W)."""
    from psd_project_spark.operators import range_join as R

    W = R.RANGE_W_US
    base = 10 * W
    data = [(1, base - 1), (2, base + 1), (3, base + W), (4, base + 3 * W)]
    ev = spark.createDataFrame(data, "event_id long, us long")
    got = sorted(
        (r["event_id"], r["b_id"]) for r in R.overlap_pairs(ev).collect()
    )
    ref = sorted(
        (a, b)
        for a, ua in data
        for b, ub in data
        if a != b and abs(ua - ub) <= W
    )
    assert got == ref  # exact multiset: no misses, no double counts


def test_scd2_history_chain_and_plan(spark):
    """SCD2 intervals: exactly one data-sized exchange (the user_id
    window), intervals chain per user without gaps, ties break by
    event_id, exactly one current row per user."""
    from psd_project_spark.operators.scd import scd2_history
    from psd_project_spark.plans.inspect import executed_plan

    df = scd2_history(spark, SF_DIR)
    # the orderBy adds a range exchange for presentation; the data-
    # sized hash exchange is the single user_id window partition
    assert executed_plan(df).count("Exchange hashpartitioning") == 1
    rows = df.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, chain in by_user.items():
        assert sum(1 for r in chain if r["is_current"]) == 1
        for a, b in zip(chain, chain[1:]):
            assert a["valid_to"] == b["valid_from"], (user, a, b)
        assert chain[-1]["valid_to"] is None


def test_walk_partitions_skips_hidden_dirs(tmp_path):
    """The manifest walk ignores underscore/dot-prefixed dirs (the
    Spark hidden-path convention) at any depth."""
    root = tmp_path / "idx"
    for d in ("cell=1", "cell=2", "_quantizer", ".staging/cell=9"):
        p = root / d
        p.mkdir(parents=True)
        (p / "part-0.parquet").write_bytes(b"x")
    from psd_project_spark.operators.index_compact import _walk_partitions

    assert _walk_partitions(str(root)) == ["cell=1", "cell=2"]
