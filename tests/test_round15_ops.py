"""Round-15 optimization-round pins.

VERDICT r14 #6: two by-construction distinctness invariants became
load-bearing in round 14's one-pass rewrites — (a) the one-pass tagged
manifest diff in ``run_change_feed`` assumes state rows are DISTINCT
within a version (a duplicated row would sum its tag twice and be
mis-classified), and (b) ``_views_with_disagreement``'s presence
bitmask assumes each view holds at most ONE row per user (presence
must be 0/1 per view for the bitmask sum to reconstruct the set ops).
Both hold by construction today; these pins make them impossible to
break silently in a refactor, plus a differential pin of the bitmask
form against the exceptAll form it replaced.
"""

import json
import os

import pytest
from pyspark.sql import functions as F


# --- invariant (a): state rows distinct within every retained version --------

def test_state_rows_distinct_within_every_version(spark, sf_dir, tmp_path):
    """The one-pass CDF diff (run_change_feed._emit_feed) tags new=1 /
    old=2 and drops rows summing to 3 — correct iff no version holds a
    duplicate state row (a row present TWICE in one version would sum
    2, 4, or 6 and be mis-tagged). (user_id, event_id) is the interval
    key by construction; this pin asserts the full-row distinctness on
    every version the retention window keeps, so a refactor that
    introduces duplicates fails here, not as a silent wrong feed."""
    from psd_project_spark.operators.scd import run_change_feed
    from psd_project_spark.streaming.foreach_sink import _MANIFEST

    state_dir = str(tmp_path / "state")
    run_change_feed(
        spark,
        sf_dir,
        src=str(tmp_path / "src"),
        state_dir=state_dir,
        feed_dir=str(tmp_path / "feed"),
        ckpt=str(tmp_path / "ckpt"),
    )
    versions = sorted(
        d for d in os.listdir(state_dir)
        if d.startswith("v") and
        os.path.exists(os.path.join(state_dir, d, _MANIFEST))
    )
    assert versions, "no published versions to check"
    state_cols = [
        "user_id", "event_id", "valid_from", "valid_to", "value",
        "is_current",
    ]
    for v in versions:
        with open(os.path.join(state_dir, v, _MANIFEST)) as fh:
            doc = json.load(fh)
        buckets = doc["buckets"] if "buckets" in doc else doc
        paths = [os.path.join(state_dir, rel) for rel in buckets.values()]
        rows = spark.read.parquet(*paths).select(*state_cols)
        n = rows.count()
        nd = rows.distinct().count()
        assert n == nd, f"duplicate state rows in {v}: {n} rows, {nd} distinct"
        assert n > 0


# --- invariant (b): views hold at most one row per user ----------------------

def _write_change_epoch(spark, feed_dir: str, epoch: int, users) -> None:
    rows = [(int(u), "I", float(u) + 0.25, True) for u in users]
    (
        spark.createDataFrame(
            rows, "user_id long, op string, value double, is_current boolean"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(feed_dir, f"batch_id={epoch}"))
    )


def test_view_snapshot_is_per_user_distinct(spark, tmp_path):
    """``_views_with_disagreement`` encodes presence per view as one
    bit; a view carrying TWO rows for one user would double-count its
    bit and the reconstruction breaks. The view fold group-bys user_id
    so the invariant holds by construction — pinned here on a real
    multi-epoch fold (overlapping user sets across epochs, so the fold
    path that merges standing state with a delta is exercised)."""
    from psd_project_spark.operators.scd import (
        _read_view_snapshot,
        apply_feed_epoch,
        register_feed_consumer,
    )

    feed = str(tmp_path / "feed")
    view = str(tmp_path / "view")
    os.makedirs(feed)
    register_feed_consumer(feed, "c")
    # overlapping user ranges: users 3..6 appear in two epochs
    _write_change_epoch(spark, feed, 0, range(0, 7))
    _write_change_epoch(spark, feed, 1, range(3, 10))
    for i in range(2):
        apply_feed_epoch(spark, feed, view, i, consumer="c")
    snap = _read_view_snapshot(spark, view)
    dup = (
        snap.groupBy("user_id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    assert snap.count() == 10


# --- differential: bitmask form ≡ exceptAll form ------------------------------

def _disagreement_exceptall(views):
    """The pre-r14 construction: union-distinct of all views plus, for
    each non-reference view, both exceptAll directions against
    views[0] — the form the one-pass bitmask aggregation replaced."""
    out = views[0]
    for v in views[1:]:
        out = out.unionByName(v)
    out = out.distinct()
    for v in views[1:]:
        out = out.unionByName(views[0].exceptAll(v)).unionByName(
            v.exceptAll(views[0])
        )
    return out


# --- eviction wins over an in-flight marker write (ADVICE r14 #1) -------------

def test_record_progress_retracts_marker_under_tombstone(tmp_path):
    """A consumer evicted while its own progress write is in flight
    must stay evicted: when the tombstone landed between the recorder's
    guard and its os.replace (modeled here as marker + tombstone both
    present when the write lands), the just-written marker is
    retracted — a resurrected marker would re-pin feed GC forever
    under a tombstone that blocks all the consumer's future applies."""
    import json

    from psd_project_spark.operators.scd import (
        _record_consumer_progress,
        _tombstone_path,
        feed_consumer_progress,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(os.path.join(feed, "_consumers"))
    _record_consumer_progress(feed, "c", 1)
    assert feed_consumer_progress(feed) == {"c": 1}
    with open(_tombstone_path(feed, "c"), "w") as fh:
        json.dump({"progress": 1, "evicted_at_epoch": 4, "max_lag": 2}, fh)
    _record_consumer_progress(feed, "c", 2)  # in-flight write lands late
    assert feed_consumer_progress(feed) == {}  # eviction won
    assert os.path.exists(_tombstone_path(feed, "c"))


# --- staged-sidecar affected-buckets fast path (VERDICT r14 #2) ---------------

def test_staged_sidecar_fast_path_matches_plain_staging(spark, sf_dir, tmp_path):
    """The bucketed staging's ``_BUCKETS.json`` sidecars must (a) name
    exactly the split's recomputed distinct bucket set, (b) feed every
    micro-batch through ``staged_affected_buckets`` (no fallback), and
    (c) leave the maintained state identical to the plain-staging
    (kernel distinct-collect) path — the parity pin for the r15
    job-floor optimization."""
    import json

    from pyspark.sql import functions as F

    import psd_project_spark.streaming.foreach_sink as fs
    from psd_project_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    src_b = str(tmp_path / "src_bucketed")
    src_p = str(tmp_path / "src_plain")
    fs.stage_stream_splits_bucketed(
        ev, F.col("event_id") % 3, src_b, bucket_by=["user_id"]
    )
    fs.stage_stream_splits(ev, F.col("event_id") % 3, src_p)
    for i in range(3):
        with open(os.path.join(src_b, f"p{i}", "_BUCKETS.json")) as fh:
            side = json.load(fh)
        truth = sorted(
            r["b"]
            for r in ev.filter(F.col("event_id") % 3 == i)
            .select(
                F.pmod(
                    F.hash("user_id"), F.lit(fs.N_STATE_BUCKETS)
                ).alias("b")
            )
            .distinct()
            .collect()
        )
        assert side["buckets"] == truth
        assert side["bucket_by"] == ["user_id"]
        assert side["n_buckets"] == fs.N_STATE_BUCKETS

    calls = []
    orig = fs.staged_affected_buckets

    def spy(ckpt, bid, bb, nb):
        r = orig(ckpt, bid, bb, nb)
        calls.append(r)
        return r

    def run(src, out, ckpt):
        arr = (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        fs.run_foreachbatch_upsert(
            arr, out, ckpt,
            key_cols=["user_id"], order_cols=["ts", "event_id"],
        )

    fs.staged_affected_buckets = spy
    try:
        run(src_b, str(tmp_path / "out_b"), str(tmp_path / "ck_b"))
        assert calls and all(c is not None for c in calls), calls
        run(src_p, str(tmp_path / "out_p"), str(tmp_path / "ck_p"))
    finally:
        fs.staged_affected_buckets = orig

    got_b = fs.current_upsert_table(spark, str(tmp_path / "out_b"))
    got_p = fs.current_upsert_table(spark, str(tmp_path / "out_p"))
    a = sorted(map(tuple, got_b.collect()))
    b = sorted(map(tuple, got_p.collect()))
    assert a == b and len(a) > 0


def test_wrong_sidecar_set_fails_loudly(spark, tmp_path):
    """A stale/wrong sidecar must never corrupt a manifest silently:
    the kernel's written ⊆ affected enforcement fails the epoch when a
    sidecar under-reports the delta's buckets."""
    import json

    from pyspark.sql import functions as F

    import psd_project_spark.streaming.foreach_sink as fs

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(64)], "user_id long, value double"
    )
    src = str(tmp_path / "src")
    fs.write_split_with_buckets(
        df, os.path.join(src, "p0"), ["user_id"], fs.N_STATE_BUCKETS
    )
    side_path = os.path.join(src, "p0", "_BUCKETS.json")
    with open(side_path) as fh:
        side = json.load(fh)
    assert len(side["buckets"]) > 1
    side["buckets"] = side["buckets"][:1]  # under-report
    with open(side_path, "w") as fh:
        json.dump(side, fh)
    arr = (
        spark.readStream.schema("user_id long, value double")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    with pytest.raises(Exception, match="key-local|affected"):
        fs.run_foreachbatch_versioned(
            arr,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            lambda cur, d, b: d if cur is None else cur.unionByName(d),
            bucket_by=["user_id"],
        )


def _staged_batch(tmp_path, sidecar_text: str) -> str:
    """A checkpoint whose batch 0 read one staged file, next to a
    ``_BUCKETS.json`` holding ``sidecar_text``; returns the checkpoint."""
    import json

    split = tmp_path / "src" / "p0"
    split.mkdir(parents=True)
    (split / "_BUCKETS.json").write_text(sidecar_text)
    log = tmp_path / "ck" / "sources" / "0"
    log.mkdir(parents=True)
    entry = {"path": f"file:{split}/part-0.parquet", "batchId": 0}
    (log / "0").write_text("v1\n" + json.dumps(entry) + "\n")
    return str(tmp_path / "ck")


def test_sidecar_fast_path_reads_a_good_sidecar(tmp_path):
    from psd_project_spark.streaming.foreach_sink import staged_affected_buckets

    good = '{"bucket_by": ["user_id"], "n_buckets": 8, "buckets": [5, 2]}'
    assert staged_affected_buckets(_staged_batch(tmp_path, good), 0, ["user_id"], 8) == [2, 5]


@pytest.mark.parametrize(
    "sidecar",
    [
        '{"bucket_by": ["user_id"], "n_buckets": 8, "buck',  # truncated
        '{"bucket_by": ["user_id"], "n_buckets": 8}',  # no buckets
    ],
    ids=["truncated", "without_buckets"],
)
def test_bad_sidecar_falls_back_instead_of_raising(tmp_path, sidecar):
    """ADVICE r15: a corrupt ``_BUCKETS.json`` must send the epoch down
    the distinct-collect path (``None``), not kill the stream."""
    from psd_project_spark.streaming.foreach_sink import staged_affected_buckets

    assert staged_affected_buckets(_staged_batch(tmp_path, sidecar), 0, ["user_id"], 8) is None


def test_two_source_checkpoint_falls_back(tmp_path):
    """ADVICE r15: source 0's sidecars are not a unioned stream's whole
    batch — a checkpoint with two sources takes the distinct-collect
    path (``None``) instead of under-reporting source 1's buckets."""
    import json

    from psd_project_spark.streaming.foreach_sink import staged_affected_buckets

    side = '{{"bucket_by": ["user_id"], "n_buckets": 8, "buckets": {}}}'
    ckpt = _staged_batch(tmp_path, side.format([1, 2]))
    split = tmp_path / "src" / "p1"
    split.mkdir()
    (split / "_BUCKETS.json").write_text(side.format([5]))
    log = tmp_path / "ck" / "sources" / "1"
    log.mkdir()
    entry = {"path": f"file:{split}/part-0.parquet", "batchId": 0}
    (log / "0").write_text("v1\n" + json.dumps(entry) + "\n")
    assert staged_affected_buckets(ckpt, 0, ["user_id"], 8) is None


@pytest.mark.parametrize("n_views", [2, 3])
def test_views_with_disagreement_matches_exceptall_form(spark, n_views):
    """Differential pin of the r14 one-pass bitmask aggregation
    against the exceptAll form it replaced, on per-user-distinct views
    with every disagreement shape: a user missing from one view, a
    user with a different aggregate in one view, users agreeing
    everywhere, and a user present ONLY in a non-reference view."""
    from psd_project_spark.operators.scd import _views_with_disagreement

    schema = "user_id long, n_rows long, sum_value double, n_current long"
    ref = spark.createDataFrame(
        [(1, 2, 1.5, 1), (2, 1, 2.0, 0), (3, 3, 0.5, 2), (4, 1, 4.0, 1)],
        schema,
    )
    # view b: user 2 disagrees, user 4 missing, user 5 extra
    b = spark.createDataFrame(
        [(1, 2, 1.5, 1), (2, 9, 9.0, 9), (3, 3, 0.5, 2), (5, 1, 5.0, 1)],
        schema,
    )
    # view c: agrees with ref exactly
    views = [ref, b, ref.select("*")][:n_views]
    got = sorted(
        map(tuple, _views_with_disagreement(views).collect())
    )
    want = sorted(
        map(tuple, _disagreement_exceptall(views).collect())
    )
    assert got == want
