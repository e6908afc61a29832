"""Round-10 operator tests: the point-in-time as-of feature join and
the streaming SCD2 interval maintenance (VERDICT r09 "Next round"
#2/#3) — plan shape, tie/late-data semantics, restart idempotency."""

import glob
import os

from pyspark.sql import functions as F

from psd_project_spark.operators.scd import (
    _scd2_intervals,
    asof_feature_join,
    asof_join,
    run_scd2_maintenance,
    scd2_history,
    scd2_merge,
)
from psd_project_spark.streaming.foreach_sink import read_versioned
from tests.conftest import SF_DIR


def test_asof_feature_join_plan_one_exchange(spark):
    """The union-sort-fill as-of join shuffles the data exactly ONCE
    (the user_id window) and never falls back to a nested-loop or
    cartesian join — the property the non-equi BETWEEN form lacks."""
    from psd_project_spark.plans.inspect import executed_plan

    plan = executed_plan(asof_feature_join(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_join_tie_and_boundary_semantics(spark):
    """Hand-built chain: a probe AT a state event's ts sees it
    (valid_from inclusive); tied state events resolve to the highest
    event_id (the empty-interval rule); probes before the first event
    keep NULLs; probes after the last event see the open interval."""
    state = spark.createDataFrame(
        [
            (1, 11, 100, 1.0),
            (1, 13, 100, 2.0),  # tied ts with 11: 13 owns [100, 200)
            (1, 15, 200, 3.0),
            (2, 21, 500, 9.0),
        ],
        "user_id long, event_id long, ts long, value double",
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    probes = spark.createDataFrame(
        [
            (1, 90, 50),    # before first event → NULLs
            (1, 92, 100),   # at tied ts → event 13
            (1, 94, 150),   # inside [100, 200) → event 13
            (1, 96, 200),   # at boundary → event 15
            (1, 98, 999),   # open interval → event 15
            (2, 91, 400),   # other user, before its event → NULLs
            (2, 93, 500),   # at its event → event 21
        ],
        "user_id long, probe_id long, ts long",
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    got = {
        (r["user_id"], r["probe_id"], r["asof_event_id"], r["asof_value"])
        for r in asof_join(state, probes).collect()
    }
    assert got == {
        (1, 90, None, None),
        (1, 92, 13, 2.0),
        (1, 94, 13, 2.0),
        (1, 96, 15, 3.0),
        (1, 98, 15, 3.0),
        (2, 91, None, None),
        (2, 93, 21, 9.0),
    }


def test_asof_equals_interval_lookup(spark):
    """Differential vs the SCD2 intervals themselves: for every probe,
    the as-of answer equals the (unique) interval containing its ts —
    the composition the operator exists for."""
    from psd_project_spark.sources.registry import load_table

    rows = asof_feature_join(spark, SF_DIR).collect()
    # intervals over the STATE set only (lead within odd events) —
    # filtering scd2_history after its all-events lead would close
    # each interval at the next event of either parity
    ev = _scd2_intervals(
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "ts", "value")
        .filter(F.col("event_id") % 2 == 1)
    ).collect()
    # probe cardinality is preserved exactly (each probe matches ≤ 1
    # interval)
    n_probes = len([r for r in rows])
    assert n_probes > 0
    intervals = {}
    for r in ev:
        intervals.setdefault(r["user_id"], []).append(r)
    for r in rows:
        hits = [
            iv
            for iv in intervals.get(r["user_id"], [])
            if iv["valid_from"] <= r["ts"]
            and (iv["valid_to"] is None or r["ts"] < iv["valid_to"])
        ]
        assert len(hits) <= 1
        if hits:
            assert (r["asof_event_id"], r["asof_value"]) == (
                hits[0]["event_id"],
                hits[0]["value"],
            ), r
        else:
            assert r["asof_event_id"] is None and r["asof_value"] is None


def test_stream_asof_lookup_equals_batch(spark):
    """The serving stream's per-epoch pruned lookups reassemble to the
    one-shot batch as-of join exactly (disjoint probe split, ≥2 real
    epochs), proving the left_semi state pruning and the epoch sink
    layout change nothing."""
    from psd_project_spark.operators.scd import stream_asof_lookup

    key = lambda df: sorted(
        map(
            tuple,
            df.select(
                "user_id", "probe_id", "ts", "asof_event_id", "asof_value"
            ).collect(),
        )
    )
    got = key(stream_asof_lookup(spark, SF_DIR))
    want = key(asof_feature_join(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_asof_join_randomized_differential(spark):
    """Seeded randomized differential: 300 independent user scenarios
    (dense ts domain → frequent ties, empty/singleton histories,
    probes before/at/after events) run through asof_join in ONE Spark
    job and compare against the brute-force in-force rule (max ts ≤
    probe ts, then max event_id) — the semantics the interval chain
    and both oracles define."""
    import random

    rng = random.Random(0)
    state_rows, probe_rows = [], []
    expected = {}
    for uid in range(1, 301):
        n_state = rng.randint(0, 5)
        n_probe = rng.randint(1, 4)
        ids = rng.sample(range(1, 100), n_state + n_probe)
        state = [
            (uid, ids[i], rng.randint(0, 8), float(rng.randint(-5, 5)))
            for i in range(n_state)
        ]
        state_rows += state
        for j in range(n_probe):
            pid = ids[n_state + j]
            pts = rng.randint(0, 8)
            probe_rows.append((uid, pid, pts))
            hits = [s for s in state if s[2] <= pts]
            if hits:
                best = max(hits, key=lambda s: (s[2], s[1]))
                expected[(uid, pid)] = (best[1], best[3])
            else:
                expected[(uid, pid)] = (None, None)
    state_df = spark.createDataFrame(
        state_rows, "user_id long, event_id long, ts long, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    probe_df = spark.createDataFrame(
        probe_rows, "user_id long, probe_id long, ts long"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    got = {
        (r["user_id"], r["probe_id"]): (r["asof_event_id"], r["asof_value"])
        for r in asof_join(state_df, probe_df).collect()
    }
    assert got == expected


def test_versioned_runner_prunes_old_versions(spark, tmp_path):
    """Retention: after N epochs only keep_versions version dirs
    remain, current points at the newest, and the state is unaffected
    by pruning (the replay guard reads the symlink number, never old
    version contents)."""
    src_dir = tmp_path / "src"; src_dir.mkdir()
    out_dir = str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, event_id long, ts long, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    for i in range(3):
        mk([(1, 10 + i, 100 * (i + 1), float(i))]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src_dir / f"f{i}"))
        arriving = (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp, value double"
            )
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        run_scd2_maintenance(arriving, out_dir, str(tmp_path / "ckpt"))
    vers = sorted(
        d for d in os.listdir(out_dir)
        if d.startswith("v") and d[1:].isdigit()
    )
    assert vers == ["v1", "v2"]  # v0 pruned, keep_versions=2
    assert os.readlink(os.path.join(out_dir, "current")) == "v2"
    rows = read_versioned(spark, out_dir).collect()
    assert len(rows) == 3 and sum(1 for r in rows if r["is_current"]) == 1


def test_scd2_merge_handles_late_data(spark):
    """An event arriving AFTER later events splices into the middle
    of its user's chain: merge(current, late_delta) ≡ the batch
    recompute over the full event set — the case a naive
    close-the-open-interval upsert corrupts."""
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, event_id long, ts long, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    first = mk([(1, 10, 100, 1.0), (1, 30, 300, 3.0), (2, 40, 50, 4.0)])
    late = mk([(1, 20, 200, 2.0)])  # lands between 10 and 30
    current = scd2_merge(None, first, 0)
    merged = scd2_merge(current, late, 1)
    want = _scd2_intervals(first.unionByName(late))
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(merged) == key(want)
    # untouched user 2 must be byte-identical (single open interval)
    u2 = [r for r in merged.collect() if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"]


def test_scd2_merge_is_epoch_split_independent(spark):
    """The maintenance semantics' strongest invariant, randomized:
    partition a random event log into 1-4 epochs ARBITRARILY (not
    time-ordered — every epoch carries late data) and fold them
    through scd2_merge in sequence; the final state must equal the
    batch interval chain for every seed. This is what makes crash
    recovery + arbitrary micro-batch boundaries safe: state never
    depends on how the stream happened to be chopped."""
    import random

    for seed in range(5):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for uid in range(1, 13):
            for _ in range(rng.randint(0, 6)):
                eid += 1
                rows.append(
                    (uid, eid, rng.randint(0, 9) * 100, float(eid))
                )
        if not rows:
            continue
        mk = lambda rs: spark.createDataFrame(
            rs, "user_id long, event_id long, ts long, value double"
        ).withColumn("ts", F.timestamp_micros(F.col("ts")))
        n_epochs = rng.randint(1, 4)
        epochs = [[] for _ in range(n_epochs)]
        for r in rows:
            epochs[rng.randrange(n_epochs)].append(r)
        state = None
        for i, ep in enumerate(ev for ev in epochs if ev):
            state = scd2_merge(state, mk(ep), i)
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(state) == key(_scd2_intervals(mk(rows))), seed


def test_stream_scd2_restart_and_replay(spark, tmp_path):
    """Maintenance across a restart == batch scd2 over all events;
    re-running with no new data is a guarded no-op (the version
    pointer does not move, state bytes unchanged)."""
    from psd_project_spark.sources.registry import load_table

    src_dir = tmp_path / "src"; src_dir.mkdir()
    out_dir = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)

    def maintain():
        arriving = (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp, value double"
            )
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        run_scd2_maintenance(arriving, out_dir, ckpt)

    half1.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f1"))
    maintain()
    half2.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f2"))
    maintain()

    key = lambda df: sorted(
        map(tuple, df.select(
            "user_id", "event_id", "valid_from", "valid_to", "value",
            "is_current",
        ).collect())
    )
    got = key(read_versioned(spark, out_dir))
    want = key(scd2_history(spark, SF_DIR))
    assert got == want
    assert len(glob.glob(os.path.join(out_dir, "v*"))) >= 2  # real epochs
    # replay: no new files → the checkpointed query emits nothing new
    # and the applied-version pointer stays put
    applied = os.readlink(os.path.join(out_dir, "current"))
    maintain()
    assert os.readlink(os.path.join(out_dir, "current")) == applied
    assert key(read_versioned(spark, out_dir)) == want


def test_stage_stream_splits_yields_real_epochs(spark, tmp_path):
    """The staging helper's reason to exist: filtered per-residue
    writes give n NON-EMPTY epoch files. The repartition(n, expr)
    form it replaced hash-collides small residue domains (measured:
    {0,1,2} land in 2 of 3 partitions — one epoch file empty, one
    carrying 2/3 of the rows), silently weakening every advertised
    multi-epoch property."""
    from psd_project_spark.streaming.foreach_sink import (
        stage_stream_splits,
    )

    df = spark.range(90).select(F.col("id"))
    src = str(tmp_path / "src")
    stage_stream_splits(df, F.col("id") % 3, src)
    sizes = [
        spark.read.parquet(f"{src}/p{i}").count() for i in range(3)
    ]
    assert sizes == [30, 30, 30]
    # and the degenerate form really is degenerate (regression
    # documentation: if Spark's hash ever changes this, the helper
    # can be reconsidered)
    part_sizes = sorted(
        r["cnt"]
        for r in df.repartition(3, F.col("id") % 3)
        .selectExpr("spark_partition_id() AS p")
        .groupBy("p")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    )
    assert 0 in part_sizes or len(part_sizes) < 3
    # read back through epoch_stream → 3 non-empty micro-batches
    seen = []

    def count_batch(bdf, bid):
        seen.append(bdf.count())

    from psd_project_spark.streaming.foreach_sink import (
        epoch_stream,
        run_stream,
    )

    arriving = epoch_stream(spark, src, "id long")
    run_stream(arriving, count_batch, str(tmp_path / "ckpt"), None)
    assert sorted(seen) == [30, 30, 30]


def test_nn_kernel_collect_is_size_gated(spark):
    """SCALE.md's "no collect() except provably-small" is enforced:
    an index side above the gate refuses with a pointer to the
    bucket-sharded cogroup form instead of collecting it to the
    driver (VERDICT r09 #6). The gated path still works below the
    gate and agrees with the blocked registry form (pinned by
    tests/test_dedup_blocked.py)."""
    import pytest

    from psd_project_spark.functions.vectors import make_nn_kernel

    big = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("_v"),
    )
    with pytest.raises(ValueError, match="driver-collect gate"):
        make_nn_kernel(big, max_index_rows=5)
    # below the gate: builds normally
    assert make_nn_kernel(big, max_index_rows=10) is not None


def test_bucketed_delta_append_lands_in_standing_buckets(spark):
    """The incremental snapshot lifecycle (VERDICT r09 #5): the fact
    table's build is base + bucket-aligned delta append — after it,
    multi-file buckets exist (total files exceed the bucket count and
    some bucket holds both phases — NOT "every bucket ≥2": whether
    the ¼ delta slice hashes into all N_BUCKETS is fixture-data
    luck, per ADVICE r10 #4), the completion marker is published, and
    the co-located join STILL runs exchange-free over the multi-file
    buckets."""
    from psd_project_spark.operators.bucketing import (
        _COMPLETE,
        N_BUCKETS,
        _bucketed_pair,
        bucket_file_counts,
        bucketed_join_roundtrip,
    )
    from psd_project_spark.plans.inspect import executed_plan

    from psd_project_spark.operators.bucketing import _table_location

    orders_t, lineitem_t = _bucketed_pair(spark, SF_DIR)
    counts = bucket_file_counts(spark, lineitem_t)
    loc = _table_location(spark, lineitem_t)
    assert os.path.exists(os.path.join(loc, _COMPLETE))
    assert len(counts) == N_BUCKETS  # base phase fills every bucket
    assert max(counts.values()) >= 2, counts  # append landed somewhere
    assert sum(counts.values()) > N_BUCKETS, counts
    # and the join over multi-file buckets is still exchange-free
    # below the join (the only exchange is the 3-row rollup above it)
    plan = executed_plan(bucketed_join_roundtrip(spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_bucketed_gate_rebuilds_after_partial_write(spark):
    """Crash-between-phases safety: a table whose completion marker is
    missing (base written, delta append lost) must REBUILD, not serve
    the half-built snapshot — the reason the gate keys on _COMPLETE
    rather than parquet's _SUCCESS (which the base phase already
    writes)."""
    from psd_project_spark.operators.bucketing import (
        _COMPLETE,
        _bucketed_pair,
        bucketed_join_roundtrip,
    )

    before = sorted(
        map(tuple, bucketed_join_roundtrip(spark, SF_DIR).collect())
    )
    _, lineitem_t = _bucketed_pair(spark, SF_DIR)
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {lineitem_t}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    ).replace("file:", "")
    # simulate the crash: marker gone, one phase's files gone
    os.remove(os.path.join(loc, _COMPLETE))
    for f in glob.glob(os.path.join(loc, "part-*"))[:3]:
        os.remove(f)
    after = sorted(
        map(tuple, bucketed_join_roundtrip(spark, SF_DIR).collect())
    )
    assert after == before
    assert os.path.exists(os.path.join(loc, _COMPLETE))


def test_bucketed_compaction_consolidates_and_preserves(spark, tmp_path):
    """Generation-rewrite compaction: after enough delta appends push
    a bucket past MAX files, compact_bucketed_table rewrites to one
    file per bucket, rows and the bucketed layout (and thus the
    exchange-free join property) survive, the completion marker is
    republished, and a below-threshold table is left untouched."""
    from psd_project_spark.operators.bucketing import (
        _COMPLETE,
        _write_bucketed,
        bucket_file_counts,
        compact_bucketed_table,
    )

    name = "bkt_compact_test"
    tpath = str(tmp_path / name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    _write_bucketed(base, name, tpath, "k", "overwrite")
    for i in range(3):
        delta = spark.range(400 + i * 50, 400 + (i + 1) * 50).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        _write_bucketed(delta, name, tpath, "k", "append")
    with open(f"{tpath}/{_COMPLETE}", "w") as fh:
        fh.write("ok")
    before = sorted(map(tuple, spark.table(name).collect()))
    counts = bucket_file_counts(spark, name)
    assert max(counts.values()) == 4  # base + 3 deltas
    # below threshold: untouched
    assert compact_bucketed_table(spark, name, "k", max_files=8) is False
    # above threshold: one file per bucket, rows identical, marker back
    assert compact_bucketed_table(spark, name, "k", max_files=3) is True
    counts2 = bucket_file_counts(spark, name)
    assert set(counts2.values()) == {1} and len(counts2) == len(counts)
    assert sorted(map(tuple, spark.table(name).collect())) == before
    assert os.path.exists(f"{tpath}/{_COMPLETE}")
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pair_key_covers_both_tables(monkeypatch):
    """ADVICE r09 #1: the staleness key must change when EITHER
    source table regenerates — an orders-only regen with
    byte-identical lineitem previously kept the old key and served
    stale bucketed orders."""
    from psd_project_spark.operators import bucketing as B

    fps = {"orders": "AAA", "lineitem": "LLL"}
    monkeypatch.setattr(
        "psd_project_spark.sources.registry.source_fingerprint",
        lambda sf_dir, table: fps[table],
    )
    k1 = B._pair_key("/x")
    fps["orders"] = "BBB"  # orders regenerated, lineitem untouched
    k2 = B._pair_key("/x")
    assert k1 != k2


def test_range_join_hot_bucket_triggers_skew_split(spark):
    """The range-join module defers hot time-buckets to AQE
    (range_join.py docstring); prove it instead of promising it
    (VERDICT r09 #4): with 60% of events bursting into ONE W-bucket,
    the bucket-key shuffle is skewed and AQE's skew join must split
    the hot partition — ``SortMergeJoin(skew=true)`` in the executed
    plan. Thresholds are scaled down to fixture size; at production
    scale the defaults (256 MB / factor 5) fire on the same shape.
    Results stay exact under the split (spot-checked against the
    uniform-conf run)."""
    from psd_project_spark.operators.range_join import (
        RANGE_W_US as W,
        overlap_pairs,
    )

    n = 30_000
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 5 < 3, F.lit(10 * W) + (F.col("id") % W))
        .otherwise((F.col("id") % 200 + 100) * W + F.col("id") % W)
        .alias("us"),
    )
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # must be pinned too: AQE would otherwise re-plan the small
        # skewed SMJ into a broadcast join (another test can leave
        # this explicitly set, shadowing the -1 above)
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        agg = overlap_pairs(ev).groupBy("event_id").count()
        skewed_total = sum(r["count"] for r in agg.collect())
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan, plan
    # the split must not change the answer: same total pair count
    # under default (unsplit) confs
    uniform_total = sum(
        r["count"]
        for r in overlap_pairs(ev).groupBy("event_id").count().collect()
    )
    assert skewed_total == uniform_total > 0


def test_stream_range_overlap_equals_batch_and_prunes(spark):
    """The streaming range join's two claims: (a) the union of
    per-epoch counts over the time-contiguous probe split reassembles
    the batch self range join exactly; (b) an epoch's corpus read is
    PARTITION-PRUNED to the day cells its ±W windows touch (the
    coarse time-cell directory layout actually prunes at file-listing
    time; the fine W-bucket is the join key only — a dir per 5-min
    cell would be 8.6k dirs/month)."""
    import re

    from psd_project_spark.operators.range_join import (
        PART_CELL_US,
        home_buckets,
        range_join_overlap,
        stream_range_overlap,
    )
    from psd_project_spark.plans.inspect import formatted_plan
    from psd_project_spark.sources.registry import load_table

    key = lambda df: sorted(
        (r["event_id"], r["n_overlap"]) for r in df.collect()
    )
    got = key(stream_range_overlap(spark, SF_DIR))
    want = key(range_join_overlap(spark, SF_DIR))
    assert got == want and len(got) > 0
    # pruning pin: a 2-literal day-cell bound on the partitioned
    # corpus shows up as PartitionFilters and selects a strict subset
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        (
            home_buckets(ev)
            .withColumn("pcell", F.floor(F.col("b_us") / PART_CELL_US))
            .repartition(F.col("pcell"))
            .write.partitionBy("pcell")
            .parquet(d, mode="overwrite")
        )
        lo = ev.agg(F.min("us")).collect()[0][0]
        c_lo = lo // PART_CELL_US
        pruned = spark.read.parquet(d).filter(
            F.col("pcell").between(F.lit(c_lo), F.lit(c_lo + 1))
        )
        plan = formatted_plan(pruned)
        assert re.search(r"PartitionFilters: \[.*pcell.*>=.*", plan), plan
        n_all = (
            home_buckets(ev)
            .select(F.floor(F.col("b_us") / PART_CELL_US))
            .distinct()
            .count()
        )
        n_read = pruned.select("pcell").distinct().count()
        assert 0 < n_read <= 2 < n_all


def test_scd2_merge_replay_guard_via_versioned_runner(spark, tmp_path):
    """Drive the versioned runner's guard directly: after epochs 0+1
    are applied, a replayed epoch-0 batch must not rewrite state (the
    crash-recovery double-merge this guards against)."""
    from psd_project_spark.streaming.foreach_sink import (
        run_foreachbatch_versioned,
    )

    src_dir = tmp_path / "src"; src_dir.mkdir()
    out_dir = str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, event_id long, ts long, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    e0 = mk([(1, 10, 100, 1.0)])
    e1 = mk([(1, 20, 200, 2.0)])
    e0.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f0"))
    run_foreachbatch_versioned(
        spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, value double"
        ).option("recursiveFileLookup", "true").parquet(str(src_dir)),
        out_dir, str(tmp_path / "ck1"), scd2_merge,
    )
    e1.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f1"))
    run_foreachbatch_versioned(
        spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, value double"
        ).option("recursiveFileLookup", "true").parquet(str(src_dir)),
        out_dir, str(tmp_path / "ck1"), scd2_merge,
    )
    before = sorted(
        map(tuple, read_versioned(spark, out_dir).collect())
    )
    # a FRESH checkpoint replays everything as epoch 0 — the guard
    # must refuse it (applied version ≥ replayed id) and keep state
    run_foreachbatch_versioned(
        spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, value double"
        ).option("recursiveFileLookup", "true").parquet(str(src_dir)),
        out_dir, str(tmp_path / "ck2"), scd2_merge,
    )
    after = sorted(
        map(tuple, read_versioned(spark, out_dir).collect())
    )
    assert after == before
    assert len([r for r in after if r[5]]) == 1  # one current row
