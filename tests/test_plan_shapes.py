"""Physical-plan regression tests: the engine's 100 TB design claims,
pinned. Each test asserts a plan *shape* (broadcast, pushdown, pruning,
codegen) for a representative registry query — the properties that make
the difference between a plan that survives a 1000-executor scale-up
and one that silently degrades to a full-scan shuffle-fest."""

import re

from pyspark.sql import functions as F

from psd_project_spark.plans import (
    codegen_stage_count,
    executed_plan,
    has_broadcast_hash_join,
    partition_filters,
    pushed_filters,
    read_schema_columns,
)
from psd_project_spark.sources.registry import load_table
from tests.conftest import SF_DIR


def test_q5_broadcasts_small_dims(spark):
    """The 6-table join must broadcast every dimension side — at real
    scale only lineitem/orders are big; shuffling customer or nation
    for this query would be a planning failure."""
    from psd_project_spark.operators.relational import q5_local_supplier_volume

    df = q5_local_supplier_volume(spark, SF_DIR)
    plan = executed_plan(df)
    assert has_broadcast_hash_join(df)
    # No sort-merge join anywhere: every join side except the fact
    # table fits comfortably under the broadcast threshold.
    assert "SortMergeJoin" not in plan, plan


def test_q1_pushes_filter_and_prunes_columns(spark):
    """TPC-H Q1's shipdate predicate must reach the parquet scan, and
    the scan must read only the 7 referenced columns (of lineitem's
    16) — at 100 TB, column pruning alone is ~2× I/O."""
    from psd_project_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, SF_DIR)
    assert any("l_shipdate" in f for f in pushed_filters(df)), pushed_filters(df)
    scans = read_schema_columns(df)
    assert scans, "no parquet scan found in plan"
    for cols in scans:
        assert "l_comment" not in cols and "l_shipinstruct" not in cols, cols
        assert len(cols) <= 7, cols


def test_batch_aggregates_stay_in_codegen(spark):
    """The measure library and the relational battery must execute
    inside WholeStageCodegen — falling back to interpreted mode is a
    per-row 10×."""
    from psd_project_spark.operators.relational import q1_pricing_summary
    from psd_project_spark.operators.risk import measures_agg

    assert codegen_stage_count(q1_pricing_summary(spark, SF_DIR)) >= 2
    assert codegen_stage_count(measures_agg(spark, SF_DIR)) >= 1


def test_partitioned_write_prunes_at_source(spark, tmp_path):
    """Hive-style partitioned layout (the standard 100 TB curation
    output format): a reader filtering on the partition column must
    prune at file-listing time (PartitionFilters), touching only the
    matching directory — not read-then-filter."""
    out = str(tmp_path / "events_by_type")
    (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "value", "event_type")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    pf = partition_filters(back)
    assert any("event_type" in f for f in pf), pf
    # the data files don't contain the partition column, so nothing is
    # pushed as a row-group filter — pruning happened above the scan
    agg = back.groupBy().agg(F.count(F.lit(1)).alias("n"))
    expected = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert agg.collect()[0]["n"] == expected


def test_roundtrip_query_prunes_returnflag_partition(spark):
    """partitioned_parquet_roundtrip's read-back must prune to the
    l_returnflag=R directory at file-listing time."""
    from psd_project_spark.operators.timeseries import (
        partitioned_parquet_roundtrip,
    )

    df = partitioned_parquet_roundtrip(spark, SF_DIR)
    pf = partition_filters(df)
    assert any("l_returnflag" in f for f in pf), pf


def test_training_shards_are_sorted_within_files(spark):
    """Each exported shard file must be sorted by (user_id, ts_ns) —
    the sequential-read contract of the export path."""
    import glob

    from psd_project_spark.operators.governance import (
        _shard_dir,
        training_shard_export,
    )

    training_shard_export(spark, SF_DIR).collect()  # ensure written
    files = glob.glob(f"{_shard_dir(SF_DIR)}/shard=0/*.parquet")
    assert files
    pdf = spark.read.parquet(files[0]).toPandas()
    key = list(zip(pdf["user_id"], pdf["ts_ns"]))
    assert key == sorted(key)


def test_q21_self_joins_share_one_key_no_cartesian(spark):
    """Q21's EXISTS / NOT-EXISTS references plan as semi + anti joins
    co-keyed on l_orderkey — never a cartesian/nested-loop product,
    which is what a naive OR-of-inequalities join degenerates to."""
    from psd_project_spark.operators.relational_tpch3 import (
        q21_waiting_suppliers,
    )

    plan = executed_plan(q21_waiting_suppliers(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q2_broadcasts_filtered_dims(spark):
    """Q2's filtered part / region-0 supplier dims must broadcast onto
    the offers aggregate; the min-per-part equality join's build side
    (per-part minima) must broadcast too — no shuffle of lineitem
    beyond its own aggregation."""
    from psd_project_spark.operators.relational_tpch3 import (
        q2_min_cost_supplier,
    )

    df = q2_min_cost_supplier(spark, SF_DIR)
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in executed_plan(df)


def test_no_accidental_cartesian_in_batch_plans(spark):
    """Blanket guard: no pure-batch registry query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only for
    queries that deliberately crossJoin a 1-row aggregate (scalar
    thresholds / corpus stats). Catches an accidentally-unkeyed join
    in any future query before it ships as an O(n²) plan."""
    from psd_project_spark import registry

    # Deliberate tiny-side cross joins: scalar-subquery 1-row
    # aggregates (thresholds / corpus stats / global max), the 42-cell
    # (measure × series) domain grid, and the vector-search query-set ×
    # codebook / brute-force-baseline products.
    one_row_cross = {
        "alert_counts", "bm25_rank", "ivf_ann_cosine", "knn_cosine",
        "q11_important_parts", "q22_idle_high_balance", "tfidf_top_terms",
        "weighted_sample",
        # 16-row codebook broadcast (same shape as ivf_ann_cosine)
        "semantic_dedup",
        # 1-row global feasible-scale aggregate broadcast onto ≤5 rows
        "source_mix_rebalance",
        # 1-row normalizer frame broadcast onto the bigram model
        "dsir_weights",
        # 1-row kept-token total / flattened-mass total broadcast onto
        # the ~|sources|-row per-source rollup (r7 curation tier)
        "domain_mixture_weights", "mixture_resample",
    }
    # Queries that execute work at plan-construction time (streaming
    # runs, iterative fixpoints, staged side-effect sinks) — their
    # plans are exercised by their own tests.
    skip_prefixes = ("stream_", "measures_window_stream", "alerts_stream",
                     "events_time_windows")
    skip_exact = {
        "dedup_components", "dedup_canonical", "kmeans_embeddings",
        "ann_index_export",
        "partitioned_parquet_roundtrip", "training_shard_export",
        "events_jsonl_source", "lineitem_orc_source", "media_resize",
        "compression_ratio", "media_features", "frame_sample",
        "vector_quantize_int8",
    }
    qs = registry.queries()
    checked = 0
    for name, fn in sorted(qs.items()):
        if name.startswith(skip_prefixes) or name in skip_exact:
            continue
        df = fn(spark, SF_DIR)
        plan = executed_plan(df)
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        if "BroadcastNestedLoopJoin" in plan:
            assert name in one_row_cross, (
                f"{name} plans BroadcastNestedLoopJoin but is not a "
                f"declared 1-row crossJoin query:\n{plan}"
            )
        checked += 1
    assert checked > 60, f"only {checked} plans checked"


def test_hll_rollup_plan_is_sketch_partial_agg(spark):
    """Sketches, not user-id sets, must cross the shuffle: the daily
    aggregate runs as ObjectHashAggregate (DataSketches buffers) with a
    map-side partial, and there is no join anywhere in the plan."""
    from psd_project_spark.operators.sketches import hll_reach_rollup
    from tests.conftest import SF_DIR

    plan = (
        hll_reach_rollup(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ObjectHashAggregate" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan, bad


def test_mad_by_type_plan_uses_arrow_aggregate(spark):
    """The UDAF must run as the Arrow grouped-aggregate node (whole
    group in, scalar out), with the count joined on the same key — no
    nested-loop and at most the two keyed aggregations' exchanges."""
    from psd_project_spark.operators.analytics_extra import mad_by_type
    from tests.conftest import SF_DIR

    plan = (
        mad_by_type(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert plan.count("hashpartitioning(event_type") <= 2
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_fixpoint_partitioning_is_adaptive(spark):
    """The connected-components fixpoint sizes itself from the EDGE
    count — no hardcoded repartition(1), no session-conf mutation —
    and picks the single-task union-find kernel for graphs that fit
    one partition, the iterative join loop (at the adaptive partition
    count) above that."""
    from psd_project_spark.operators import dedup

    # policy-in-code: 1 partition per FIXPOINT_EDGES_PER_PARTITION
    per = dedup.FIXPOINT_EDGES_PER_PARTITION
    assert dedup.adaptive_fixpoint_partitions(0) == 1
    assert dedup.adaptive_fixpoint_partitions(per) == 1
    assert dedup.adaptive_fixpoint_partitions(per + 1) == 2
    assert dedup.adaptive_fixpoint_partitions(10 * per) == 10

    # hand graph: path 1-2-3, pair 10-11, singleton edge 20-21
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "u long, v long")
    expect = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    # small path: one partition, one mapInPandas kernel
    small = dedup.connected_components(edges)
    assert small.rdd.getNumPartitions() == 1
    assert {r["id"]: r["comp"] for r in small.collect()} == expect

    # iterative path (forced by shrinking the threshold): same labels
    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
    prev = dedup.FIXPOINT_EDGES_PER_PARTITION
    dedup.FIXPOINT_EDGES_PER_PARTITION = 4  # → n_part = 2 for 8 edges
    try:
        big = dedup.connected_components(edges)
    finally:
        dedup.FIXPOINT_EDGES_PER_PARTITION = prev
    assert {r["id"]: r["comp"] for r in big.collect()} == expect
    # the loop ran at the adaptive count, not the session default
    assert big.rdd.getNumPartitions() <= 2
    # and left no session-conf mutation behind
    assert (
        spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
    )


def test_transient_caches_released_on_next_query_entry(spark):
    """Scratch caches (signature tables, exploded n-grams) live
    exactly from their query's construction until the NEXT query
    starts — no session-lifetime cache accumulation (ADVICE r03)."""
    from psd_project_spark import registry
    from psd_project_spark.functions import caching

    caching.release_transient()
    qs = registry.queries()
    qs["dedup_minhash_lsh"](spark, SF_DIR).count()
    assert len(caching._TRANSIENT) >= 1  # sigs registered
    cached_before = list(caching._TRANSIENT)
    qs["dedup_exact"](spark, SF_DIR).count()  # next entry releases
    assert caching._TRANSIENT == []
    for df in cached_before:
        assert not df.storageLevel.useMemory  # actually unpersisted


def test_ann_index_probe_prunes_partitions(spark):
    """ann_index_export's read-back must prune to the probe buckets at
    file-listing time — (band, bkey) IS the storage key, which is the
    100 TB ANN-index layout claim made testable."""
    from psd_project_spark.operators.similarity import ann_index_export

    df = ann_index_export(spark, SF_DIR)
    pf = partition_filters(df)
    assert any("band" in f and "bkey" in f for f in pf), pf


def test_incremental_index_probes_prune_partitions(spark):
    """The append path must keep the pruned-probe property: both
    incremental indexes answer probes from their bucket directories
    only (partition predicates for the ANN index, an explicit
    bucket-path file index for the MinHash band index)."""
    from psd_project_spark.functions.caching import release_transient
    from psd_project_spark.operators.dedup import (
        MINHASH_INDEX_BUCKETS,
        _minhash_index_dir,
        minhash_index_incremental,
    )
    from psd_project_spark.operators.similarity import ann_index_incremental

    df = ann_index_incremental(spark, SF_DIR)
    pf = partition_filters(df)
    assert any("band" in f and "bkey" in f for f in pf), pf

    df2 = minhash_index_incremental(spark, SF_DIR)
    # the probe scan lists explicit bucket dirs: the index files the
    # query READS must be a strict subset of the full
    # LSH_BANDS x MINHASH_INDEX_BUCKETS directory grid, all under the
    # incremental index root
    root = _minhash_index_dir(SF_DIR) + "_incr"
    idx_files = [f for f in df2.inputFiles() if root.rsplit("/", 1)[-1] in f]
    release_transient()
    assert idx_files, "probe reads no index files"
    probed_dirs = {f.rsplit("/", 1)[0] for f in idx_files}
    from psd_project_spark.functions.text import LSH_BANDS

    assert len(probed_dirs) < LSH_BANDS * MINHASH_INDEX_BUCKETS


def test_evolved_state_read_is_one_scan_no_extra_exchange(spark, tmp_path):
    """Schema evolution must be invisible to the read plan: the
    union-by-name reconciliation of mixed-schema generations is ONE
    parquet scan (mergeSchema) plus a projection — no per-generation
    union plan, no join, no exchange beyond what the consumer itself
    adds. A reconciliation that planned a union-of-scans per
    generation would multiply the 100 TB read cost by generation
    count."""
    from psd_project_spark.operators.scd import scd2_evolving_merge
    from psd_project_spark.streaming.foreach_sink import (
        read_versioned,
        run_foreachbatch_versioned,
    )

    src = str(tmp_path / "src")

    def maintain(schema: str) -> None:
        run_foreachbatch_versioned(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            scd2_evolving_merge,
            bucket_by=["user_id"],
        )

    narrow = "user_id long, event_id long, ts timestamp, value double"
    spark.range(20).select(
        F.col("id").alias("user_id"),
        F.col("id").alias("event_id"),
        F.expr("timestamp '2024-01-01' + make_interval(0,0,0,0,0,0,id)")
        .alias("ts"),
        F.lit(1.0).alias("value"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/p0")
    maintain(narrow)
    spark.range(2).select(
        F.col("id").alias("user_id"),
        (F.col("id") + 50).alias("event_id"),
        F.expr("timestamp '2024-01-02' + make_interval(0,0,0,0,0,0,id)")
        .alias("ts"),
        F.lit(2.0).alias("value"),
        F.lit("x").alias("tag"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/p1")
    maintain(narrow + ", tag string")
    plan = executed_plan(read_versioned(spark, str(tmp_path / "out")))
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_mapped_state_read_is_one_scan_one_projection(spark, tmp_path):
    """Column mapping must be invisible to the read plan beyond one
    alias projection: a renamed + dropped + rebucketed table reads as
    ONE parquet scan under the physical schema plus a Project to
    logical names — no exchange, no join, no per-generation union,
    and the dropped column's physical bytes are not even in the
    ReadSchema. Anything more would tax every 100 TB read for a
    metadata-only evolution."""
    from psd_project_spark.streaming.foreach_sink import (
        apply_versioned_epoch,
        drop_versioned_column,
        read_versioned,
        rebucket_versioned,
        rename_versioned_column,
    )

    out = str(tmp_path / "state")
    e0 = spark.range(20).select(
        F.col("id").alias("k"),
        F.col("id").cast("int").alias("qty"),
        F.lit("x").alias("extra"),
    )

    def merge(current, df, batch_id):
        return df if current is None else current.unionByName(df)

    apply_versioned_epoch(e0, out, 0, merge, bucket_by=["k"], n_buckets=4)
    rename_versioned_column(out, None, {"qty": "quantity"})
    drop_versioned_column(out, None, "extra")
    rebucket_versioned(spark, out, None, ["k"], 8)
    served = read_versioned(spark, out)
    plan = executed_plan(served)
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # the scan reads PHYSICAL names and only live columns: the
    # dropped column's bytes stay on disk but never enter the plan
    assert "qty" in plan and "extra" not in plan, plan
    assert [f.name for f in served.schema.fields] == ["k", "quantity"]


def test_replay_kernels_shuffle_once_to_an_explicit_count(spark):
    """The replay pass's two CPU-bound stages each sit on exactly one
    REPARTITION_BY_NUM exchange with ``spark.sql.shuffle.partitions``
    partitions, capped at the session's cores: AQE coalesces an
    implicit shuffle of their small input into one or two tasks, and
    never an explicit-count one — so the cap is what keeps a session
    left at Spark's default of 200 from running 200 tiny tasks. A
    second exchange (a kernel grouped on other columns than it is
    partitioned by, or an aggregate that does not reuse the window's
    partitioning) fails the count."""
    from psd_project_spark.functions.measures import grouped_measures
    from psd_project_spark.functions.measures_np import _BUCKETS, windowed_measures_np

    def only_exchange(df, op: str) -> str:
        plan = executed_plan(df)
        assert op in plan, plan
        exchanges = [
            line.lstrip(" :+-") for line in plan.splitlines()
            if line.lstrip(" :+-").startswith("Exchange")
        ]
        assert len(exchanges) == 1, plan
        return re.sub(r"#\d+L?", "", exchanges[0])

    events = load_table(spark, SF_DIR, "events")
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    cores = spark.sparkContext.defaultParallelism
    try:
        for parts in (int(saved), 200):
            spark.conf.set(conf, str(parts))
            n = min(parts, cores)
            for chunk_rows in (None, 40):
                df = windowed_measures_np(
                    events, ["user_id"], "event_id", "value", window_size=30,
                    chunk_rows=chunk_rows, seq_precomputed=True,
                )
                ex = only_exchange(df, "FlatMapGroupsInPandas")
                assert ex.startswith(
                    f"Exchange hashpartitioning(_bucket, {min(n, _BUCKETS)}), "
                    "REPARTITION_BY_NUM,"
                ), ex

            df = grouped_measures(events, ["event_type", "user_id"], "value", digits=9)
            ex = only_exchange(df, "Window")
            assert ex.startswith(
                f"Exchange hashpartitioning(event_type, user_id, {n}), REPARTITION_BY_NUM,"
            ), ex
    finally:
        spark.conf.set(conf, saved)
