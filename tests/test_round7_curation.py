"""Round-7 late-round curation tier: the streaming quality scorer
(offline feature store + online frozen-head lookup), the
classifier-driven domain mixture weights, and the cluster-balanced
sampler. Oracle parity runs in test_oracle_parity / test_parity_scale;
these pin the properties the oracles can't see: multi-epoch union
equivalence and replay idempotency through the REAL batch callable,
cross-operator consistency, quota/coverage invariants, and the
salted two-phase selection's exactness on a skewed synthetic corpus.
"""

import pandas as pd
from pyspark.sql import functions as F

from psd_project_spark.functions.text import content_hash_col
from tests.conftest import SF_DIR


# --- stream_quality_score ----------------------------------------------------


def _mini_store(spark, tmp_path, rows):
    """Write a tiny feature store through the REAL layout (bucketed,
    manifest) and return (store_path, present)."""
    from psd_project_spark.operators.index_compact import (
        list_partitions,
        write_partition_manifest,
    )
    from psd_project_spark.operators.quality_classifier import (
        FEATURE_STORE_BUCKETS,
        FEATURES,
    )

    schema = (
        "doc_id long, "
        + ", ".join(f"{n} double" for n, _ in FEATURES)
        + ", y double, n_tokens long"  # the real store longs n_tokens
    )
    feat = spark.createDataFrame(rows, schema)
    store = str(tmp_path / "qstore")
    (
        feat.withColumn(
            "bucket",
            F.pmod(F.xxhash64("doc_id"), F.lit(FEATURE_STORE_BUCKETS)).cast(
                "int"
            ),
        )
        .repartition(2, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(store)
    )
    write_partition_manifest(store)
    return store, list_partitions(store)


def _feat_row(doc_id, x1, y):
    # x2..x9 zero: z reduces to w1*x1 + b, easy to reason about
    return (doc_id, float(x1), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
            float(y), int(x1 * 100))


def test_stream_score_multi_epoch_union_equals_oneshot(spark, tmp_path):
    """Three arriving doc-id files → three epochs through the
    IDENTICAL foreachBatch callable the registry query runs; the union
    of epoch outputs equals scoring every doc in one pass with the
    same frozen weights."""
    from psd_project_spark.operators.quality_classifier import (
        _score_store_batch_fn,
    )
    from psd_project_spark.streaming.foreach_sink import run_stream

    rows = [_feat_row(i, 0.5 + 0.1 * i, 1.0 if i % 2 else 0.0)
            for i in range(9)]
    store, present = _mini_store(spark, tmp_path, rows)
    w = [0.8] + [0.0] * 8
    b = -0.6

    src = str(tmp_path / "arrivals")
    for i in range(3):
        spark.createDataFrame(
            [(d,) for d in range(3 * i, 3 * i + 3)], "doc_id long"
        ).coalesce(1).write.parquet(f"{src}/f{i}")
    out = str(tmp_path / "score_out")
    ckpt = str(tmp_path / "ckpt")
    arriving = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    run_stream(arriving, _score_store_batch_fn(store, present, w, b, out), ckpt,
         state_partitions=None)

    assert (
        len(spark.read.parquet(out).select("batch_id").distinct().collect())
        == 3
    )
    got = (
        spark.read.parquet(out)
        .drop("batch_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # one-shot: the same callable over all ids in a single batch
    fn = _score_store_batch_fn(store, present, w, b, str(tmp_path / "one"))
    fn(spark.createDataFrame([(d,) for d in range(9)], "doc_id long"), 0)
    want = (
        spark.read.parquet(str(tmp_path / "one"))
        .drop("batch_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # keep ⇔ z >= 0 ⇔ x1 >= 0.75 under these weights
    byid = got.set_index("doc_id")
    assert byid.loc[0, "keep"] == 0 and byid.loc[8, "keep"] == 1


def test_stream_score_replay_idempotent(spark, tmp_path):
    from psd_project_spark.operators.quality_classifier import (
        _score_store_batch_fn,
    )

    store, present = _mini_store(
        spark, tmp_path, [_feat_row(1, 1.0, 1.0)]
    )
    out = str(tmp_path / "score_out")
    fn = _score_store_batch_fn(store, present, [1.0] + [0.0] * 8, 0.0, out)
    batch = spark.createDataFrame([(1,)], "doc_id long")
    fn(batch, 0)
    fn(batch, 0)  # replay overwrites its own epoch dir
    assert spark.read.parquet(out).count() == 1


def test_stream_score_unknown_doc_yields_no_row(spark, tmp_path):
    """An arriving doc with no store row scores nothing (the honest
    semantics: the offline featurizer hasn't seen it yet) — and an
    all-unknown batch still writes a valid empty epoch."""
    from psd_project_spark.operators.quality_classifier import (
        _score_store_batch_fn,
    )

    store, present = _mini_store(
        spark, tmp_path, [_feat_row(1, 1.0, 1.0)]
    )
    out = str(tmp_path / "score_out")
    fn = _score_store_batch_fn(store, present, [1.0] + [0.0] * 8, 0.0, out)
    fn(spark.createDataFrame([(1,), (999,)], "doc_id long"), 0)
    got = spark.read.parquet(out).toPandas()
    assert list(got["doc_id"]) == [1]


# --- quality_store_incremental -----------------------------------------------


def test_feature_store_marker_gates_rebuild(spark):
    """A second _ensure_feature_store over the same corpus hits the
    completion-marker gate: no file in the store changes (the
    amortize-across-shards claim), and the store covers every doc
    exactly once across base+delta."""
    import os

    from psd_project_spark.operators.quality_classifier import (
        _ensure_feature_store,
        _feature_frame,
    )

    feat = _feature_frame(spark, SF_DIR)
    path = _ensure_feature_store(spark, SF_DIR, feat)
    assert os.path.exists(os.path.join(path, "_DELTA_APPENDED"))

    def listing(p):
        out = {}
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                out[fp] = os.path.getmtime(fp)
        return out

    before = listing(path)
    assert _ensure_feature_store(spark, SF_DIR, feat) == path
    assert listing(path) == before
    n_docs = feat.count()
    stored = spark.read.parquet(path)
    assert stored.count() == n_docs
    assert stored.select("doc_id").distinct().count() == n_docs


# --- domain_mixture_weights --------------------------------------------------


def test_mixture_weights_consistent_with_score(spark):
    """kept_docs/kept_tokens per source recompute exactly from the
    score query's keep flags joined to the documents roster, and the
    un-rounded mixture masses sum to the total."""
    from psd_project_spark.operators.quality_classifier import (
        domain_mixture_weights,
        quality_classifier_score,
    )
    from psd_project_spark.sources.registry import load_table

    mix = domain_mixture_weights(spark, SF_DIR).toPandas()
    score = quality_classifier_score(spark, SF_DIR).select(
        "doc_id", "keep"
    )
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    from psd_project_spark.operators.text_analysis import doc_stats

    nt = doc_stats(spark, SF_DIR).select("doc_id", "n_tokens")
    want = (
        score.join(docs, "doc_id")
        .join(nt, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("keep").alias("kept_docs"),
            F.sum(F.when(F.col("keep") == 1, F.col("n_tokens")).otherwise(0))
            .alias("kept_tokens"),
        )
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    m = mix.set_index("source").sort_index()
    assert (m["kept_docs"] == want["kept_docs"]).all()
    assert (m["kept_tokens"] == want["kept_tokens"]).all()
    # the mixture is a distribution over sources (rounding at 1e-6)
    assert abs(m["mix_weight"].sum() - 1.0) < 1e-4
    assert ((m["kept_docs"] <= m["n_docs"]).all())
    assert ((m["keep_rate"] >= 0) & (m["keep_rate"] <= 1)).all()


# --- mixture_resample --------------------------------------------------------


def test_mixture_resample_budget_invariants(spark):
    """Every selected prefix respects its source budget, adding the
    next hash-ordered doc would exceed it (maximality), the budgets
    follow the α=0.5 flattening of the mixture's kept masses, and the
    draw is rerun-stable."""
    import math

    from psd_project_spark.operators.quality_classifier import (
        domain_mixture_weights,
        mixture_resample,
    )

    got = mixture_resample(spark, SF_DIR).toPandas()
    mix = domain_mixture_weights(spark, SF_DIR).toPandas().set_index(
        "source"
    )
    kt = mix["kept_tokens"]
    budget_total = int(kt.sum()) // 2
    flat = {s: math.sqrt(float(v)) for s, v in kt.items()}
    flat_tot = float(sum(sorted(flat.values())))  # 20 values: any order
    for s, g in got.groupby("source"):
        b = int(g["budget_tokens"].iloc[0])
        # α-flattened budget (tolerance: only the decimal-vs-float
        # total summation differs from the engine's exact recipe)
        assert abs(b - math.floor(flat[s] / flat_tot * budget_total)) <= 1
        assert int(g["n_tokens"].sum()) <= b <= int(kt[s])
        assert int(g["cum_tokens"].max()) == int(g["n_tokens"].sum())
    # flattening moves mass toward tail domains: the selected share of
    # the largest source is below its proportional share
    head = kt.idxmax()
    sel = got.groupby("source")["n_tokens"].sum()
    assert sel[head] / sel.sum() < kt[head] / kt.sum()
    again = mixture_resample(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(got, again)


def test_budget_prefix_two_phase_equals_global(spark):
    """The salted two-phase mass-prefix selection is EXACT on a
    synthetic built to trip a naive salted filter: one source whose
    hot salt exceeds the budget early (exercising the cut), tiny docs
    scattered across other salts that a cut-free composition would
    wrongly admit, and one source under budget entirely."""
    from pyspark.sql import Window
    from psd_project_spark.operators.quality_classifier import (
        _budget_prefix,
    )

    rows = [(i, "hot", 40 + (i % 7), 200) for i in range(200)]
    rows += [(1000 + i, "hot", 1, 200) for i in range(300)]
    rows += [(2000 + i, "cold", 5, 10_000) for i in range(40)]
    sized = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens int, budget_tokens long"
    ).withColumn("hk", content_hash_col("doc_id"))
    got = (
        _budget_prefix(sized)
        .select("source", "doc_id", "cum_tokens")
        .toPandas()
        .sort_values(["source", "doc_id"])
        .reset_index(drop=True)
    )
    w = (
        Window.partitionBy("source")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = (
        sized.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .filter(F.col("cum_tokens") <= F.col("budget_tokens"))
        .select("source", "doc_id", "cum_tokens")
        .toPandas()
        .sort_values(["source", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the synthetic did what it was built to do: the hot source was
    # actually cut (selection is a strict subset) and cold kept all
    n = got.groupby("source").size()
    assert n["cold"] == 40 and n["hot"] < 500


# --- cluster_balanced_sample -------------------------------------------------


def test_cluster_sample_quota_and_coverage(spark):
    from psd_project_spark.operators.similarity import (
        CB_PER_CLUSTER,
        cluster_balanced_sample,
    )
    from psd_project_spark.sources.registry import load_table

    got = cluster_balanced_sample(spark, SF_DIR).toPandas()
    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    per = got.groupby("cid")
    for cid, g in per:
        n_in = int(g["n_in_cluster"].iloc[0])
        assert len(g) == min(CB_PER_CLUSTER, n_in)
        assert list(g["pick_rank"]) == list(range(1, len(g) + 1))
    # cluster populations partition the corpus
    assert (
        int(got.drop_duplicates("cid")["n_in_cluster"].sum()) == n_vecs
    )


def test_cluster_sample_rerun_stable(spark):
    from psd_project_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    a = cluster_balanced_sample(spark, SF_DIR).toPandas()
    b = cluster_balanced_sample(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_two_phase_selection_equals_global_rank(spark):
    """The salted local-quota → global-rank composition is EXACT on a
    deliberately skewed assignment (one hot cluster with 400 members,
    one with fewer members than the quota): it selects the same rows
    as one global per-cluster window."""
    from pyspark.sql import Window
    from psd_project_spark.operators.similarity import (
        CB_PER_CLUSTER,
        CB_SALTS,
    )

    rows = [(i, 0) for i in range(400)] + [(1000 + i, 1) for i in range(5)]
    final = spark.createDataFrame(rows, "vec_id long, cid long")
    sized = final.withColumn("hk", content_hash_col("vec_id"))

    w_local = Window.partitionBy("cid", "salt").orderBy("hk", "vec_id")
    survivors = (
        sized.withColumn("salt", F.pmod(F.col("hk"), F.lit(CB_SALTS)))
        .withColumn("_rk", F.row_number().over(w_local))
        .filter(F.col("_rk") <= CB_PER_CLUSTER)
        .drop("_rk", "salt")
    )
    w_global = Window.partitionBy("cid").orderBy("hk", "vec_id")
    two_phase = (
        survivors.withColumn("pick_rank", F.row_number().over(w_global))
        .filter(F.col("pick_rank") <= CB_PER_CLUSTER)
        .select("cid", "pick_rank", "vec_id")
        .toPandas()
        .sort_values(["cid", "pick_rank"])
        .reset_index(drop=True)
    )
    direct = (
        sized.withColumn("pick_rank", F.row_number().over(w_global))
        .filter(F.col("pick_rank") <= CB_PER_CLUSTER)
        .select("cid", "pick_rank", "vec_id")
        .toPandas()
        .sort_values(["cid", "pick_rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(two_phase, direct)
    # the small cluster keeps all 5; the hot one exactly the quota
    n_by_cid = two_phase.groupby("cid").size()
    assert n_by_cid[0] == CB_PER_CLUSTER and n_by_cid[1] == 5
