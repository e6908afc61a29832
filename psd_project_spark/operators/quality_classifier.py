"""Learned quality classifier: train + apply over ``quality_features``.

VERDICT r06 "What's missing" #2: ``quality_features``
(``operators/text_curation.py``) assembles the per-document feature
vector every production pretraining pipeline feeds a learned quality
filter (the fastText / logistic-regression step — e.g. GPT-3's
LR-over-features quality classifier, Brown et al. 2020 appendix A;
CCNet's fastText filter, Wenzek et al. 2020 — public knowledge), but
nothing trained or applied a model over it. These operators close
that: a fixed-iteration batch-gradient-descent linear classifier
TRAINED distributively (``quality_classifier_train``) and APPLIED as
a corpus filter (``quality_classifier_score``).

Supervision: the label is the engine's own heuristic curation rule —
``quality_score >= MIN_QUALITY`` (``text_analysis.py``), with
``quality_score`` itself EXCLUDED from the features. That is the
standard distillation setup: compress an expensive multi-pass
heuristic pipeline into one cheap linear scorer the ingest path can
run per document (and exactly what makes the training determinstic
and oracle-able — no external labels).

Exactness discipline (the ``kmeans_embeddings`` precedent — iterative
training IS oracle-able when every step is reproducible op-for-op):

- The link function is the rational **softsign sigmoid**
  ``p = 0.5·(1 + z/(1+|z|))`` (Elliott 1993), not the logistic
  ``1/(1+e^(−z))``: no transcendental functions, so every
  per-row double is the same IEEE add/mul/div/abs sequence on Spark
  and DuckDB — ``exp`` is NOT guaranteed to round identically across
  the two engines' libm implementations, and one ulp would break the
  bit-exact driver hash. Training is true gradient descent on the
  mean-squared-error of ``p``: per-row gradient
  ``(p−y) · 0.5/(1+|z|)² · x`` — also fully rational.
- Gradient / loss sums are exact decimal sums (``functions/exact.py``;
  order-independent — parallel fold order cannot change the result),
  cast back to double; the oracle mirrors them with the DuckDB twins.
- ``z`` is one fixed left-associated fold ``x1·w1 + … + x9·w9 + b``
  generated from the same feature list on both sides.
- Weights are O(d) driver-side model state (like the k-means
  codebook); each iteration embeds them as literals, so no lineage
  chains across iterations.

Plan shape at 100 TB: each iteration is ONE map-side-combined
aggregation over the (persisted, column-pruned) feature table — the
shuffle moves 12 partial aggregate values per map task, never data.
Scoring is a stateless per-row projection: one scan, no shuffle, no
Python. This is exactly how MLlib's LinearRegression/LogisticRegression
treeAggregate step works, expressed as DataFrame algebra so the
optimizer sees it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions.caching import cache_dir, transient_cache
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql

#: (name, spark expr over quality_features, duckdb expr over qf CTE).
#: Count-scaled features divide by an exact power-of-ten double so the
#: scaling is the same single IEEE division on both engines.
FEATURES = [
    ("x1", "CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)"),
    ("x2", "ttr"),
    ("x3", "punct_ratio"),
    ("x4", "dup_token_frac"),
    ("x5", "top_token_frac"),
    ("x6", "dup_bigram_frac"),
    ("x7", "avg_corpus_freq / CAST(50.0 AS DOUBLE)"),
    ("x8", "rare_frac"),
    ("x9", "boiler_frac"),
]

#: Fixed-iteration schedule: deterministic by construction. lr=4.0 is
#: calibrated to the softsign gradient's built-in 0.5/(1+|z|)² damping
#: (measured: monotone loss and improving accuracy on this corpus;
#: pinned by tests/test_quality_classifier.py).
ITERS = 5
LR = 4.0


def _feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x1..x9, y, n_tokens) — doubles already bit-exact vs
    the ``quality_features`` oracle, so the training inputs are
    identical on both engines. Label: the heuristic curation rule.
    ``n_tokens`` rides along (integer, untouched by the feature
    scaling) for consumers that weight decisions by token mass
    (:func:`domain_mixture_weights`); the training aggregation never
    reads it."""
    from psd_project_spark.operators.text_analysis import MIN_QUALITY
    from psd_project_spark.operators.text_curation import quality_features

    qf = quality_features(spark, sf_dir)
    cols = [F.expr(expr).alias(name) for name, expr in FEATURES]
    y = (
        F.when(
            F.col("quality_score") >= F.lit(float(MIN_QUALITY)),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("y")
    )
    return qf.select("doc_id", *cols, y, "n_tokens")


def _z_col(w: list[float], b: float) -> Column:
    """The fixed left-associated linear fold — term order is part of
    the cross-engine contract (see module docstring)."""
    z = F.col(FEATURES[0][0]) * F.lit(w[0])
    for j in range(1, len(FEATURES)):
        z = z + F.col(FEATURES[j][0]) * F.lit(w[j])
    return z + F.lit(b)


def _train(
    feat: DataFrame,
) -> tuple[list[float], float, list[tuple[int, float, float]]]:
    """Run the fixed-iteration descent; returns (weights, bias,
    [(iteration, loss, accuracy)]). loss/accuracy are evaluated with
    the weights ENTERING each iteration (like k-means' per-iteration
    inertia), already rounded Spark-side so both engines round the
    same value the same way."""
    d = len(FEATURES)
    w = [0.0] * d
    b = 0.0
    report: list[tuple[int, float, float]] = []
    one = F.lit(1.0)
    half = F.lit(0.5)
    for it in range(1, ITERS + 1):
        z = _z_col(w, b)
        a = F.abs(z)
        p = half * (one + z / (one + a))
        s = half / ((one + a) * (one + a))
        e = p - F.col("y")
        n = F.count(F.lit(1))


        hit = ((z >= F.lit(0.0)) == (F.col("y") == one)).cast("long")
        row = feat.agg(
            *[
                exact_sum(e * s * F.col(name)).alias(f"g{j + 1}")
                for j, (name, _) in enumerate(FEATURES)
            ],
            exact_sum(e * s).alias("gb"),
            n.cast("double").alias("n"),
            F.round(exact_sum(e * e) / n.cast("double"), 6).alias("loss"),
            F.round(
                F.sum(hit).cast("double") / n.cast("double"), 6
            ).alias("accuracy"),
        ).collect()[0]
        nf = float(row["n"])
        report.append((it, float(row["loss"]), float(row["accuracy"])))
        w = [w[j] - LR * float(row[f"g{j + 1}"]) / nf for j in range(d)]
        b = b - LR * float(row["gb"]) / nf
    return w, b, report


#: Deterministic-model memo (VERDICT r07 plan-audit note): every
#: consumer query of this family re-ran the identical 5-iteration
#: descent — ~5 aggregation passes each over the same corpus for the
#: same O(d) weights. The schedule is deterministic given (corpus,
#: feature recipe, ITERS, LR), so the weights are memoized on exactly
#: that key; a corpus regeneration (new source fingerprint) or a
#: recipe edit re-trains. ``quality_classifier_train`` itself always
#: trains live — the training path stays exercised every run.
_MODEL_CACHE: dict[tuple, tuple] = {}


def _model(
    sf_dir: str, feat: DataFrame
) -> tuple[list[float], float, list[tuple[int, float, float]]]:
    import hashlib

    from psd_project_spark.sources.registry import source_fingerprint

    recipe = hashlib.md5(
        f"{FEATURES!r}|{ITERS}|{LR}".encode()
    ).hexdigest()[:8]
    key = (sf_dir, source_fingerprint(sf_dir, "documents"), recipe)
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = _train(feat)
    return _MODEL_CACHE[key]


def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed fixed-iteration training of the linear quality
    classifier; returns the per-iteration convergence report
    (iteration, loss, accuracy) — loss is monotone non-increasing
    under the fixed step (pinned in tests)."""
    feat = transient_cache(_feature_frame(spark, sf_dir))
    _w, _b, report = _train(feat)
    return spark.createDataFrame(
        report, "iteration int, loss double, accuracy double"
    )


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (deterministically — same schedule as
    ``quality_classifier_train``) then APPLY: score every document
    with the learned linear model and emit the keep/cut decision at
    the p ≥ 0.5 operating point (⇔ z ≥ 0 — softsign is monotone with
    p(0) = 0.5 exactly). One stateless projection pass over the
    corpus; ``label`` rides along so precision/recall of the distilled
    filter are auditable downstream."""
    feat = transient_cache(_feature_frame(spark, sf_dir))
    w, b, _report = _model(sf_dir, feat)
    z = _z_col(w, b)
    one = F.lit(1.0)
    p = F.lit(0.5) * (one + z / (one + F.abs(z)))
    return feat.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        F.round(p, 6).alias("score"),
        (z >= F.lit(0.0)).cast("int").alias("keep"),
    ).orderBy("doc_id")


# --- DuckDB oracles (the k-means unrolled-CTE precedent) ---------------------


def _feat_cte() -> str:
    from psd_project_spark.operators.text_analysis import MIN_QUALITY
    from psd_project_spark.operators.text_curation import (
        _quality_features_oracle,
    )

    cols = ",\n         ".join(
        f"{expr} AS {name}" for name, expr in FEATURES
    )
    return f"""qf AS ({_quality_features_oracle()}
), feat AS (
  SELECT doc_id,
         {cols},
         CASE WHEN quality_score >= CAST({MIN_QUALITY} AS DOUBLE)
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
         n_tokens
  FROM qf
)"""


def _z_sql() -> str:
    terms = " + ".join(
        f"f.{name}*w.w{j + 1}" for j, (name, _) in enumerate(FEATURES)
    )
    return f"{terms} + w.b"


def _train_ctes() -> str:
    """w0 → (z,p,g,w)×ITERS — the descent unrolled, every step the
    string-hop decimal mirror of the Spark aggregation."""
    d = len(FEATURES)
    zero = "CAST(0.0 AS DOUBLE)"
    w0 = ", ".join([f"{zero} AS w{j + 1}" for j in range(d)] + [f"{zero} AS b"])
    ctes = [f"w0 AS (SELECT {w0})"]
    for t in range(1, ITERS + 1):
        ctes.append(
            f"""z{t} AS (
  SELECT f.*, {_z_sql()} AS z FROM feat f CROSS JOIN w{t - 1} w
), p{t} AS (
  SELECT *,
    CAST(0.5 AS DOUBLE)*(CAST(1.0 AS DOUBLE)
      + z/(CAST(1.0 AS DOUBLE)+abs(z))) AS p,
    CAST(0.5 AS DOUBLE)/((CAST(1.0 AS DOUBLE)+abs(z))
      *(CAST(1.0 AS DOUBLE)+abs(z))) AS s
  FROM z{t}
), g{t} AS (
  SELECT
    {", ".join(exact_sum_sql(f"(p-y)*s*x{j + 1}") + f" AS g{j + 1}" for j in range(d))},
    {exact_sum_sql("(p-y)*s")} AS gb,
    CAST(count(*) AS DOUBLE) AS n,
    {round_sql(exact_sum_sql("(p-y)*(p-y)") + " / CAST(count(*) AS DOUBLE)", 6)} AS loss,
    {round_sql(
        "CAST(sum(CASE WHEN (z >= CAST(0.0 AS DOUBLE)) = (y = CAST(1.0 AS DOUBLE))"
        " THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6
    )} AS accuracy
  FROM p{t}
), w{t} AS (
  SELECT
    {", ".join(f"w.w{j + 1} - CAST({LR} AS DOUBLE)*g.g{j + 1}/g.n AS w{j + 1}" for j in range(d))},
    w.b - CAST({LR} AS DOUBLE)*g.gb/g.n AS b
  FROM w{t - 1} w CROSS JOIN g{t} g
)"""
        )
    return ",\n".join(ctes)


def _train_oracle() -> str:
    reports = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INT) AS iteration, loss, accuracy FROM g{t}"
        for t in range(1, ITERS + 1)
    )
    return (
        f"WITH {_feat_cte()},\n{_train_ctes()}\n"
        f"SELECT * FROM (\n{reports}\n) ORDER BY iteration"
    )


def _score_oracle() -> str:
    return f"""WITH {_feat_cte()},
{_train_ctes()},
scored AS (
  SELECT f.doc_id, f.y, {_z_sql()} AS z
  FROM feat f CROSS JOIN w{ITERS} w
)
SELECT doc_id,
       CAST(y AS INT) AS label,
       {round_sql("CAST(0.5 AS DOUBLE)*(CAST(1.0 AS DOUBLE) + z/(CAST(1.0 AS DOUBLE)+abs(z)))", 6)} AS score,
       CASE WHEN z >= CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END AS keep
FROM scored
ORDER BY doc_id
"""


# --- stream_quality_score (online scoring over the offline store) ------------

#: Hash buckets for the feature store's partition layout. A pruning
#: layer only (the doc_id equi-join decides every hit), like
#: SUBSTR_INDEX_BUCKETS.
FEATURE_STORE_BUCKETS = 32

#: The persisted column is INT64 (``doc_stats`` longs ``n_tokens``);
#: declaring int here would crash any consumer that projects it.
_STORE_SCHEMA = (
    "doc_id long, "
    + ", ".join(f"{name} double" for name, _ in FEATURES)
    + ", y double, n_tokens long, bucket int"
)


def _qstore_dir(sf_dir: str) -> str:
    import hashlib

    # Recipe fingerprint (ADVICE r07 #1): the store caches FEATURE
    # ROWS, so its identity is (source data × feature definition), not
    # source data alone — without this, editing FEATURES/_STORE_SCHEMA
    # would serve a stale store through the marker gate and the
    # explicit-schema read would silently null-fill renamed columns.
    rh = hashlib.md5(
        (_STORE_SCHEMA + "|" + repr(FEATURES)).encode()
    ).hexdigest()[:8]
    return cache_dir(
        sf_dir, "documents",
        f"quality_feature_store_{FEATURE_STORE_BUCKETS}_{rh}",
    )


def _write_store_batch(feat: DataFrame, path: str, mode: str) -> None:
    """Write (or append) one corpus batch's feature rows into the
    bucket-partitioned store layout (co-locate each bucket before the
    partitioned write — the smallfile trap, see ann_index_export)."""
    (
        feat.withColumn(
            "bucket",
            F.pmod(
                F.xxhash64("doc_id"), F.lit(FEATURE_STORE_BUCKETS)
            ).cast("int"),
        )
        .repartition(8, "bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def _ensure_feature_store(
    spark: SparkSession, sf_dir: str, feat: DataFrame
) -> str:
    """Build (or reuse) the PERSISTED doc-keyed feature store for
    ``sf_dir`` under the shared incremental-index lifecycle
    (``build_base_plus_delta``: writer lock, base ``overwrite`` +
    delta ``append``, partition manifest, per-bucket compaction,
    completion marker strictly last — the MinHash/ANN/anchor index
    protocol applied to a feature store). Base batch:
    ``doc_id % 3 != 2``; delta: the rest — together the whole corpus,
    since every arriving doc must find its row. Keyed by the source
    fingerprint, so a changed corpus prunes-and-rebuilds while reruns
    hit the marker gate and skip the build entirely. Shared by
    :func:`stream_quality_score` and
    :func:`quality_store_incremental`."""
    from psd_project_spark.operators.index_compact import (
        build_base_plus_delta,
        compact_index,
    )

    is_delta = F.col("doc_id") % 3 == 2
    path = _qstore_dir(sf_dir) + "_incr"
    build_base_plus_delta(
        path,
        lambda: _write_store_batch(feat.filter(~is_delta), path, "overwrite"),
        lambda: _write_store_batch(feat.filter(is_delta), path, "append"),
        compact_fn=lambda: compact_index(
            spark, path, ["bucket"], _STORE_SCHEMA
        ),
    )
    return path


def _lookup_scores(
    ids: DataFrame, store: str, present: set, w: list[float], b: float
) -> DataFrame:
    """One pruned store lookup + the frozen linear head: the batch's
    doc_ids hash to store buckets, the probed set intersects the
    ``_PARTITIONS`` manifest (already read into ``present`` — ONE
    small-file read per store), only those partition dirs are
    scanned, and the id set broadcasts into the lookup join. Shared
    verbatim by the streaming ``foreachBatch`` callable and the batch
    incremental-lifecycle probe."""
    ss = ids.sparkSession
    # transient_cache (ADVICE r07 #2): the ids frame feeds BOTH the
    # distinct-bucket collect and the broadcast join side — without
    # the cache each micro-batch source is evaluated twice. Released
    # at the next registry query's entry (the per-query scratch-cache
    # contract); doc_ids themselves never land on the driver (only the
    # ≤ FEATURE_STORE_BUCKETS bucket ids do).
    ids = transient_cache(
        ids.select("doc_id").distinct().withColumn(
            "bucket",
            F.pmod(
                F.xxhash64("doc_id"), F.lit(FEATURE_STORE_BUCKETS)
            ).cast("int"),
        )
    )
    probe = sorted(
        {int(r["bucket"]) for r in ids.select("bucket").distinct().collect()}
    )
    dirs = [
        f"{store}/bucket={k}" for k in probe if f"bucket={k}" in present
    ]
    if not dirs:
        return ss.createDataFrame(
            [], "doc_id long, label int, score double, keep int"
        )
    hit = (
        ss.read.option("basePath", store)
        .schema(_STORE_SCHEMA)
        .parquet(*dirs)
        .join(F.broadcast(ids.select("doc_id")), "doc_id")
    )
    z = _z_col(w, b)
    one = F.lit(1.0)
    p = F.lit(0.5) * (one + z / (one + F.abs(z)))
    return hit.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        F.round(p, 6).alias("score"),
        (z >= F.lit(0.0)).cast("int").alias("keep"),
    )


def stream_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring at INGEST time — the online half of the
    offline/online split every production quality filter runs: the
    expensive corpus-dependent featurization (``quality_features``:
    corpus-frequency LM, cross-document boilerplate model) is computed
    ONCE batch-side and persisted as a doc-keyed FEATURE STORE (the
    fingerprint-keyed incremental store of
    :func:`_ensure_feature_store` — reruns hit the completion-marker
    gate and skip the build); the
    classifier trains once batch-side (same deterministic schedule as
    ``quality_classifier_train``, weights frozen as O(d) literals);
    then arriving documents stream through and every micro-batch scores
    its own docs with one pruned store lookup + the frozen linear head.

    Per micro-batch (``foreachBatch``): the batch's doc_ids are hashed
    to store buckets, the probed bucket set intersects the
    ``_PARTITIONS`` manifest (ONE small-file read), only those
    partition dirs are scanned, and the batch side broadcasts into the
    lookup join — the ``stream_crawl_screen`` pruning discipline with a
    feature store in place of the anchor index. Scoring is the same
    stateless literal-weight projection as
    ``quality_classifier_score``. Epoch outputs land in the idempotent
    ``batch_id=N`` sink layout.

    Every arriving doc lives in exactly one epoch and holds one store
    row, so the union of epoch outputs must equal the one-shot batch
    score — the oracle is ``quality_classifier_score``'s VERBATIM,
    proving store write + manifest + per-epoch pruned lookups + frozen
    weights + epoch-sink reassembly ≡ batch train-and-score. At
    100 TB: featurization cost amortizes across the ingest stream's
    lifetime; per-epoch cost tracks the EPOCH's doc count (its bucket
    subset of the store), never the corpus."""
    from psd_project_spark.functions.caching import scratch_dir
    from psd_project_spark.operators.index_compact import list_partitions
    from psd_project_spark.streaming.foreach_sink import run_stream
    from psd_project_spark.streaming.jobs import table_stream

    feat = transient_cache(_feature_frame(spark, sf_dir))
    w, b, _report = _model(sf_dir, feat)
    store = _ensure_feature_store(spark, sf_dir, feat)
    present = list_partitions(store)

    arriving = table_stream(spark, sf_dir, "documents").select("doc_id")
    out = scratch_dir("psd_qcls_out_")
    ckpt = scratch_dir("psd_qcls_ckpt_")
    run_stream(arriving, _score_store_batch_fn(store, present, w, b, out),
               ckpt, state_partitions=None)
    return (
        spark.read.parquet(out)
        .drop("batch_id")
        .orderBy("doc_id")
    )


def _score_store_batch_fn(
    store: str, present: set, w: list[float], b: float, out: str
):
    """The per-epoch store lookup + frozen-head scoring as a
    ``foreachBatch`` callable (factored so tests can drive a
    multi-file doc stream through the identical code the registry
    query runs)."""

    def score_batch(batch: DataFrame, batch_id: int) -> None:
        from psd_project_spark.streaming.foreach_sink import write_epoch

        write_epoch(_lookup_scores(batch, store, present, w, b), out, batch_id)

    return score_batch


def quality_store_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature store's LIFECYCLE driver row — the feature-store
    twin of ``substr_index_incremental``/``ann_index_compaction``:
    build the persisted doc-keyed store as base (``doc_id % 3 != 2``,
    overwrite) + delta (append) + per-bucket compaction under the
    shared ``build_base_plus_delta`` protocol, then score an arriving
    eval batch (``doc_id % 50 == 0`` — a new crawl shard asking "what
    would the quality filter keep?") through the manifest-pruned
    lookup + frozen linear head. The oracle is the batch
    train-and-score restricted to the same eval set, so a hash match
    proves base build + delta append + compaction + pruned probe +
    frozen-weight scoring ≡ one-shot featurize-and-score. At 100 TB
    the store build amortizes across ingest shards (rerun hits the
    completion-marker gate and skips it); a probe reads ≤ |batch
    bucket| partitions of the store, and the eval set broadcasts."""
    from psd_project_spark.operators.index_compact import list_partitions
    from psd_project_spark.sources.registry import load_table

    feat = transient_cache(_feature_frame(spark, sf_dir))
    w, b, _report = _model(sf_dir, feat)
    store = _ensure_feature_store(spark, sf_dir, feat)
    present = list_partitions(store)
    arriving = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 50 == 0)
    )
    return _lookup_scores(arriving, store, present, w, b).orderBy("doc_id")


def _score_eval_oracle() -> str:
    """The batch score oracle restricted to the arriving eval set —
    shared CTE chain with ``_score_oracle`` (only the WHERE differs),
    mirroring the Spark-side sharing of the scoring projection."""
    return f"""WITH {_feat_cte()},
{_train_ctes()},
scored AS (
  SELECT f.doc_id, f.y, {_z_sql()} AS z
  FROM feat f CROSS JOIN w{ITERS} w
  WHERE f.doc_id % 50 = 0
)
SELECT doc_id,
       CAST(y AS INT) AS label,
       {round_sql("CAST(0.5 AS DOUBLE)*(CAST(1.0 AS DOUBLE) + z/(CAST(1.0 AS DOUBLE)+abs(z)))", 6)} AS score,
       CASE WHEN z >= CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END AS keep
FROM scored
ORDER BY doc_id
"""


# --- quality_classifier_eval (per-source error profile) ----------------------


def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE error profile of the distilled quality filter
    (VERDICT r07 "Next round" #4): precision / recall / F1 of the
    keep decision against the distillation labels, per document
    source — a production quality classifier is judged by WHERE it
    errs (which domains it over-cuts or over-keeps), not by one
    global accuracy; this is also the auditable quality axis behind
    ``domain_mixture_weights``' per-source budgets.

    Exactness: tp/fp/fn/tn are integer sums; precision and recall
    are one long→double cast + one IEEE division each; F1 is the
    same left-associated ``(2·p·r)/(p+r)`` on both engines from the
    RAW (unrounded) ratios, rounded once for display. Zero guards
    mirror as identical CASE arms (a source with nothing kept has
    defined zeros — and ``tp > 0`` implies both denominators are
    positive, so F1's guard is just that).

    Plan: one stateless literal-weight projection riding the feature
    scan, the roster equi-join, one map-side-combinable
    groupBy(source) — ~|sources| rows after the exchange; nothing
    downstream is data-sized."""
    from psd_project_spark.sources.registry import load_table

    feat = transient_cache(_feature_frame(spark, sf_dir))
    w, b, _report = _model(sf_dir, feat)
    k = (_z_col(w, b) >= F.lit(0.0)).cast("long")
    lbl = F.col("y").cast("long")
    roster = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    per = (
        feat.select("doc_id", k.alias("k"), lbl.alias("l"))
        .join(roster, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("k") * F.col("l")).alias("tp"),
            F.sum(F.col("k") * (F.lit(1) - F.col("l"))).alias("fp"),
            F.sum((F.lit(1) - F.col("k")) * F.col("l")).alias("fn"),
            F.sum(
                (F.lit(1) - F.col("k")) * (F.lit(1) - F.col("l"))
            ).alias("tn"),
        )
    )
    p = F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast(
        "double"
    )
    r = F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast(
        "double"
    )
    f1 = (F.lit(2.0) * p * r) / (p + r)
    zero = F.lit(0.0)
    return per.select(
        "source",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(F.col("tp") + F.col("fp") > 0, F.round(p, 6))
        .otherwise(zero)
        .alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0, F.round(r, 6))
        .otherwise(zero)
        .alias("recall"),
        F.when(F.col("tp") > 0, F.round(f1, 6)).otherwise(zero).alias("f1"),
    ).orderBy("source")


def _eval_oracle() -> str:
    praw = "CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)"
    rraw = "CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)"
    f1raw = (
        f"(CAST(2.0 AS DOUBLE) * ({praw}) * ({rraw}))"
        f" / (({praw}) + ({rraw}))"
    )
    return f"""WITH {_feat_cte()},
{_train_ctes()},
scored AS (
  SELECT f.doc_id, CAST(f.y AS BIGINT) AS l,
         CASE WHEN {_z_sql()} >= CAST(0.0 AS DOUBLE)
              THEN 1 ELSE 0 END AS k
  FROM feat f CROSS JOIN w{ITERS} w
),
per AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(s.k * s.l) AS BIGINT) AS tp,
         CAST(sum(s.k * (1 - s.l)) AS BIGINT) AS fp,
         CAST(sum((1 - s.k) * s.l) AS BIGINT) AS fn,
         CAST(sum((1 - s.k) * (1 - s.l)) AS BIGINT) AS tn
  FROM scored s JOIN documents d USING (doc_id)
  GROUP BY d.source
)
SELECT source, n_docs, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0 THEN {round_sql(praw, 6)}
            ELSE CAST(0.0 AS DOUBLE) END AS precision,
       CASE WHEN tp + fn > 0 THEN {round_sql(rraw, 6)}
            ELSE CAST(0.0 AS DOUBLE) END AS recall,
       CASE WHEN tp > 0 THEN {round_sql(f1raw, 6)}
            ELSE CAST(0.0 AS DOUBLE) END AS f1
FROM per
ORDER BY source
"""


# --- quality_calibration (10-bin reliability table) ---------------------------


def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table of the distilled filter: the
    [0,1] score axis in 10 equal bins, each with its document count,
    mean predicted score, and empirical positive rate — the standard
    reliability-diagram input (a well-calibrated scorer has
    ``mean_score ≈ pos_rate`` per bin; ``gap`` is the absolute
    deviation, whose count-weighted sum is ECE). Scores land in bins
    by ``least(floor(score·10), 9)`` — both engines bin the SAME
    round6 double with the same IEEE multiply, so bin edges cannot
    disagree.

    Exactness: mean_score is an exact decimal sum of the round6
    scores (order-free); pos_rate is an integer count over n;
    gap is one subtract + abs of two already-identical doubles.

    Plan: the scoring projection rides the feature scan; one
    map-side-combinable groupBy over ≤10 bins."""
    feat = transient_cache(_feature_frame(spark, sf_dir))
    w, b, _report = _model(sf_dir, feat)
    z = _z_col(w, b)
    one = F.lit(1.0)
    score = F.round(
        F.lit(0.5) * (one + z / (one + F.abs(z))), 6
    )
    binc = F.least(F.floor(score * F.lit(10.0)), F.lit(9).cast("long")).cast(
        "int"
    )


    agg = (
        feat.select(binc.alias("bin"), score.alias("score"), "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                exact_sum(F.col("score")) / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_score"),
            F.round(
                F.sum(F.col("y").cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pos_rate"),
        )
    )
    return agg.select(
        "bin",
        "n_docs",
        "mean_score",
        "pos_rate",
        F.round(F.abs(F.col("mean_score") - F.col("pos_rate")), 6).alias(
            "gap"
        ),
    ).orderBy("bin")


def _calibration_oracle() -> str:
    score = (
        "CAST(0.5 AS DOUBLE)*(CAST(1.0 AS DOUBLE)"
        " + z/(CAST(1.0 AS DOUBLE)+abs(z)))"
    )
    return f"""WITH {_feat_cte()},
{_train_ctes()},
zs AS (
  SELECT f.doc_id, f.y, {_z_sql()} AS z
  FROM feat f CROSS JOIN w{ITERS} w
),
scored AS (
  SELECT doc_id, y, {round_sql(score, 6)} AS score FROM zs
),
binned AS (
  SELECT CAST(least(floor(score * CAST(10.0 AS DOUBLE)),
                    CAST(9 AS DOUBLE)) AS INT) AS bin,
         score, y
  FROM scored
),
agg AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         {round_sql(exact_sum_sql("score") + " / CAST(count(*) AS DOUBLE)", 6)}
           AS mean_score,
         {round_sql("CAST(sum(CAST(y AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
           AS pos_rate
  FROM binned
  GROUP BY bin
)
SELECT bin, n_docs, mean_score, pos_rate,
       {round_sql("abs(mean_score - pos_rate)", 6)} AS gap
FROM agg
ORDER BY bin
"""


# --- domain_mixture_weights (classifier-driven sampling mixture) -------------


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the learned quality filter into a per-SOURCE sampling
    mixture — the domain-weighting step between curation and training
    (the quality-classified pipelines sample domains proportionally to
    their post-filter token mass; e.g. The Pile's per-set weights,
    Gao et al. 2020, and GPT-3's quality-weighted mix, Brown et al.
    2020 §2.2 — public knowledge): train the classifier (same frozen
    schedule), score every doc, and roll up per document source the
    doc counts, the keep rate, the SURVIVING token mass, and the
    normalized mixture weight ``kept_tokens / Σ kept_tokens`` a
    sampler would draw each domain with.

    Plan shape: one stateless scoring projection (literal weights)
    riding the feature scan, an equi-join to the (doc_id, source)
    roster (broadcast at this SF; one co-partitioned doc_id shuffle
    per side at scale — the unavoidable cost of keeping the feature
    frame's verified schema source-free), one map-side-combinable
    groupBy(source) whose exchange carries ~|sources| partial rows,
    and a 1-row total broadcast-crossed back. At 100 TB nothing after
    the roster join is data-sized; no new machinery."""
    from psd_project_spark.sources.registry import load_table

    feat = transient_cache(_feature_frame(spark, sf_dir))
    w, b, _report = _model(sf_dir, feat)
    keep = _z_col(w, b) >= F.lit(0.0)
    roster = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    # cached: the ~|sources|-row rollup feeds BOTH the 1-row total and
    # the final projection — without the cache the corpus-sized
    # score+join+aggregate pass runs twice (guide §5: cache the tiny
    # reused frame, pay one corpus pass)
    per_src = transient_cache(
        feat.select("doc_id", "n_tokens", keep.alias("keep"))
        .join(roster, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("kept_docs"),
            F.sum(
                F.when(F.col("keep"), F.col("n_tokens")).otherwise(0).cast(
                    "long"
                )
            ).alias("kept_tokens"),
        )
    )
    total = per_src.agg(
        F.sum("kept_tokens").alias("_total_tokens")
    )
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "kept_docs",
            F.round(
                F.col("kept_docs").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("keep_rate"),
            "kept_tokens",
            # all-cut guard (ADVICE r07 #3): a corpus where the
            # classifier keeps nothing has zero surviving mass —
            # defined zero weights, never a divide-by-zero
            F.when(
                F.col("_total_tokens") > 0,
                F.round(
                    F.col("kept_tokens").cast("double")
                    / F.col("_total_tokens").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("mix_weight"),
        )
        .orderBy("source")
    )


def _mixture_oracle() -> str:
    return f"""WITH {_feat_cte()},
{_train_ctes()},
scored AS (
  SELECT f.doc_id, f.n_tokens,
         CASE WHEN {_z_sql()} >= CAST(0.0 AS DOUBLE)
              THEN 1 ELSE 0 END AS keep
  FROM feat f CROSS JOIN w{ITERS} w
),
per_src AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(s.keep) AS BIGINT) AS kept_docs,
         CAST(sum(CASE WHEN s.keep = 1 THEN s.n_tokens ELSE 0 END)
              AS BIGINT) AS kept_tokens
  FROM scored s JOIN documents d USING (doc_id)
  GROUP BY d.source
),
tot AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS total_tokens FROM per_src)
SELECT source, n_docs, kept_docs,
       {round_sql("CAST(kept_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)}
         AS keep_rate,
       kept_tokens,
       CASE WHEN total_tokens > 0
            THEN {round_sql("CAST(kept_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)", 6)}
            ELSE CAST(0.0 AS DOUBLE) END
         AS mix_weight
FROM per_src CROSS JOIN tot
ORDER BY source
"""


# --- mixture_resample (temperature-flattened token-budget draw) --------------

#: Salt fan-out of the exact two-phase mass-quota selection (see the
#: straggler note in :func:`mixture_resample`).
MIX_SALTS = 16

#: Chunk fan-out of the final exact prefix sum (functions/prefix.py):
#: the per-source running total is computed over 64 hash-prefix
#: chunks in parallel, never as one task per source.
MIX_CHUNKS = 64


def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZE the training mix: draw an actual document subset
    whose per-source token masses follow a temperature-flattened
    version of the post-filter distribution — the sampling step that
    turns :func:`domain_mixture_weights` into a training set. The
    flattening is α=0.5 exponentiation of each source's kept token
    mass (``sqrt`` — the multilingual-sampling temperature recipe of
    Lample & Conneau 2019 §3.1 / mT5, Xue et al. 2021 — public
    knowledge): proportional sampling lets one head domain dominate;
    α<1 re-allocates budget toward tail domains. The global budget is
    half the surviving token mass; each source's share is
    ``sqrt(kt_s) / Σ sqrt(kt_t)``, and its documents are taken in
    md5(doc_id) content-hash order (deterministic, rerun-stable, the
    ``train_val_split`` discipline) until the source's token budget is
    exhausted — a PREFIX BY CUMULATIVE MASS, not by row count.

    Exactness of the float plumbing: ``sqrt`` is IEEE-754
    exactly-rounded, so both engines flatten identically; the
    ~|sources| flattened masses are an exact decimal sum
    (order-independent), and budget = ``floor(share · ⌊total/2⌋)`` is
    the same double multiply + floor on both engines.

    Straggler guard — the mass-quota twin of
    ``cluster_balanced_sample``'s rank quota, but rank tricks don't
    transfer: a salted local TOP-K is exact for ranks, while a salted
    local mass-prefix is NOT (another salt's early heavy doc can push
    a locally-cheap doc past the budget). The exact two-phase form:

    1. local pass on ``(source, salt)`` — cumulative mass in hash
       order; rows with local cum ≤ budget are SURVIVORS (local cum
       is a lower bound on true cum, so non-survivors are provably
       out);
    2. per source, the earliest locally-excluded key (a tiny min
       aggregate) is a CUT: order monotonicity makes every doc at or
       past it provably out, and — because every excluded doc sits at
       or past the cut — survivors BEFORE the cut have survivor-cumsum
       ≡ true cumsum;
    3. the exact running total over the pre-cut survivors is a
       TWO-LEVEL PREFIX SUM (``functions/prefix.chunked_cumsum``,
       VERDICT r07 #1), never one window task per source: survivors
       split into ``MIX_CHUNKS`` hash-prefix chunks (``hk DIV
       (2^32/64)`` — deterministic, order-consistent, uniform), each
       chunk cumsums locally in parallel, and the tiny per-chunk
       totals broadcast back as exclusive offsets. Integer token sums
       make the composition bit-identical to the single window — at
       any default parameterization, including the budget = ½·mass
       case where the salt cut never trips and the survivors are
       ~the whole kept corpus.

    The oracle computes the straightforward single global window, so
    the hash match PROVES the chunked two-phase composition exact
    (the ``cluster_balanced_sample`` discipline for mass quotas)."""
    from psd_project_spark.functions.text import content_hash_col
    from psd_project_spark.sources.registry import load_table

    feat = transient_cache(_feature_frame(spark, sf_dir))
    w, b, _report = _model(sf_dir, feat)
    keep = _z_col(w, b) >= F.lit(0.0)
    roster = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    # cached: ``kept`` feeds the per-source budget rollup AND the
    # sized probe side — one filter+join pass instead of two; ``flat``
    # (~|sources| rows) feeds the 1-row total and the budget
    # projection (guide §5)
    kept = transient_cache(
        feat.filter(keep)
        .join(roster, "doc_id")
        .select("doc_id", "source", "n_tokens")
    )
    per_src = kept.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("kept_tokens")
    )
    flat = transient_cache(
        per_src.withColumn(
            "flat_mass", F.sqrt(F.col("kept_tokens").cast("double"))
        )
    )
    tot = flat.agg(
        exact_sum(F.col("flat_mass"))
        .alias("_flat_tot"),
        F.expr("sum(kept_tokens) DIV 2").alias("_budget_total"),
    )
    # all-cut guard (ADVICE r07 #3): an all-zero surviving mass (every
    # kept doc empty, or nothing kept at all — then `kept` is already
    # empty and so is the result) yields defined zero budgets, never a
    # divide-by-zero.
    budgets = flat.crossJoin(F.broadcast(tot)).select(
        "source",
        "kept_tokens",
        F.when(
            F.col("_flat_tot") > 0,
            F.floor(
                (F.col("flat_mass") / F.col("_flat_tot"))
                * F.col("_budget_total").cast("double")
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("budget_tokens"),
    )

    sized = kept.join(
        F.broadcast(budgets.select("source", "budget_tokens")), "source"
    ).withColumn("hk", content_hash_col("doc_id"))
    return (
        _budget_prefix(sized)
        .select(
            "source", "doc_id", "n_tokens", "cum_tokens", "budget_tokens"
        )
        .orderBy("source", "cum_tokens", "doc_id")
    )


def _budget_prefix(sized: DataFrame) -> DataFrame:
    """The exact two-phase mass-prefix selection over
    (source, doc_id, n_tokens, budget_tokens, hk) — factored so tests
    can drive a deliberately skewed synthetic corpus through the
    identical code the registry query runs (steps 1-3 of the
    :func:`mixture_resample` docstring)."""
    from pyspark.sql import Window

    w_local = (
        Window.partitionBy("source", "salt")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sized.withColumn(
        "salt", F.pmod(F.col("hk"), F.lit(MIX_SALTS))
    ).withColumn("_lcum", F.sum("n_tokens").over(w_local))
    survivors = local.filter(F.col("_lcum") <= F.col("budget_tokens"))
    cuts = (
        local.filter(F.col("_lcum") > F.col("budget_tokens"))
        .groupBy("source")
        .agg(F.min(F.struct("hk", "doc_id")).alias("_cut"))
    )
    pre_cut = (
        survivors.join(F.broadcast(cuts), "source", "left")
        .filter(
            F.col("_cut").isNull()
            | (F.struct("hk", "doc_id") < F.col("_cut"))
        )
        .drop("_cut", "_lcum", "salt")
    )
    from psd_project_spark.functions.prefix import (
        chunked_cumsum,
        hash_chunk_col,
    )

    return chunked_cumsum(
        pre_cut,
        ["source"],
        ["hk", "doc_id"],
        hash_chunk_col("hk", MIX_CHUNKS),
        F.col("n_tokens"),
        "cum_tokens",
    ).filter(F.col("cum_tokens") <= F.col("budget_tokens"))


def _mixture_resample_oracle() -> str:
    """Single-global-window mirror: flatten, budget, ONE cumulative
    window per source — no salts, no cut. A hash match therefore
    proves the Spark side's two-phase selection ≡ the direct form."""
    return f"""WITH {_feat_cte()},
{_train_ctes()},
kept AS (
  SELECT f.doc_id, d.source, f.n_tokens
  FROM feat f CROSS JOIN w{ITERS} w JOIN documents d USING (doc_id)
  WHERE {_z_sql()} >= CAST(0.0 AS DOUBLE)
),
per_src AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY source
),
flat AS (
  SELECT source, kept_tokens,
         sqrt(CAST(kept_tokens AS DOUBLE)) AS flat_mass
  FROM per_src
),
tot AS (
  SELECT {exact_sum_sql("flat_mass")} AS flat_tot,
         CAST(sum(kept_tokens) // 2 AS BIGINT) AS budget_total
  FROM flat
),
budgets AS (
  SELECT source,
         CASE WHEN flat_tot > 0
              THEN CAST(floor((flat_mass / flat_tot)
                         * CAST(budget_total AS DOUBLE)) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END
           AS budget_tokens
  FROM flat CROSS JOIN tot
),
sized AS (
  SELECT k.doc_id, k.source, k.n_tokens, b.budget_tokens,
         ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT
           AS hk
  FROM kept k JOIN budgets b USING (source)
),
ranked AS (
  SELECT *, sum(n_tokens) OVER (
           PARTITION BY source ORDER BY hk, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM sized
)
SELECT source, doc_id, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens, budget_tokens
FROM ranked
WHERE cum_tokens <= budget_tokens
ORDER BY source, cum_tokens, doc_id
"""


QUERIES = {
    "quality_classifier_train": (quality_classifier_train, _train_oracle()),
    "quality_classifier_score": (quality_classifier_score, _score_oracle()),
    "quality_classifier_eval": (quality_classifier_eval, _eval_oracle()),
    "quality_calibration": (quality_calibration, _calibration_oracle()),
    "stream_quality_score": (stream_quality_score, _score_oracle()),
    "quality_store_incremental": (
        quality_store_incremental,
        _score_eval_oracle(),
    ),
    "domain_mixture_weights": (domain_mixture_weights, _mixture_oracle()),
    "mixture_resample": (mixture_resample, _mixture_resample_oracle()),
}
