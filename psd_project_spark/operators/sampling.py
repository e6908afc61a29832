"""Deterministic sampling / splitting / packing over ``documents``.

Training-data plumbing the reference never had (its only sampling is
the R fixture generator, dataGeneration/psd.R:18): assigning corpus
rows to train/val splits and packing documents into fixed token-budget
bins. Both are designed for 100 TB reruns:

- splits hash CONTENT (md5), not row position — adding or removing
  files never reshuffles other rows' assignments, and the same doc
  lands in the same split on every rerun, on any cluster layout;
- packing is a per-key window cumsum (one shuffle on the partition
  key), not a sequential driver loop — each pack is closed by integer
  division of the running token count, so the assignment is exact,
  deterministic, and embarrassingly parallel across keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psd_project_spark.functions.exact import round_sql
from psd_project_spark.operators.text_analysis import doc_stats
from psd_project_spark.sources.registry import load_table

#: 1-in-10 rows go to validation.
VAL_BUCKET = 9
#: Tokens per pack (a context-window budget).
PACK_BUDGET = 4096


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/validation split by content hash:
    bucket = first 8 md5 hex digits of the text, mod 10. Reported as
    per-(split, lang) doc counts. Engine-portable (md5 is identical
    everywhere — the DuckDB oracle reproduces the exact assignment),
    rerun-stable, and skew-free regardless of doc_id distribution."""
    from psd_project_spark.functions.text import content_hash_col

    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(content_hash_col("text"), F.lit(10))
    split = F.when(bucket == VAL_BUCKET, "val").otherwise("train")
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


TRAIN_VAL_ORACLE = f"""
SELECT CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 10 = {VAL_BUCKET}
            THEN 'val' ELSE 'train' END AS split,
       lang, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~4096-token bins per language (the sequence
    -packing step before LLM training): docs are laid out in doc_id
    order per lang, and a pack closes when the running token count
    crosses the budget — pack_id = floor(tokens_before_this_doc /
    budget). Returns per-(lang, pack) document and token counts.

    Exact integer window arithmetic (no floats), one shuffle on lang;
    at scale the partition key becomes (lang, shard) so no single
    language serializes."""
    s = doc_stats(spark, sf_dir).select("doc_id", "lang", "n_tokens")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = s.withColumn(
        "pack_id", F.floor(before / F.lit(PACK_BUDGET)).cast("long")
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


PACKING_ORACLE = f"""
WITH stats AS (
  SELECT doc_id, lang, n_tokens FROM ({{doc_stats}}) AS ds
), packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM stats
)
SELECT lang, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc_id
FROM packed
GROUP BY lang, pack_id
"""


def _packing_oracle() -> str:
    from psd_project_spark.operators.text_analysis import DOC_STATS_ORACLE

    return PACKING_ORACLE.format(doc_stats=DOC_STATS_ORACLE)


#: Per-language keep-rates (percent) for the stratified sample — the
#: "dataset mixture" knob of a training pipeline.
STRATA_RATES: tuple[tuple[str, int], ...] = (
    ("en", 90),
    ("de", 60),
    ("es", 60),
    ("fr", 30),
    ("zh", 30),
)
_DEFAULT_RATE = 10


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a per-language fraction
    of documents by content-hash bucket (md5 % 100 < rate) — how a
    training mixture down-weights overrepresented strata. Unlike
    ``df.sampleBy`` (seeded RNG, partition-order dependent, not
    reproducible across engines or reruns with different splits), the
    hash rule is a pure function of content: same doc → same verdict
    everywhere, and the oracle reproduces it exactly. Reports
    per-language kept/total/rate."""
    from psd_project_spark.functions.text import content_hash_col

    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(content_hash_col("text"), F.lit(100))
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in STRATA_RATES:
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        d.withColumn("_keep", (bucket < rate).cast("long"))
        .groupBy("lang")
        .agg(
            F.sum("_keep").alias("n_kept"),
            F.count(F.lit(1)).alias("n_total"),
            F.round(
                F.sum("_keep").cast("double") / F.count(F.lit(1)), 6
            ).alias("kept_rate"),
        )
    )


def _strata_rate_sql() -> str:
    branches = " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in STRATA_RATES
    )
    return f"CASE {branches} ELSE {_DEFAULT_RATE} END"


STRATIFIED_ORACLE = f"""
WITH d AS (
  SELECT lang,
         CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100
                   < ({_strata_rate_sql()})
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, CAST(sum(keep) AS BIGINT) AS n_kept,
       count(*) AS n_total,
       {round_sql("CAST(sum(keep) AS DOUBLE) / count(*)", 6)} AS kept_rate
FROM d
GROUP BY lang
"""


# --- source_mix_rebalance ----------------------------------------------------

#: Target language mix for the rebalanced training corpus.
TARGET_MIX = (("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))


def source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota data mixing: subsample the corpus so the kept set
    matches ``TARGET_MIX`` language proportions exactly. The feasible
    corpus size is ``scale = min_l(n_l / w_l)``; each language keeps
    its ``floor(scale · w_l)`` lowest-(md5(text), doc_id) documents —
    content-hash order, so the selection is deterministic, rerun-
    stable, and independent of partitioning. One row per doc:
    (doc_id, lang, lang_rank, n_lang, target_n, kept).

    Plan shape for 100 TB: per-language counts are one map-side-
    combined aggregate collapsed to ≤ |langs| rows (joined back as a
    broadcast); the EXACT rank is a chunk-parallel two-level prefix
    sum (``functions/prefix.chunked_rank``, VERDICT r07 #1 — the fix
    that retired this module's documented per-key single-task sort):
    256 hash-prefix chunks per language rank locally in parallel and
    tiny per-chunk counts broadcast back as exclusive offsets, so no
    task ever sorts more than ~1/256 of a language. When an
    approximate quota suffices, ``stratified_sample`` (hash-threshold,
    no sort, no window) is the constant-time sibling."""
    mix = spark.createDataFrame(list(TARGET_MIX), "lang string, w double")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5("text").alias("_h")
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    scaled = counts.join(F.broadcast(mix), "lang").withColumn(
        "_cap", F.col("n_lang").cast("double") / F.col("w")
    )
    scale = scaled.agg(F.min("_cap").alias("_scale"))
    targets = scaled.crossJoin(F.broadcast(scale)).select(
        "lang",
        "n_lang",
        F.floor(F.col("_scale") * F.col("w")).alias("target_n"),
    )
    from psd_project_spark.functions.prefix import (
        chunked_rank,
        hex_chunk_col,
    )

    ranked = chunked_rank(
        d, ["lang"], ["_h", "doc_id"], hex_chunk_col("_h"), "lang_rank"
    )
    return (
        ranked.join(F.broadcast(targets), "lang")
        .select(
            "doc_id",
            "lang",
            "lang_rank",
            "n_lang",
            "target_n",
            (F.col("lang_rank") <= F.col("target_n")).alias("kept"),
        )
    )


def _mix_values_sql() -> str:
    return ", ".join(f"('{lang}', {w})" for lang, w in TARGET_MIX)


SOURCE_MIX_ORACLE = f"""
WITH mix(lang, w) AS (VALUES {_mix_values_sql()}),
d AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
counts AS (SELECT lang, count(*) AS n_lang FROM d GROUP BY 1),
scaled AS (
  SELECT counts.lang, n_lang, w, CAST(n_lang AS DOUBLE) / w AS cap
  FROM counts JOIN mix USING (lang)
),
targets AS (
  SELECT lang, n_lang,
         CAST(floor((SELECT min(cap) FROM scaled) * w) AS BIGINT) AS target_n
  FROM scaled
),
ranked AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT)
           AS lang_rank
  FROM d
)
SELECT r.doc_id, r.lang, r.lang_rank, t.n_lang, t.target_n,
       r.lang_rank <= t.target_n AS kept
FROM ranked r JOIN targets t USING (lang)
"""


QUERIES = {
    "train_val_split": (train_val_split, TRAIN_VAL_ORACLE),
    "source_mix_rebalance": (source_mix_rebalance, SOURCE_MIX_ORACLE),
    "stratified_sample": (stratified_sample, STRATIFIED_ORACLE),
    "token_budget_packing": (token_budget_packing, _packing_oracle()),
}
