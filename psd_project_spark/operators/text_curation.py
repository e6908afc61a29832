"""Text-curation operators: chunking, repetition quality, PII redaction.

Training-data-pipeline surface beyond the reference (which has no text
processing at all — its only parser is the 6-double CSV splitter,
StreamingJob.java:61-81). Three operators a 100 TB curation pipeline
needs:

- ``doc_chunking``: overlapping fixed-width character windows (LLM
  context chunks) via ``sequence`` + ``explode`` + ``substr`` — pure
  codegen'd expressions, no UDF, no shuffle; output fans out ~2-4× of
  the input row count and stays partition-local.
- ``repetition_metrics``: Gopher-style repetitiousness signals
  (duplicate-token fraction, top-token fraction, duplicate-bigram
  fraction). Ratios are exact int/int IEEE divisions so the DuckDB
  oracle matches bit-for-bit. The top-token count goes through
  ``explode`` → two-level groupBy (map-side partial combine) rather
  than a per-doc O(n²) higher-order-function scan — HOF lambdas are
  interpreted, explode+groupBy is codegen'd and scales.
- ``pii_redact``: sequential regex masking (emails → IPv4 → integer
  runs) with per-pattern match counts. Patterns are chosen to mean the
  same thing in Java regex (Spark) and RE2 (DuckDB): character
  classes, bounded quantifiers, ``\\b`` only — no lookaround, no
  backrefs. Scalar-only plan: embarrassingly parallel at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions.exact import round_sql
from psd_project_spark.functions.text import tokens_expr, tokens_sql
from psd_project_spark.functions.caching import transient_cache
from psd_project_spark.sources.registry import load_table, spread_small

# --- doc_chunking ------------------------------------------------------------

CHUNK_SIZE = 200
CHUNK_STRIDE = 150


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping char windows
    [i·stride, i·stride + size) for i = 0 .. floor((len−1)/stride)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    last = F.floor((F.col("n") - 1) / CHUNK_STRIDE).cast("int")
    out = (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), last)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.expr(
                f"substr(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})"
            ).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.length("chunk").cast("int").alias("chunk_len"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )
    return out


DOC_CHUNKING_ORACLE = f"""
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(length(ch) AS INT) AS chunk_len, md5(ch) AS chunk_md5
FROM (
  SELECT doc_id, i,
         substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_SIZE}) AS ch
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(0, CAST(floor((length(text) - 1) / {CHUNK_STRIDE}) AS BIGINT))) AS i
    FROM documents
  )
)
"""


# --- repetition_metrics ------------------------------------------------------

def _repetition_scalar_cols(toks: str = "toks") -> dict[str, "F.Column"]:
    """The per-row repetition counts over a token-array column — INT
    casts exactly as :func:`repetition_metrics` always computed them
    (the later int/int divisions promote to the identical doubles).
    Shared with the fused ``quality_features`` base so the count
    expressions exist exactly once."""
    bigrams = (
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1)))"
    )
    return {
        "n_tokens": F.expr(f"cast(size({toks}) as int)"),
        "n_distinct": F.expr(f"cast(size(array_distinct({toks})) as int)"),
        "n_bigrams": F.expr(f"cast(size({bigrams}) as int)"),
        "n_distinct_bigrams": F.expr(
            f"cast(size(array_distinct({bigrams})) as int)"
        ),
    }


def _top_token_counts(base: DataFrame, toks: str = "toks") -> DataFrame:
    """(doc_id, top_tok_count): explode → two-level groupBy (map-side
    partial combine) — the one repetition signal that needs a shuffle.
    Shared with the fused ``quality_features`` base."""
    return (
        base.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_count"))
    )


def _repetition_fracs() -> dict[str, "F.Column"]:
    """The exact int/int fraction expressions over the scalar counts
    plus ``top_tok_count`` — shared by :func:`repetition_metrics` and
    the fused ``quality_features``."""
    return {
        "dup_token_frac": (
            (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens")
        ),
        "top_token_frac": F.col("top_tok_count") / F.col("n_tokens"),
        "dup_bigram_frac": F.when(
            F.col("n_bigrams") > 0,
            (F.col("n_bigrams") - F.col("n_distinct_bigrams"))
            / F.col("n_bigrams"),
        ).otherwise(F.lit(0.0)),
    }


def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetitiousness: duplicate-token, top-token and
    duplicate-bigram fractions (all exact int/int divisions)."""
    toks = tokens_expr("text")
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(toks).alias("toks")
    )
    c = _repetition_scalar_cols("toks")
    per_doc = base.select(
        "doc_id",
        c["n_tokens"].alias("n_tokens"),
        c["n_distinct"].alias("n_distinct"),
        c["n_bigrams"].alias("n_bigrams"),
        c["n_distinct_bigrams"].alias("n_distinct_bigrams"),
    )
    top = _top_token_counts(base, "toks")
    fr = _repetition_fracs()
    out = (
        per_doc.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "top_tok_count",
            fr["dup_token_frac"].alias("dup_token_frac"),
            fr["top_token_frac"].alias("top_token_frac"),
            fr["dup_bigram_frac"].alias("dup_bigram_frac"),
        )
    )
    return out


_TOKS_SQL = tokens_sql("text")

REPETITION_ORACLE = f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
per_doc AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         CAST(len(toks) - 1 AS INT) AS n_bigrams,
         CAST(len(list_distinct(list_transform(generate_series(1, len(toks) - 1),
              mh_i -> toks[mh_i] || ' ' || toks[mh_i + 1]))) AS INT) AS n_distinct_bigrams
  FROM base
),
top AS (
  SELECT doc_id, max(c) AS top_tok_count
  FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
    GROUP BY doc_id, tok
  )
  GROUP BY doc_id
)
SELECT per_doc.doc_id, n_tokens, top_tok_count,
       (n_tokens - n_distinct) / n_tokens AS dup_token_frac,
       top_tok_count / n_tokens AS top_token_frac,
       CASE WHEN n_bigrams > 0
            THEN (n_bigrams - n_distinct_bigrams) / n_bigrams
            ELSE 0.0 END AS dup_bigram_frac
FROM per_doc JOIN top ON per_doc.doc_id = top.doc_id
"""


# --- pii_redact --------------------------------------------------------------

_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_NUM = r"\d+"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask emails, IPv4 addresses and integer runs in event payloads,
    counting matches per pattern (counts taken on the original string;
    replacements applied sequentially email → ip → num)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "props")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("props"), _EMAIL, "<EMAIL>"),
            _IPV4,
            "<IP>",
        ),
        _NUM,
        "<NUM>",
    )
    out = e.select(
        "event_id",
        F.regexp_count(F.col("props"), F.lit(_EMAIL)).cast("int").alias(
            "n_email"
        ),
        F.regexp_count(F.col("props"), F.lit(_IPV4)).cast("int").alias("n_ip"),
        F.regexp_count(F.col("props"), F.lit(_NUM)).cast("int").alias("n_num"),
        redacted.alias("redacted"),
    )
    return out


PII_REDACT_ORACLE = f"""
SELECT event_id,
       CAST(len(regexp_extract_all(props, '{_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(props, '{_IPV4}')) AS INT) AS n_ip,
       CAST(len(regexp_extract_all(props, '{_NUM}')) AS INT) AS n_num,
       regexp_replace(regexp_replace(regexp_replace(props,
           '{_EMAIL}', '<EMAIL>', 'g'),
           '{_IPV4}', '<IP>', 'g'),
           '{_NUM}', '<NUM>', 'g') AS redacted
FROM events
"""


# --- boilerplate_screen ------------------------------------------------------

#: Non-overlapping token-chunk width and the cross-document frequency
#: at which a chunk counts as boilerplate.
BOILER_CHUNK = 8
BOILER_MIN_DOCS = 3


def boilerplate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate screening at sub-document granularity:
    split every document into non-overlapping ``BOILER_CHUNK``-token
    chunks, count in how many DISTINCT documents each exact chunk
    occurs corpus-wide, and report per document the fraction of its
    chunks that are boilerplate (≥ ``BOILER_MIN_DOCS`` docs). This is
    the intra-document complement of whole-doc dedup: navigation
    chrome / license headers / templated passages repeat across
    otherwise-distinct pages and should be stripped, not deduped away.

    Plan shape for 100 TB: chunking is a codegen'd ``sequence`` +
    ``slice`` + ``concat_ws`` (no Python); the chunk-frequency model
    is one count-distinct-docs aggregate on the chunk key, re-joined
    on that same key — like ``ngram_familiarity``, the model is a
    TABLE (never collected or broadcast), so its size is unbounded.
    At scale, hash the chunk to a 64-bit key before the shuffle to
    shrink exchange width."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(tokens_expr()).alias("_toks")
    )
    return boilerplate_frame(d)


def boilerplate_frame(d: DataFrame) -> DataFrame:
    """:func:`boilerplate_screen` over an already-tokenized
    ``(doc_id, _toks)`` frame — the injectable half, so the fused
    ``quality_features`` base feeds its ONE cached tokenized scan here
    instead of re-reading and re-tokenizing the corpus (optimization
    r15, guide §1.2)."""
    # CASE guard: Spark's sequence(0, -1) counts DOWN, so a 0-token
    # doc would explode to phantom chunks without it.
    chunk_expr = (
        f"CASE WHEN size(_toks) >= 1 THEN "
        f"transform(sequence(0, cast(ceil(size(_toks) / {BOILER_CHUNK}.0) "
        f"as int) - 1), i -> concat_ws(' ', slice(_toks, i * {BOILER_CHUNK} "
        f"+ 1, {BOILER_CHUNK}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    # transient cache: feeds the frequency model AND the scoring
    # join; released on next query entry (functions/caching).
    chunks = transient_cache(
        d.select("doc_id", F.explode(F.expr(chunk_expr)).alias("chunk"))
    )
    freq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_docs") >= BOILER_MIN_DOCS).cast("long")).alias(
                "n_boiler"
            ),
            F.round(
                F.sum((F.col("n_docs") >= BOILER_MIN_DOCS).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("boiler_frac"),
        )
    )


BOILERPLATE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql()} AS toks FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, CAST(ceil(len(toks) / {BOILER_CHUNK}.0) AS INT) - 1),
           i -> array_to_string(toks[i * {BOILER_CHUNK} + 1 : i * {BOILER_CHUNK} + {BOILER_CHUNK}], ' ')
         )) AS chunk
  FROM t
), freq AS (
  SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY 1
)
SELECT doc_id, count(*) AS n_chunks,
  CAST(sum(CASE WHEN n_docs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_boiler,
  {round_sql(f"CAST(sum(CASE WHEN n_docs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS boiler_frac
FROM chunks JOIN freq USING (chunk)
GROUP BY doc_id
"""


# --- quality_features --------------------------------------------------------

def quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble the per-document feature vector a learned quality
    classifier trains on (the fastText/logistic filter step of a
    pretraining pipeline): surface statistics, Gopher repetition
    signals, corpus-LM familiarity, and boilerplate fraction, one wide
    row per document. Every formula is the already-oracle-verified
    operator's own expression (imported from it, never re-typed), so
    the feature extraction stays exactly as trustworthy as its parts —
    and the composed frame is re-proven against the SAME composed
    oracle.

    Plan shape for 100 TB (optimization r15, guide §1.2 — remove
    duplicate passes): ONE tokenized corpus scan, transient-cached,
    feeds all four feature families. Before this round the composition
    re-read and re-tokenized the corpus once per feature family (5
    parquet scans of ``documents`` in the physical plan); now the scan
    + tokenize + punct regex run once, the per-row scalar features are
    a projection of the cached base, and only the three aggregation
    passes that fundamentally need their own shuffle key (top-token,
    bigram LM, boilerplate chunk frequency) re-read the CACHE. Docs
    with < 2 tokens have no bigram features — LEFT JOIN + COALESCE 0,
    never dropped (a classifier must see short docs)."""
    from psd_project_spark.operators.text_analysis import (
        _N_PUNCT_EXPR,
        doc_surface_cols,
        ngram_familiarity_frame,
    )

    d = spread_small(load_table(spark, sf_dir, "documents"), spark)
    base = transient_cache(
        d.select(
            "doc_id",
            "lang",
            F.expr(tokens_expr()).alias("_toks"),
            F.expr(_N_PUNCT_EXPR).alias("_n_punct"),
            F.length("text").alias("_text_len"),
        )
    )
    sc = doc_surface_cols()
    rc = _repetition_scalar_cols("_toks")
    # the repetition fractions read their INT-cast counts under the
    # operator-local names; the surface n_tokens (LONG — the declared
    # output type) rides along under a scratch name until the final
    # projection restores it
    per_doc = base.select(
        "doc_id",
        "lang",
        sc["n_tokens"].alias("_surface_n_tokens"),
        F.round(sc["ttr"], 6).alias("ttr"),
        F.round(sc["punct_ratio"], 6).alias("punct_ratio"),
        F.round(sc["quality_score"], 6).alias("quality_score"),
        rc["n_tokens"].alias("n_tokens"),
        rc["n_distinct"].alias("n_distinct"),
        rc["n_bigrams"].alias("n_bigrams"),
        rc["n_distinct_bigrams"].alias("n_distinct_bigrams"),
    )
    top = _top_token_counts(base, "_toks")
    fr = _repetition_fracs()
    nf = ngram_familiarity_frame(base.select("doc_id", "_toks")).select(
        "doc_id", "avg_corpus_freq", "rare_frac"
    )
    bs = boilerplate_frame(base.select("doc_id", "_toks")).select(
        "doc_id", "boiler_frac"
    )
    rm = per_doc.join(top, "doc_id").select(
        "doc_id",
        "lang",
        "_surface_n_tokens",
        "ttr",
        "punct_ratio",
        "quality_score",
        fr["dup_token_frac"].alias("dup_token_frac"),
        fr["top_token_frac"].alias("top_token_frac"),
        fr["dup_bigram_frac"].alias("dup_bigram_frac"),
    )
    return (
        rm.join(nf, "doc_id", "left")
        .join(bs, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.col("_surface_n_tokens").alias("n_tokens"),
            "ttr",
            "punct_ratio",
            "quality_score",
            "dup_token_frac",
            "top_token_frac",
            "dup_bigram_frac",
            F.coalesce("avg_corpus_freq", F.lit(0.0)).alias("avg_corpus_freq"),
            F.coalesce("rare_frac", F.lit(0.0)).alias("rare_frac"),
            "boiler_frac",
        )
    )


def _quality_features_oracle() -> str:
    from psd_project_spark.operators.text_analysis import (
        DOC_STATS_ORACLE,
        NGRAM_FAMILIARITY_ORACLE,
    )

    return f"""
WITH ds AS ({DOC_STATS_ORACLE}),
rm AS ({REPETITION_ORACLE}),
nf AS ({NGRAM_FAMILIARITY_ORACLE}),
bs AS ({BOILERPLATE_ORACLE})
SELECT ds.doc_id, ds.lang, ds.n_tokens, ds.ttr, ds.punct_ratio,
       ds.quality_score,
       rm.dup_token_frac, rm.top_token_frac, rm.dup_bigram_frac,
       coalesce(nf.avg_corpus_freq, 0.0) AS avg_corpus_freq,
       coalesce(nf.rare_frac, 0.0) AS rare_frac,
       bs.boiler_frac
FROM ds
JOIN rm ON ds.doc_id = rm.doc_id
LEFT JOIN nf ON ds.doc_id = nf.doc_id
JOIN bs ON ds.doc_id = bs.doc_id
"""


QUERIES = {
    "doc_chunking": (doc_chunking, DOC_CHUNKING_ORACLE),
    "boilerplate_screen": (boilerplate_screen, BOILERPLATE_ORACLE),
    "quality_features": (quality_features, _quality_features_oracle()),
    "repetition_metrics": (repetition_metrics, REPETITION_ORACLE),
    "pii_redact": (pii_redact, PII_REDACT_ORACLE),
}
