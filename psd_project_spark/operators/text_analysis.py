"""Text-analysis operators over the ``documents`` table.

Part of the LLM-data-pipeline extension surface (SURVEY.md §7 M5): the
reference has no text layer at all, so this module is designed
Spark-first — every operator is pure JVM expressions (split / HOFs /
md5), no Python in the hot path, no shuffle except the final group-bys.

Queries:

- ``doc_stats``        — token counting + quality scoring (length,
  type-token ratio, punctuation ratio) per document.
- ``lang_id``          — stopword-list language identification with a
  deterministic tie-break (the classic n-gram/wordlist heuristic;
  scores are exact integer counts so the oracle matches bit-for-bit).
- ``token_freq``       — corpus-level token frequencies, deterministic
  top-100.
- ``tfidf_top_terms``  — per-doc TF-IDF keywords (log-free ratio idf
  for bit-exact cross-engine parity).
- ``corpus_quality_filter`` / ``curation_pipeline`` — the composed
  score→filter→yield and dedup→score→filter→yield pipeline stages.
- ``doc_fingerprint``  — per-doc content hash (md5), MinHash-1 (min
  seeded-md5 over 3-word shingles — the rolling-fingerprint analog) and
  a 32-bit shingle SimHash.

All six-hundred-line SQL mirrors are generated from the same fragment
builders in :mod:`psd_project_spark.functions.text`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psd_project_spark.functions import text as T
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql
from psd_project_spark.functions.text_udfs import (
    minhash_sig_udf,
    shingles_udf,
    simhash_udf,
)
from psd_project_spark.functions import hll_sql as HLL
from psd_project_spark.functions.caching import transient_cache
from psd_project_spark.sources.registry import load_table, spread_small

#: (lang, stopword list) in tie-break priority order.
LANG_STOPWORDS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "a", "of", "and", "to", "in", "is")),
    ("de", ("der", "die", "und", "das", "ist", "nicht")),
    ("es", ("el", "los", "de", "y", "las", "que")),
    ("fr", ("le", "la", "et", "les", "des", "un")),
    ("zh", ("的", "是", "在", "了", "和", "不")),
)


def _quoted(words: tuple[str, ...]) -> str:
    return ", ".join("'" + w + "'" for w in words)


def _score_expr(toks: str, words: tuple[str, ...]) -> str:
    """Spark SQL: occurrences of any listed word in the token array."""
    return (
        f"aggregate({toks}, 0, (acc, x) -> acc + "
        f"CASE WHEN x IN ({_quoted(words)}) THEN 1 ELSE 0 END)"
    )


def _score_sql(toks: str, words: tuple[str, ...]) -> str:
    return (
        f"CAST(list_sum(list_transform({toks}, x -> "
        f"CASE WHEN x IN ({_quoted(words)}) THEN 1 ELSE 0 END)) AS BIGINT)"
    )


# --- doc_stats ---------------------------------------------------------------

#: Punctuation-count expression over ``text`` — factored so the fused
#: quality_features base (operators/text_curation.py) precomputes the
#: SAME count once into its cached base and the formulas cannot drift.
_N_PUNCT_EXPR = "CAST(length(regexp_replace(text, '[^.,!?;:]', '')) AS LONG)"


def doc_surface_cols() -> dict[str, "F.Column"]:
    """The surface-stat expressions over a frame carrying ``_toks``
    (token array), ``_n_punct`` (long) and ``_text_len`` (int) —
    shared by :func:`doc_stats` and the fused ``quality_features``
    base so the ttr/punct/quality formulas exist exactly once. Every
    value is the identical IEEE op sequence either way (the punct and
    length counts are integers; where they are computed does not
    change the later divisions)."""
    n_tok = F.size("_toks").cast("long")
    n_dist = F.size(F.array_distinct(F.col("_toks"))).cast("long")
    ttr = n_dist.cast("double") / n_tok.cast("double")
    punct_ratio = (
        F.col("_n_punct").cast("double") / F.col("_text_len").cast("double")
    )
    quality = (
        F.least(F.lit(1.0), n_tok.cast("double") / F.lit(50.0))
        * (F.lit(0.3) + F.lit(0.7) * ttr)
        * (F.lit(1.0) - punct_ratio)
    )
    return {
        "n_tokens": n_tok,
        "n_distinct_tokens": n_dist,
        "ttr": ttr,
        "punct_ratio": punct_ratio,
        "quality_score": quality,
    }


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_small(load_table(spark, sf_dir, "documents"), spark)
    d = (
        d.withColumn("_toks", F.expr(T.tokens_expr()))
        .withColumn("_n_punct", F.expr(_N_PUNCT_EXPR))
        .withColumn("_text_len", F.length("text"))
    )
    c = doc_surface_cols()
    n_tok = c["n_tokens"]
    char_sum = F.expr("aggregate(_toks, 0, (acc, x) -> acc + length(x))")
    avg_len = char_sum.cast("double") / n_tok.cast("double")
    # BPE-ish subword segmentation: letter runs / digit runs / single
    # marks — the regex stand-in for a learned tokenizer's pre-split.
    subword = F.size(
        F.expr(r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)")
    ).cast("long")
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_tok.alias("n_tokens"),
        subword.alias("n_subword_tokens"),
        c["n_distinct_tokens"].alias("n_distinct_tokens"),
        F.round(c["ttr"], 6).alias("ttr"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(c["punct_ratio"], 6).alias("punct_ratio"),
        F.round(c["quality_score"], 6).alias("quality_score"),
    )


DOC_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source, text, {T.tokens_sql()} AS toks FROM documents
), s AS (
  SELECT doc_id, lang, source, text,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
      AS n_subword_tokens,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS char_sum,
    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
  FROM t
)
SELECT doc_id, lang, source, n_tokens, n_subword_tokens, n_distinct_tokens,
  {round_sql("n_distinct_tokens / CAST(n_tokens AS DOUBLE)", 6)} AS ttr,
  {round_sql("char_sum / CAST(n_tokens AS DOUBLE)", 6)} AS avg_token_len,
  {round_sql("n_punct / CAST(length(text) AS DOUBLE)", 6)} AS punct_ratio,
  {round_sql(
      "least(CAST(1.0 AS DOUBLE), n_tokens / CAST(50.0 AS DOUBLE))"
      " * (CAST(0.3 AS DOUBLE) + CAST(0.7 AS DOUBLE)"
      " * (n_distinct_tokens / CAST(n_tokens AS DOUBLE)))"
      " * (CAST(1.0 AS DOUBLE) - n_punct / CAST(length(text) AS DOUBLE))", 6
  )}
    AS quality_score
FROM s
"""


# --- lang_id -----------------------------------------------------------------

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("_toks", F.expr(T.tokens_expr()))
    for lang, words in LANG_STOPWORDS:
        d = d.withColumn(f"_s_{lang}", F.expr(_score_expr("_toks", words)).cast("long"))
    langs = [lang for lang, _ in LANG_STOPWORDS]
    pred = None
    # Priority chain: first lang whose score >= all later langs wins.
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1:]:
            c = F.col(f"_s_{lang}") >= F.col(f"_s_{other}")
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang))
        pred = branch if pred is None else pred.when(cond, F.lit(lang))
        if i == 0:
            pred = F.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[-1]))
    score = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        pred.alias("lang_pred"),
        score.alias("score"),
    )


def _lang_id_oracle() -> str:
    score_cols = ",\n    ".join(
        f"{_score_sql('toks', words)} AS s_{lang}" for lang, words in LANG_STOPWORDS
    )
    langs = [lang for lang, _ in LANG_STOPWORDS]
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1:])
        branches.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    return f"""
WITH t AS (
  SELECT doc_id, lang, {T.tokens_sql()} AS toks FROM documents
), s AS (
  SELECT doc_id, lang,
    {score_cols}
  FROM t
)
SELECT doc_id, lang AS lang_label,
  {case} AS lang_pred,
  {greatest} AS score
FROM s
"""


# --- corpus_quality_filter ---------------------------------------------------

#: Keep thresholds for the filter stage (tuned so the sf corpus splits
#: meaningfully: ~70% kept at sf0.01).
MIN_TOKENS = 20
MIN_QUALITY = 0.5


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data pipeline stage: score every document
    (``doc_stats``), keep those above the length/quality bar, report
    per-language survivor counts, token yield, and mean quality.

    Built by composing the ``doc_stats`` operator — one extra filter +
    one aggregation on top of the same plan, no recomputation, and the
    oracle wraps the doc_stats SQL as a CTE so the two stay in lockstep
    by construction. At 100 TB this whole pipeline is one scan: the
    scoring expressions are scan-side projections, the filter cuts
    before any shuffle, and only the tiny per-language rollup moves."""
    s = doc_stats(spark, sf_dir)
    kept = s.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("quality_score") >= MIN_QUALITY)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            exact_sum(F.col("quality_score"))
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )


CORPUS_FILTER_ORACLE = f"""
WITH stats AS ({DOC_STATS_ORACLE})
SELECT lang, count(*) AS n_docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       {round_sql(exact_sum_sql("quality_score") + " / count(*)", 6)} AS avg_quality
FROM stats
WHERE n_tokens >= {MIN_TOKENS} AND quality_score >= {MIN_QUALITY}
GROUP BY lang
"""


# --- curation_pipeline -------------------------------------------------------

def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE plan: exact dedup (keep the
    lowest doc_id per content hash) → quality scoring (``doc_stats``)
    → length/quality filter → per-(lang, source) yield report. This is
    the query a training-data team actually runs; each stage is the
    already-tested operator, composed.

    Scale shape: dedup is a hash-partitioned window (one shuffle on
    the 16-byte content hash — never on the text itself), survivors
    semi-join the scored docs on doc_id, and only the tiny rollup
    aggregates. No stage widens rows; text is dropped before any
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept_ids = (
        d.select("doc_id", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .select("doc_id")
    )
    scored = doc_stats(spark, sf_dir).join(kept_ids, "doc_id", "left_semi")
    survivors = scored.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("quality_score") >= MIN_QUALITY)
    )
    return survivors.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_subword_tokens").alias("total_subword_tokens"),
        F.round(
            exact_sum(F.col("quality_score"))
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )


CURATION_ORACLE = f"""
WITH stats AS ({DOC_STATS_ORACLE}),
kept AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_subword_tokens) AS BIGINT) AS total_subword_tokens,
       {round_sql(exact_sum_sql("quality_score") + " / count(*)", 6)} AS avg_quality
FROM stats JOIN kept USING (doc_id)
WHERE n_tokens >= {MIN_TOKENS} AND quality_score >= {MIN_QUALITY}
GROUP BY lang, source
"""


# --- token_freq --------------------------------------------------------------

def token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.expr(T.tokens_expr())).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(100)
    )


TOKEN_FREQ_ORACLE = f"""
SELECT token, count(*) AS n
FROM (SELECT unnest({T.tokens_sql()}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 100
"""


# --- tfidf_top_terms ---------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most characteristic terms per document by tf·(N/df) — the
    TF-IDF retrieval/keyword primitive. idf is the log-free ratio form
    deliberately: N/df and tf·(N/df) are single IEEE-754 ops, so Spark
    and DuckDB produce bit-identical scores (ln() is only
    correctly-rounded to ~1 ulp per libm and can flip a rounded 6th
    digit); the ranking is identical either way since log is monotone.

    Plan: explode → (doc, term) count → term-level doc frequency →
    broadcast the tiny (term, df) side back — two shuffles on keys that
    only shrink, top-k via per-doc rank window."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(T.tokens_expr())).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * (F.col("_n").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


TFIDF_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({T.tokens_sql()}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS _n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         {round_sql("CAST(tf.tf AS DOUBLE) * (CAST(n._n AS DOUBLE) / CAST(dfreq.df AS DOUBLE))", 6)}
           AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, df, score
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# --- doc_fingerprint ---------------------------------------------------------

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_small(load_table(spark, sf_dir, "documents"), spark)
    d = (
        d.withColumn("_sh", shingles_udf(F.col("text")))
        .withColumn("_sig", minhash_sig_udf(F.col("_sh")))
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.element_at("_sig", 1).alias("minhash_1"),
        simhash_udf(F.col("_sh")).alias("simhash"),
    )


DOC_FINGERPRINT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {T.tokens_sql()} AS toks FROM documents
), sh AS (
  SELECT doc_id, text, {T.shingles_sql('toks')} AS s FROM t
), h AS (
  SELECT doc_id, text, {T.hints_sql('s')} AS hints FROM sh
)
SELECT doc_id,
  md5(text) AS content_hash,
  ({T.minhash_sig_sql('hints')})[1] AS minhash_1,
  {T.simhash_sql('hints')} AS simhash
FROM h
"""


# --- bm25_rank ---------------------------------------------------------------

#: Fixed retrieval query for the BM25 battery (high-mid-frequency terms).
BM25_TERMS = ("join", "hash", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a fixed term query under BM25 scoring —
    the classic sparse-retrieval primitive of a training-data pipeline
    (quality-biased selection, retrieval-augmented filtering).

    Same log-free convention as ``tfidf_top_terms``: idf uses the
    rational Robertson form ``(N − df + 0.5) / (df + 0.5)`` *without*
    the ln() wrapper so both engines produce bit-identical doubles
    (per-term monotone in df either way; term-saturation k1 and length
    normalization b are standard BM25). All term counting is JVM-side
    higher-order ``filter`` over one tokenization — no explode, no
    Python. Corpus stats (N, avgdl, per-term df) are a 1-row aggregate
    broadcast back via crossJoin, so at 100 TB this is two columnar
    scans of one string column and a 1-row exchange — no wide shuffle
    at all.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.expr(f"CAST(size({T.tokens_expr()}) AS DOUBLE)").alias("dl"),
        *[
            F.expr(
                f"CAST(size(filter({T.tokens_expr()}, x -> x = '{t}')) AS DOUBLE)"
            ).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    norm = F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
    contribs = [
        ((F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
         / (F.col(f"df_{i}") + F.lit(0.5)))
        * ((F.col(f"tf_{i}") * F.lit(BM25_K1 + 1.0))
           / (F.col(f"tf_{i}") + F.lit(BM25_K1) * norm))
        for i in range(len(BM25_TERMS))
    ]
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    hit = F.col("tf_0") + F.col("tf_1") + F.col("tf_2") > 0
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(hit)
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP_K)
    )


def _bm25_oracle() -> str:
    tf_defs = ",\n    ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_defs = ",\n    ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    k1p1 = BM25_K1 + 1.0
    contribs = " + ".join(
        f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * ((tf_{i} * {k1p1!r}) / (tf_{i} + {BM25_K1!r}"
        f" * ({1.0 - BM25_B!r} + {BM25_B!r} * (dl / avgdl))))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
    CAST(len({T.tokens_sql()}) AS DOUBLE) AS dl,
    {tf_defs.replace('toks', T.tokens_sql())}
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
    sum(dl) / count(*) AS avgdl,
    {df_defs}
  FROM base
)
SELECT doc_id, {round_sql(contribs, 6)} AS score
FROM base, stats
WHERE tf_0 + tf_1 + tf_2 > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


# --- trigram_udtf_freq -------------------------------------------------------

def trigram_udtf_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 word trigrams via a Python **UDTF** in a
    LATERAL join — the set-returning-function surface (the reference's
    only row-expanders are two hard-coded flatMaps,
    StreamingJob.java:61-81/419-426; SURVEY.md §2.9 lists the UDTF
    surface as absent).

    Deliberately the slow path shown once: a UDTF runs per-row Python.
    The engine's production n-gram expansion is the JVM-side shingles
    HOF (functions/text.py) used by the dedup battery — this query
    exists to prove the UDTF registration + LATERAL plumbing works and
    stays correct (same oracle as a set-returning SQL equivalent).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, tri: string")
    class Trigrams:
        def eval(self, text: str):  # noqa: ANN001 - UDTF contract
            toks = text.strip().split(" ") if text else []
            for i in range(len(toks) - 2):
                yield i, " ".join(toks[i : i + 3])

    spark.udtf.register("psd_trigrams", Trigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_docs_udtf"
    )
    return spark.sql(
        """
        SELECT t.tri, count(*) AS n
        FROM _docs_udtf d, LATERAL psd_trigrams(d.text) t
        GROUP BY 1
        ORDER BY n DESC, tri
        LIMIT 100
        """
    )


TRIGRAM_UDTF_ORACLE = f"""
WITH t AS (
  SELECT {T.tokens_sql()} AS toks FROM documents
), tri AS (
  SELECT array_to_string(toks[i:i+2], ' ') AS tri
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)
)
SELECT tri, count(*) AS n
FROM tri
GROUP BY 1
ORDER BY n DESC, tri
LIMIT 100
"""


# --- ngram_familiarity (integer-exact n-gram LM scoring) ---------------------

#: A bigram seen at most this many times corpus-wide counts as "rare".
RARE_BIGRAM_MAX = 2


def _bigrams_expr(toks: str) -> str:
    """Spark SQL: token bigrams WITH multiplicity (unlike the distinct
    dedup shingles — LM statistics need occurrence counts)."""
    return (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) "
        f"ELSE cast(array() as array<string>) END"
    )


def _bigrams_sql(toks: str) -> str:
    return (
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1]) "
        f"ELSE [] END"
    )


def ngram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model familiarity score per document: train a
    corpus bigram table (one count aggregation), then score every doc
    by the average corpus frequency of its bigrams and its rare-bigram
    fraction — the integer-exact stand-in for LM perplexity filtering
    (CCNet/Gopher-style): low familiarity / high rarity ⇒ novel or
    noisy text. Deliberately log-free: libm ``log`` is not bit-portable
    across engines, while integer counts and single IEEE divisions are,
    so the oracle matches exactly.

    Plan shape for 100 TB: bigram extraction is per-row JVM codegen
    (no Python); occurrences hash-partition by bigram ONCE up front
    (the ``dsir_weights`` discipline), and the per-doc multiplicity
    collapse, the model aggregation, and the scoring join all reuse
    that partitioning with no further bigram-side exchange. Scoring is
    ``sum(k·corpus_n)`` over distinct (doc, bigram) multiplicities —
    integer arithmetic, bit-identical to per-occurrence summing. The
    model is never collected anywhere and may be arbitrarily larger
    than memory (contrast with perplexity UDFs that broadcast a fixed
    LM)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(T.tokens_expr()).alias("_toks")
    )
    return ngram_familiarity_frame(d)


def ngram_familiarity_frame(d: DataFrame) -> DataFrame:
    """:func:`ngram_familiarity` over an already-tokenized
    ``(doc_id, _toks)`` frame — the injectable half, so the fused
    ``quality_features`` base (operators/text_curation.py) feeds its
    ONE cached tokenized scan here instead of re-reading and
    re-tokenizing the corpus (optimization r15, guide §1.2)."""
    db = (
        d.select(
            "doc_id", F.explode(F.expr(_bigrams_expr("_toks"))).alias("bigram")
        )
        .repartition("bigram")
        .groupBy("bigram", "doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    # transient cache: feeds both the model aggregation and the
    # scoring join; released on next query entry (functions/caching).
    db = transient_cache(db)
    model = db.groupBy("bigram").agg(F.sum("k").alias("corpus_n"))
    nb = F.sum("k")
    return (
        db.join(model, "bigram")
        .groupBy("doc_id")
        .agg(
            nb.alias("n_bigrams"),
            F.round(
                F.sum(F.col("k") * F.col("corpus_n")).cast("double") / nb, 6
            ).alias("avg_corpus_freq"),
            F.round(
                F.sum(
                    F.col("k")
                    * (F.col("corpus_n") <= RARE_BIGRAM_MAX).cast("long")
                ).cast("double")
                / nb,
                6,
            ).alias("rare_frac"),
        )
    )


NGRAM_FAMILIARITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {T.tokens_sql()} AS toks FROM documents
), bgr AS (
  SELECT doc_id, unnest({_bigrams_sql('toks')}) AS bigram FROM t
), model AS (
  SELECT bigram, count(*) AS corpus_n FROM bgr GROUP BY 1
)
SELECT doc_id, count(*) AS n_bigrams,
  {round_sql("CAST(sum(corpus_n) AS DOUBLE) / count(*)", 6)} AS avg_corpus_freq,
  {round_sql(f"CAST(sum(CASE WHEN corpus_n <= {RARE_BIGRAM_MAX} THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS rare_frac
FROM bgr JOIN model USING (bigram)
GROUP BY doc_id
"""


# --- dsir_weights (importance-resampling weights, Xie et al. 2023) -----------

#: The trusted/target split for importance weighting: documents in the
#: corpus's dominant language stand in for the "high-quality target
#: distribution" (in production: a curated corpus like Wikipedia).
DSIR_TARGET_LANG = "en"
#: Count expressions stay below 2^62; the deterministic ln chain is
#: sized to that.
_DSIR_LN_BITS = 62


def _dsir_ln_stages():
    """The four deterministic-ln pipelines of the DSIR weight: bigram
    target/corpus counts (+1 smoothing) and the two normalizer
    scalars. Shared verbatim by the Spark path and the DuckDB oracle
    (functions/hll_sql.ln_int_stages — libm-free, bit-identical)."""
    stages = []
    for v, out in [
        ("(t_n + 1)", "ln_t"),
        ("(c_n + 1)", "ln_c"),
        ("(ttot + vsz)", "ln_bigt"),
        ("(ctot + vsz)", "ln_bigc"),
    ]:
        stages += HLL.ln_int_stages(v, out, max_bits=_DSIR_LN_BITS)
    # Quantize the weight to an int64 at 1e-9 grain: double→DECIMAL
    # casts round differently across engines on irrational values, but
    # round()-to-integer of the SAME double is identical — and integer
    # sums are exact and order-independent (the vectors.py CSCALE
    # discipline). Integer rounding (no digits, then BIGINT): not
    # round_sql's shape.
    stages.append(
        (
            "wq",
            "CAST(CAST(CAST(round(CAST(CAST((ln_t - ln_bigt - ln_c + ln_bigc)"
            " * 1000000000.0 AS STRING) AS DECIMAL(38,21))) AS STRING) AS DOUBLE) AS BIGINT)",
        )
    )
    return stages


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023, arXiv 2302.03169): score every document by the hashed-…
    well, exact-… n-gram likelihood ratio between a trusted target
    distribution (here: the corpus's ``DSIR_TARGET_LANG`` split) and
    the raw corpus — the standard pretraining data-selection weight
    ``log p_target(doc) − log p_raw(doc)`` under add-1-smoothed bigram
    unigram-of-bigrams models. High weight ⇒ looks like the target.

    Determinism: ``ln`` of integer counts goes through the libm-free
    comparison-chain + atanh-series recipe (functions/hll_sql.py), and
    each per-bigram log-weight is quantized to an int64 (1e-9 grid,
    ``wq``) before the per-doc sum — integer addition is order-free,
    so shuffle/merge order cannot drift the sum and the oracle matches
    bit-for-bit.

    Plan shape for 100 TB: both models are count TABLES keyed by the
    bigram (never collected or broadcast — model size unbounded by
    executor memory, the ``ngram_familiarity`` discipline); the only
    broadcast is the 1-row normalizer frame. The bigram-occurrence
    explosion is collapsed IMMEDIATELY to the distinct
    (doc, bigram, k)-multiplicity table in one map-side-combined
    shuffle (the ``bpe_encode_stats`` distinct-table discipline, per
    VERDICT r04 #4): model building and per-doc scoring both run over
    distinct pairs, so the occurrence-sized data crosses the wire
    ZERO times — scoring is ``sum(k·wq)``, bit-identical to summing
    ``wq`` per occurrence because the weights are int64-quantized."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(T.tokens_expr()).alias("_toks")
    )
    # ONE bigram-keyed shuffle for the whole query (VERDICT r04 #4):
    # occurrences are hash-partitioned by bigram up front, and every
    # downstream bigram-keyed op — the per-doc multiplicity collapse,
    # the model aggregation, the scoring join — reuses that
    # partitioning with no further exchange (HashPartitioning(bigram)
    # satisfies ClusteredDistribution for every superset grouping).
    db = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.expr(_bigrams_expr("_toks"))).alias("bigram"),
        )
        .repartition("bigram")
        .groupBy("bigram", "doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    # transient cache: feeds the model aggregation and the scoring
    # join; released on next query entry (functions/caching).
    db = transient_cache(db)
    # both models in ONE map-side-combined aggregation (a conditional
    # sum instead of a second shuffle + join). when/otherwise, not a
    # bare boolean cast: a NULL lang must count 0 (the oracle's CASE
    # semantics), not poison the sum to NULL.
    model = db.groupBy("bigram").agg(
        F.sum("k").alias("c_n"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("k"))
            .otherwise(F.lit(0))
            .cast("long")
        ).alias("t_n"),
    )
    scalars = model.agg(
        F.count(F.lit(1)).alias("vsz"),
        F.sum("c_n").alias("ctot"),
        F.sum("t_n").alias("ttot"),
    )
    m = model.crossJoin(F.broadcast(scalars))
    for name, expr_ in _dsir_ln_stages():
        m = m.selectExpr("*", f"{expr_} AS {name}")
    scored = (
        db.join(m.select("bigram", "wq"), "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("wq")).alias("swq"),
        )
    )
    return (
        d.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round(
                F.col("swq").cast("double") / 1000000000.0, 6
            ).alias("dsir_weight"),
        )
    )


def _dsir_oracle() -> str:
    stage_sel = "mdl"
    ctes = []
    for i, (name, expr_) in enumerate(_dsir_ln_stages()):
        ctes.append(f"s{i} AS (SELECT *, {expr_} AS {name} FROM {stage_sel})")
        stage_sel = f"s{i}"
    return f"""
WITH t AS (
  SELECT doc_id, lang, {T.tokens_sql()} AS toks FROM documents
), bgr AS (
  SELECT doc_id, lang, unnest({_bigrams_sql('toks')}) AS bigram FROM t
), mdl0 AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_n,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS t_n
  FROM bgr GROUP BY 1
), scal AS (
  SELECT CAST(count(*) AS BIGINT) AS vsz, CAST(sum(c_n) AS BIGINT) AS ctot,
         CAST(sum(t_n) AS BIGINT) AS ttot
  FROM mdl0
), mdl AS (SELECT * FROM mdl0 CROSS JOIN scal),
{', '.join(ctes)},
scored AS (
  SELECT doc_id, count(*) AS n_bigrams, CAST(sum(wq) AS BIGINT) AS swq
  FROM bgr JOIN {stage_sel} USING (bigram) GROUP BY 1
)
SELECT d.doc_id, d.lang, coalesce(n_bigrams, 0) AS n_bigrams,
       {round_sql("CAST(swq AS DOUBLE) / 1000000000.0", 6)} AS dsir_weight
FROM documents d LEFT JOIN scored USING (doc_id)
"""


# --- bpe_vocab_train (distributed byte-pair-encoding merges) -----------------

#: Number of BPE merge rounds trained (the merge table is the model).
BPE_ROUNDS = 5


def _bpe_fold_expr(left: str, right: str) -> str:
    """Spark SQL: one greedy left-to-right BPE merge pass over a
    symbol array, as a string fold: if the accumulated last token is
    ``left`` and the next symbol is ``right``, append ``right`` to the
    last token (making the merged symbol), else start a new token.
    Literal-inlined per round; split back to an array afterwards."""
    l, r = left.replace("'", "''"), right.replace("'", "''")
    return (
        f"split(aggregate(slice(syms, 2, size(syms) - 1), element_at(syms, 1), "
        f"(acc, x) -> CASE WHEN element_at(split(acc, '\\\\|'), -1) = '{l}' "
        f"AND x = '{r}' THEN concat(acc, '{r}') "
        f"ELSE concat(acc, '|', x) END), '\\\\|')"
    )


def _train_bpe_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """The BPE training loop (see :func:`bpe_vocab_train`), returning
    the O(rounds) merge list — model state shared by the trainer's
    report and the :func:`bpe_encode_stats` apply path."""
    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.expr(T.tokens_expr())).alias("word")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
    seg = wc.withColumn(
        "syms",
        # CASE guard (same as the pair expr below): Spark's
        # sequence(1, 0) counts DOWN, so a zero-length token (empty /
        # whitespace-only text) would yield phantom syms ['',''] and a
        # spurious ('','') pair — DuckDB's generate_series(1,0) is [].
        F.expr(
            "CASE WHEN length(word) >= 1 THEN "
            "transform(sequence(1, length(word)), i -> substring(word, i, 1)) "
            "ELSE cast(array() as array<string>) END"
        ),
    ).cache()
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pairs = seg.select(
            "wn",
            F.explode(
                # CASE guard: Spark's sequence(1, 0) counts DOWN, so a
                # 1-symbol word would index out of bounds without it.
                F.expr(
                    "CASE WHEN size(syms) >= 2 THEN "
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r)) "
                    "ELSE cast(array() as array<struct<l: string, r: string>>) END"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("wn").alias("pc"))
            .orderBy(F.desc("pc"), "l", "r")
            .limit(1)
            .collect()[0]
        )
        merges.append((rnd, top["l"], top["r"], int(top["pc"])))
        # Re-segment with the merge inlined as literals: lineage stays
        # a chain of HOF folds over the cached word-count table — no
        # per-round materialization needed (contrast k-means, whose
        # per-round state is data-sized).
        seg = seg.withColumn("syms", F.expr(_bpe_fold_expr(top["l"], top["r"])))
    seg.unpersist()
    return merges


def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train ``BPE_ROUNDS`` byte-pair-encoding merges over the corpus —
    the tokenizer-training step of an LLM data pipeline, distributed.
    Returns the merge table (round, sym_left, sym_right, pair_count):
    per round, the most frequent adjacent symbol pair (occurrence-
    weighted by word frequency; ties broken lexicographically) is
    merged greedily left-to-right in every word.

    Plan shape for 100 TB: the corpus collapses to the distinct-word
    count table in ONE map-side-combined shuffle (Heaps' law makes
    |vocab| ≪ corpus — exactly why production BPE trainers run on
    word counts); every round is then a pair-count aggregate over that
    small table plus a 1-row argmax. Only the O(rounds) merge list
    ever reaches the driver (model state, same contract as the k-means
    codebook). The merge pass itself is a JVM HOF fold — no Python in
    the loop. DuckDB oracle: the identical rounds unrolled as CTEs
    with the same string-fold (``list_reduce``) semantics."""
    return spark.createDataFrame(
        _train_bpe_merges(spark, sf_dir),
        "round int, sym_left string, sym_right string, pair_count long",
    )


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges back to the corpus and report
    per-document tokenizer statistics: word count, token count,
    fertility (tokens/word) and chars-per-token — the
    tokenizer-efficiency numbers every pipeline checks before
    committing to a vocabulary (a fertility regression is how you
    notice a tokenizer mismatching its corpus).

    Plan shape for 100 TB: training reuses :func:`_train_bpe_merges`
    (word-count collapse + O(rounds) driver merges); ENCODING runs on
    the distinct-WORD table only (|vocab| ≪ corpus, Heaps' law) as the
    same literal-inlined JVM fold chain, and documents join their
    words to the little word→token-count table on the word key — the
    corpus itself is never segmented row-by-row. Docs with no tokens
    survive via LEFT join with zero counts (null ratios)."""
    merges = _train_bpe_merges(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(T.tokens_expr()).alias("_toks")
    )
    dw = d.select("doc_id", F.explode("_toks").alias("word"))
    vocab = dw.select("word").distinct().withColumn(
        "syms",
        F.expr(
            "CASE WHEN length(word) >= 1 THEN "
            "transform(sequence(1, length(word)), i -> substring(word, i, 1)) "
            "ELSE cast(array() as array<string>) END"
        ),
    )
    for _, l, r, _pc in merges:
        vocab = vocab.withColumn("syms", F.expr(_bpe_fold_expr(l, r)))
    word_tok = vocab.select(
        "word",
        F.expr("cast(size(syms) as long)").alias("n_tok"),
        F.expr("cast(length(word) as long)").alias("n_ch"),
    )
    scored = (
        dw.join(word_tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_ch").alias("n_word_chars"),
        )
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_word_chars").cast("double") / F.col("n_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


def _bpe_ctes() -> str:
    """Shared DuckDB CTE chain: word counts → symbol init → the
    ``BPE_ROUNDS`` merge rounds (pair counts, argmax, fold) — used by
    both the trainer oracle and the encoder oracle."""

    def fold(l: str, r: str) -> str:
        return (
            f"list_reduce(syms, (acc, x) -> "
            f"CASE WHEN (string_split(acc, '|'))[-1] = {l} AND x = {r} "
            f"THEN acc || {r} ELSE acc || '|' || x END)"
        )

    sql = f"""
WITH wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wn
  FROM (SELECT unnest({T.tokens_sql()}) AS word FROM documents)
  GROUP BY 1
), seg0 AS (
  SELECT word, wn,
         list_transform(generate_series(1, length(word)),
                        i -> substring(word, i, 1)) AS syms
  FROM wc
)"""
    for k in range(1, BPE_ROUNDS + 1):
        sql += f""", p{k} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(wn) AS BIGINT) AS pc
  FROM seg{k - 1}, unnest(generate_series(1, len(syms) - 1)) AS g(i)
  GROUP BY 1, 2
), m{k} AS (
  SELECT {k} AS round, l, r, pc FROM p{k} ORDER BY pc DESC, l, r LIMIT 1
), seg{k} AS (
  SELECT word, wn, string_split({fold('m.l', 'm.r')}, '|') AS syms
  FROM seg{k - 1}, m{k} m
)"""
    return sql


def _bpe_oracle() -> str:
    union = " UNION ALL ".join(
        f"SELECT * FROM m{k}" for k in range(1, BPE_ROUNDS + 1)
    )
    return (
        _bpe_ctes()
        + f"\nSELECT round, l AS sym_left, r AS sym_right, pc AS pair_count "
        f"FROM ({union})"
    )


def _bpe_encode_oracle() -> str:
    n = BPE_ROUNDS
    return (
        _bpe_ctes()
        + f""", wt AS (
  SELECT word, CAST(len(syms) AS BIGINT) AS n_tok,
         CAST(length(word) AS BIGINT) AS n_ch
  FROM seg{n}
), dw AS (
  SELECT doc_id, unnest({T.tokens_sql()}) AS word FROM documents
), scored AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(n_ch) AS BIGINT) AS n_word_chars
  FROM dw JOIN wt USING (word) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(n_words, 0) AS n_words,
       coalesce(n_tokens, 0) AS n_tokens,
       {round_sql("CAST(n_tokens AS DOUBLE) / n_words", 6)} AS fertility,
       {round_sql("CAST(n_word_chars AS DOUBLE) / n_tokens", 6)} AS chars_per_token
FROM documents d LEFT JOIN scored USING (doc_id)
"""
    )


QUERIES = {
    "doc_stats": (doc_stats, DOC_STATS_ORACLE),
    "ngram_familiarity": (ngram_familiarity, NGRAM_FAMILIARITY_ORACLE),
    "bpe_vocab_train": (bpe_vocab_train, _bpe_oracle()),
    "bpe_encode_stats": (bpe_encode_stats, _bpe_encode_oracle()),
    "dsir_weights": (dsir_weights, _dsir_oracle()),
    "bm25_rank": (bm25_rank, _bm25_oracle()),
    "trigram_udtf_freq": (trigram_udtf_freq, TRIGRAM_UDTF_ORACLE),
    "corpus_quality_filter": (corpus_quality_filter, CORPUS_FILTER_ORACLE),
    "curation_pipeline": (curation_pipeline, CURATION_ORACLE),
    "lang_id": (lang_id, _lang_id_oracle()),
    "token_freq": (token_freq, TOKEN_FREQ_ORACLE),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_ORACLE),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_ORACLE),
}
