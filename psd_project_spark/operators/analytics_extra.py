"""Behavioral analytics + embedding-compression operators.

Three more extension-surface operators (SURVEY.md §2.9) that a
large-scale data platform needs and the reference lacks entirely:

- ``funnel_conversion``: classic view→purchase funnel per user — first
  qualifying event, first conversion strictly after it, latency.
  Two keyed aggregations + one left join, all on ``user_id``: a single
  shuffle key end-to-end, so at 100 TB the whole funnel is one
  exchange (AQE coalesces the tiny right side).
- ``part_price_quartiles``: exact type-7 (linear-interpolation)
  quartiles per group, written as explicit arithmetic over a sorted
  array so Spark and DuckDB evaluate the *same* IEEE expression —
  bit-identical without relying on either engine's quantile internals.
  Scale path: swap ``collect_list`` for ``percentile_approx`` when a
  group no longer fits an array (documented, not needed at test SF).
- ``vector_quantize_int8``: per-vector affine int8 quantization of
  embeddings (the standard trick for shrinking an ANN index 4×) with
  md5-fingerprinted codes and an integer-quantized reconstruction
  error. Arrow-batched ``mapInPandas`` — no shuffle, no collect;
  float work mirrors the DuckDB oracle op-for-op (see
  functions/vectors.py for the quantized-fold approach).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from psd_project_spark.functions import hll_sql as HLL
from psd_project_spark.functions import vectors as V
from psd_project_spark.functions.exact import DEC, exact_sum, exact_sum_sql, round_sql
from psd_project_spark.sources.registry import load_table

# --- funnel_conversion -------------------------------------------------------

def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user view→purchase funnel over the events stream.

    first_view_ns = earliest 'view'; first_purch_ns = earliest
    'purchase' strictly after it; us_to_convert = µs latency.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_ns"
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("first_view_ns"))
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter(F.col("ts_ns") > F.col("first_view_ns"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("first_purch_ns"))
    )
    out = (
        views.join(purch, "user_id", "left")
        .select(
            "user_id",
            "first_view_ns",
            "first_purch_ns",
            F.col("first_purch_ns").isNotNull().cast("int").alias("converted"),
            F.expr("(first_purch_ns - first_view_ns) DIV 1000").alias(
                "us_to_convert"
            ),
        )
    )
    return out


FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns FROM events
),
v AS (
  SELECT user_id, min(ts_ns) AS first_view_ns
  FROM e WHERE event_type = 'view' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(ts_ns) AS first_purch_ns
  FROM e JOIN v USING (user_id)
  WHERE event_type = 'purchase' AND ts_ns > first_view_ns
  GROUP BY 1
)
SELECT v.user_id, first_view_ns, first_purch_ns,
       CAST(first_purch_ns IS NOT NULL AS INT) AS converted,
       (first_purch_ns - first_view_ns) // 1000 AS us_to_convert
FROM v LEFT JOIN p ON v.user_id = p.user_id
"""


# --- part_price_quartiles ----------------------------------------------------

def _type7(arr: str, n: str, p: str) -> str:
    """Shared SQL text for a type-7 quantile over a sorted 1-based array
    — identical source for Spark and DuckDB modulo the subscript call.
    """
    h = f"(cast({n} - 1 as double) * cast({p} as double))"
    lo = f"cast(floor({h}) as int)"
    return (
        f"CASE WHEN {h} = floor({h}) THEN element_at({arr}, {lo} + 1) "
        f"ELSE element_at({arr}, {lo} + 1) "
        f"+ (element_at({arr}, {lo} + 2) - element_at({arr}, {lo} + 1)) "
        f"* ({h} - floor({h})) END"
    )


def part_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact q25/q50/q75 of retail price per part type."""
    g = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_type")
        .agg(F.expr("sort_array(collect_list(p_retailprice))").alias("arr"))
        .select(
            "p_type",
            F.expr("cast(size(arr) as int)").alias("n_parts"),
            F.expr(_type7("arr", "size(arr)", "0.25")).alias("q25"),
            F.expr(_type7("arr", "size(arr)", "0.5")).alias("q50"),
            F.expr(_type7("arr", "size(arr)", "0.75")).alias("q75"),
        )
        .orderBy("p_type")
    )
    return g


def _type7_duck(arr: str, n: str, p: str) -> str:
    return (
        _type7(arr, n, p)
        .replace(f"element_at({arr}, ", f"list_extract({arr}, ")
    )


PART_QUARTILES_ORACLE = f"""
WITH g AS (
  SELECT p_type, list_sort(list(p_retailprice)) AS arr
  FROM part GROUP BY p_type
)
SELECT p_type, CAST(len(arr) AS INT) AS n_parts,
       {_type7_duck("arr", "len(arr)", "0.25")} AS q25,
       {_type7_duck("arr", "len(arr)", "0.5")} AS q50,
       {_type7_duck("arr", "len(arr)", "0.75")} AS q75
FROM g ORDER BY p_type
"""


# --- vector_quantize_int8 ----------------------------------------------------

_VQ_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("vmin", DoubleType()),
        StructField("vmax", DoubleType()),
        StructField("codes_md5", StringType()),
        StructField("qerr_q12", LongType()),
    ]
)


def _vq_kernel(batches):
    import numpy as np

    for pdf in batches:
        a = np.stack(pdf["embedding"].apply(np.asarray).values).astype(
            np.float64
        )
        vmin = a.min(axis=1)
        vmax = a.max(axis=1)
        scale = (vmax - vmin) / 255.0
        safe = scale != 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = np.floor((a - vmin[:, None]) / scale[:, None] + 0.5)
        raw = np.where(safe[:, None], raw, 0.0)
        codes = np.minimum(255.0, np.maximum(0.0, raw)).astype(np.int64)
        recon = vmin[:, None] + codes.astype(np.float64) * scale[:, None]
        d = a - recon
        q = np.floor(d * d * 1e12 + 0.5).astype(np.int64)
        import pandas as pd

        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].values,
                "vmin": vmin,
                "vmax": vmax,
                "codes_md5": [
                    hashlib.md5(
                        ",".join(str(c) for c in row).encode()
                    ).hexdigest()
                    for row in codes
                ],
                "qerr_q12": q.sum(axis=1),
            }
        )


# --- embedding_pq_quantize ---------------------------------------------------

#: Product-quantization geometry: M subspaces × dsub dims, K centroids
#: per subspace. 64-dim embeddings → 8 one-byte codes (64× smaller
#: than float64). Codebooks are the first K vectors' sub-vectors — the
#: deterministic stand-in for trained codebooks (the IVF convention:
#: training is offline; the quantize/assign plumbing is what this
#: operator exercises).
PQ_M = 8
PQ_DSUB = 8
PQ_K = 16


def _pq_kernel(codebooks, cids):
    """``mapInPandas`` kernel: per subspace, argmin squared-euclidean
    code assignment. The d2 fold is elementwise (x−y)² accumulated
    STRICTLY sequentially over dims (bit-equal to the oracle's
    ``list_reduce`` left fold — the ``make_kmeans_assign_kernel``
    convention), ties keep the lowest centroid id, and per-subspace
    errors are quantized to int64 at 1e-12 BEFORE summing so the total
    is order-free."""
    import numpy as np
    import pandas as pd

    C = np.asarray(codebooks, dtype=np.float64)  # (M, K, dsub)
    order = np.argsort(np.asarray(cids))
    cid_arr = np.asarray(cids, dtype=np.int64)[order]
    C = C[:, order, :]

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.array(pdf["_v"].tolist(), dtype=np.float64)
            n = len(a)
            codes = np.zeros((n, PQ_M), np.int64)
            errq = np.zeros(n, np.int64)
            for m in range(PQ_M):
                sub = a[:, m * PQ_DSUB:(m + 1) * PQ_DSUB]
                best = np.full(n, np.inf)
                code = np.zeros(n, np.int64)
                for k in range(PQ_K):
                    t = (sub - C[m, k]) ** 2
                    acc = np.zeros(n)
                    for j in range(PQ_DSUB):  # sequential left fold
                        acc = acc + t[:, j]
                    upd = acc < best  # strict: ties keep lowest cid
                    best[upd] = acc[upd]
                    code[upd] = cid_arr[k]
                codes[:, m] = code
                errq += np.floor(best * 1e12 + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "pq_code": [
                        "-".join(str(c) for c in row) for row in codes
                    ],
                    "recon_err_q12": errq,
                }
            )

    return kernel


def embedding_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding corpus — the vector-index
    compression standard (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011): each vector becomes
    ``PQ_M`` one-byte codes (64× smaller than float64 here) by
    assigning each of its M sub-vectors to the nearest of K per-
    subspace centroids; emits the code word and the int64-quantized
    total reconstruction error. Completes the compression family next
    to ``vector_quantize_int8`` (scalar) and feeds the same index
    layouts as ``ann_index_export``.

    Plan shape for 100 TB: the M×K×dsub codebook is O(1) closure
    state (model-state contract); assignment is ONE narrow Arrow map —
    no join, no shuffle, no window. The DuckDB oracle reproduces the
    d2 fold order, tie-break, and 1e-12 error quantization exactly."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "_v", F.expr(V.to_double_expr())
    )
    cb = {
        r["vec_id"]: r["_v"]
        for r in e.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "_v")
        .collect()
    }
    cids = sorted(cb)
    full = np.array([cb[c] for c in cids], dtype=np.float64)  # (K, 64)
    codebooks = np.stack(
        [full[:, m * PQ_DSUB:(m + 1) * PQ_DSUB] for m in range(PQ_M)]
    )  # (M, K, dsub)
    return e.select("vec_id", "_v").mapInPandas(
        _pq_kernel(codebooks, cids),
        schema="vec_id long, pq_code string, recon_err_q12 long",
    )


def _pq_oracle() -> str:
    d = PQ_DSUB
    terms = (
        f"list_transform(generate_series(1, {d}), pq_j -> "
        f"(sv[pq_j] - cv[pq_j]) * (sv[pq_j] - cv[pq_j]))"
    )
    d2 = f"list_reduce(list_prepend(0.0, {terms}), (pq_a, pq_x) -> pq_a + pq_x)"
    return f"""
WITH e AS (
  SELECT vec_id, {V.to_double_sql()} AS v FROM embeddings
), sub AS (
  SELECT vec_id, g.m AS m, v[g.m * {d} + 1 : (g.m + 1) * {d}] AS sv
  FROM e, generate_series(0, {PQ_M - 1}) AS g(m)
), cbs AS (
  SELECT vec_id AS cid, g.m AS m, v[g.m * {d} + 1 : (g.m + 1) * {d}] AS cv
  FROM e, generate_series(0, {PQ_M - 1}) AS g(m)
  WHERE vec_id < {PQ_K}
), scored AS (
  SELECT sub.vec_id, sub.m, cbs.cid, {d2} AS d2,
         row_number() OVER (PARTITION BY sub.vec_id, sub.m
                            ORDER BY {d2}, cbs.cid) AS rk
  FROM sub JOIN cbs ON sub.m = cbs.m
), best AS (
  SELECT vec_id, m, cid, CAST(floor(d2 * 1e12 + 0.5) AS BIGINT) AS eq
  FROM scored WHERE rk = 1
)
SELECT vec_id,
       string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m) AS pq_code,
       CAST(sum(eq) AS BIGINT) AS recon_err_q12
FROM best GROUP BY 1
"""


def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affine int8 quantization of every embedding: codeᵢ =
    clip(⌊(xᵢ−min)/scale + ½⌋, 0, 255), scale = (max−min)/255; emits the
    md5 fingerprint of the code vector and the total squared
    reconstruction error quantized at 1e-12."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInPandas(_vq_kernel, schema=_VQ_SCHEMA)


VECTOR_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, mh_x -> CAST(mh_x AS DOUBLE)) AS emb
  FROM embeddings
),
s AS (
  SELECT vec_id, emb,
         list_aggregate(emb, 'min') AS vmin,
         list_aggregate(emb, 'max') AS vmax
  FROM v
),
t AS (
  SELECT vec_id, emb, vmin, vmax, (vmax - vmin) / 255.0 AS scale FROM s
),
c AS (
  SELECT vec_id, emb, vmin, vmax, scale,
         list_transform(emb, mh_x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(least(255.0, greatest(0.0, floor((mh_x - vmin) / scale + 0.5))) AS BIGINT) END) AS codes
  FROM t
)
SELECT vec_id, vmin, vmax,
       md5(array_to_string(codes, ',')) AS codes_md5,
       CAST(list_sum(list_transform(generate_series(1, len(emb)),
            mh_i -> CAST(floor((emb[mh_i] - (vmin + codes[mh_i] * scale))
                        * (emb[mh_i] - (vmin + codes[mh_i] * scale)) * 1e12 + 0.5) AS BIGINT)))
            AS BIGINT) AS qerr_q12
FROM c
"""


# --- moment_stats ------------------------------------------------------------

def moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (stddev, covariance, Pearson
    correlation) of quantity vs extended price per return flag.

    Built-in ``corr``/``covar_samp``/``stddev`` stream partial states
    whose float accumulation order varies with partitioning, so their
    last bits are not reproducible across engines or cluster layouts.
    Instead the five raw moments (Σx, Σy, Σx², Σy², Σxy) are exact
    decimal sums — order-independent, one map-side-combined shuffle —
    and the derived statistics are a fixed IEEE expression over the
    exact sums (sqrt is correctly rounded per IEEE-754, so even corr is
    bit-identical to the DuckDB oracle). This is also the 100 TB shape:
    moments merge associatively, so partial aggregation does all the
    reduction work before the exchange.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    agg = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum(F.col("x")).alias("sx"),
        exact_sum(F.col("y")).alias("sy"),
        exact_sum(F.col("x") * F.col("x")).alias("sxx"),
        exact_sum(F.col("y") * F.col("y")).alias("syy"),
        exact_sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    mxx = sxx - sx * sx / n
    myy = syy - sy * sy / n
    mxy = sxy - sx * sy / n
    return agg.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(sy / n, 6).alias("mean_price"),
        F.round(F.sqrt(mxx / (n - F.lit(1.0))), 6).alias("std_qty"),
        F.round(F.sqrt(myy / (n - F.lit(1.0))), 6).alias("std_price"),
        F.round(mxy / (n - F.lit(1.0)), 6).alias("covar_qp"),
        F.round(mxy / F.sqrt(mxx * myy), 6).alias("corr_qp"),
    ).orderBy("l_returnflag")


MOMENT_STATS_ORACLE = f"""
WITH m AS (
  SELECT l_returnflag,
    CAST(count(*) AS DOUBLE) AS n,
    {exact_sum_sql("l_quantity")} AS sx,
    {exact_sum_sql("l_extendedprice")} AS sy,
    {exact_sum_sql("l_quantity * l_quantity")} AS sxx,
    {exact_sum_sql("l_extendedprice * l_extendedprice")} AS syy,
    {exact_sum_sql("l_quantity * l_extendedprice")} AS sxy
  FROM lineitem
  GROUP BY 1
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n,
  {round_sql("sx / n", 6)} AS mean_qty,
  {round_sql("sy / n", 6)} AS mean_price,
  {round_sql("sqrt((sxx - sx * sx / n) / (n - 1.0))", 6)} AS std_qty,
  {round_sql("sqrt((syy - sy * sy / n) / (n - 1.0))", 6)} AS std_price,
  {round_sql("(sxy - sx * sy / n) / (n - 1.0)", 6)} AS covar_qp,
  {round_sql("(sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))", 6)} AS corr_qp
FROM m
ORDER BY l_returnflag
"""


# --- value_outliers ----------------------------------------------------------

def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: how many events are >3 sample standard
    deviations from the type mean, and the largest |z| observed — the
    standard data-quality screen before a table feeds training.

    Same order-independent construction as ``moment_stats``: per-type
    (n, Σv, Σv²) in decimal → mean/std as fixed IEEE expressions; the
    tiny per-type stats frame broadcasts back onto the scan, so the
    whole screen is two scans of one column and zero wide shuffles.
    z is computed per row with the identical expression both engines
    evaluate; max() over it is order-independent.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    stats = e.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum(F.col("value")).alias("sv"),
        exact_sum(F.col("value") * F.col("value"))
        .alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    std = F.sqrt(
        (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"))
        / (F.col("n") - F.lit(1.0))
    )
    z = (F.col("value") - mean) / std
    return (
        e.join(F.broadcast(stats), F.col("event_type") == F.col("et"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.abs(z) > 3.0, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.max(F.abs(z)), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


VALUE_OUTLIERS_ORACLE = f"""
WITH stats AS (
  SELECT event_type AS et,
    CAST(count(*) AS DOUBLE) AS n,
    {exact_sum_sql("value")} AS sv,
    {exact_sum_sql("value * value")} AS svv
  FROM events GROUP BY 1
)
SELECT event_type, count(*) AS n,
  CAST(sum(CASE WHEN abs((value - sv / n)
               / sqrt((svv - sv * sv / n) / (n - 1.0))) > 3.0
           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  {round_sql("max(abs((value - sv / n) / sqrt((svv - sv * sv / n) / (n - 1.0))))", 6)} AS max_abs_z
FROM events JOIN stats ON event_type = et
GROUP BY 1
ORDER BY 1
"""


# --- table_profile -----------------------------------------------------------

_PROFILE_NUMERIC = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PROFILE_STRING = ("l_returnflag", "l_linestatus")


def _profile_canon(c: str) -> str:
    """Canonical integer for a profiled numeric column: the table's
    2-decimal money/quantity grain as a scaled BIGINT (dodges
    double→string formatting differences between engines and double
    rounding noise; documented profiler contract — the sketch counts
    distinct 2-dp values). Identical text runs in both dialects."""
    # Integer rounding (no digits, then BIGINT): not round_sql's shape.
    return f"CAST(CAST(CAST(round(CAST(CAST({c} * 100 AS STRING) AS DECIMAL(38,21))) AS STRING) AS DOUBLE) AS BIGINT)"


def _profile_base_aggs(cols):
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    for c in _PROFILE_NUMERIC:
        aggs.append(
            F.round(exact_sum(F.col(c)) / F.count(F.col(c)), 6).alias(f"avg_{c}")
        )
    return aggs


def _profile_sketch_kernel(numeric_cols, string_cols):
    """``mapInPandas`` kernel: per-TASK partial HLL register tables for
    every profiled column — the physical shape sketch aggregation has
    at 100 TB. Input: pre-canonicalized BIGINT columns (codegen did the
    2-dp rounding, so the hash input is oracle-identical) + raw string
    columns. Output: ≤ ``cols × m`` (colname, reg, rho) rows per task,
    merged downstream by a max-agg — bounded state, no distinct-value
    sets, no per-row strings crossing the shuffle."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        regs = {
            c: np.zeros(HLL.HLL_M, np.int64)
            for c in (*numeric_cols, *string_cols)
        }
        for pdf in batches:
            for c in numeric_cols:
                col = pdf[c].dropna()
                if not len(col):
                    continue
                # nullable bigint arrives as float64; canon values are
                # ≤ ~2^24 (2-dp grain), exact in float64
                x = col.to_numpy(np.float64).astype(np.int64)
                h = HLL.splitmix64_np(x.astype(np.uint64))
                np.maximum.at(regs[c], HLL.register_np(h), HLL.rho_np(h))
            for c in string_cols:
                col = pdf[c].dropna()
                if not len(col):
                    continue
                hs = HLL.poly_hash_str_np(col.tolist())
                h = HLL.splitmix64_np(hs)
                np.maximum.at(regs[c], HLL.register_np(h), HLL.rho_np(h))
        out = []
        for c, r in regs.items():
            nz = np.nonzero(r)[0]
            if len(nz):
                out.append(
                    pd.DataFrame(
                        {"colname": c, "reg": nz.astype(np.int64),
                         "rho": r[nz]}
                    )
                )
        if out:
            yield pd.concat(out, ignore_index=True)

    return kernel


def _profile_distinct_sketch(l: DataFrame) -> DataFrame:
    """(colname, n_distinct_approx) via the deterministic cross-engine
    HLL (``functions/hll_sql.py``): canonicalize in codegen →
    vectorized splitmix64 + register/rho partials per task → max-rho
    merge per (column, register) → shared estimate stages."""
    canon = [
        F.expr(_profile_canon(c)).alias(c) for c in _PROFILE_NUMERIC
    ] + [F.col(c) for c in _PROFILE_STRING]
    est = (
        l.select(*canon)
        .mapInPandas(
            _profile_sketch_kernel(_PROFILE_NUMERIC, _PROFILE_STRING),
            schema="colname string, reg long, rho long",
        )
        .groupBy("colname", "reg")
        .agg(F.max("rho").alias("rho"))
        .groupBy("colname")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.expr(HLL.scaled_inv_expr("rho"))).alias("sinv"),
        )
    )
    for name, expr_ in HLL.estimate_stages():
        est = est.selectExpr("*", f"{expr_} AS {name}")
    return est.select("colname", "n_distinct_approx")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler over lineitem: null count, APPROXIMATE distinct
    count, min/max, and (for numerics) a decimal-accumulated mean —
    the schema-discovery / data-contract primitive every ingestion
    pipeline runs before accepting a drop.

    Distinct counts are sketched, not exact, BY DEFAULT: exact
    per-column distincts in one aggregate plan via Expand, multiplying
    the scan by the number of distinct-aggregates and shuffling
    distinct-value SETS — a scan-amplification scale-killer at 100 TB
    (:func:`table_profile_exact` keeps that form as the opt-in). Here
    the exact stats (null/min/max/mean) run as ONE plain un-Expanded
    codegen aggregate, and the distinct estimates come from a
    deterministic HLL (m=4096 registers, ≈1.6% standard error —
    ``functions/hll_sql.py``) whose aggregate state is bounded sketch
    registers, exactly like ``approx_count_distinct`` — but with
    engine-portable arithmetic, so the DuckDB oracle reproduces the
    estimate BIT-FOR-BIT (Spark's HLL++ and DuckDB's HLL could never
    hash-match). Accuracy vs exact counts is pinned in
    ``tests/test_table_profile.py``.
    """
    cols = [*_PROFILE_NUMERIC, *_PROFILE_STRING]
    l = load_table(spark, sf_dir, "lineitem").select(*cols)
    one = l.agg(*_profile_base_aggs(cols))
    # ONE row → |cols| rows via a literal struct-array explode, NOT a
    # per-column union of selects over ``one``: union branches do not
    # share their common subtree, so the "one plain codegen aggregate"
    # this docstring promises was actually planned (and scanned)
    # |cols| times — measured 7 lineitem scans in the physical plan
    # (optimization r14, guide §1.2/§7.2; plans/r14/table_profile_*).
    out = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"nn_{c}").alias("n_nulls"),
                        F.col(f"mn_{c}").alias("min_str"),
                        F.col(f"mx_{c}").alias("max_str"),
                        (
                            F.col(f"avg_{c}")
                            if c in _PROFILE_NUMERIC
                            else F.lit(None).cast("double")
                        ).alias("mean"),
                    )
                    for c in cols
                ]
            )
        ).alias("_p")
    ).select("_p.*")
    est = _profile_distinct_sketch(l)
    return (
        out.join(est, out["column"] == est["colname"], "left")
        .select(
            "column",
            "n_nulls",
            F.coalesce("n_distinct_approx", F.lit(0)).alias(
                "n_distinct_approx"
            ),
            "min_str",
            "max_str",
            "mean",
        )
        .orderBy("column")
    )


def table_profile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-distinct profiler variant (opt-in): one aggregate over one
    scan, with Spark planning the multi-distinct via Expand — the scan
    is multiplied by the number of distinct aggregates and the partial
    state is per-column distinct-value sets, which is why
    :func:`table_profile` sketches by default at scale."""
    cols = [*_PROFILE_NUMERIC, *_PROFILE_STRING]
    l = load_table(spark, sf_dir, "lineitem").select(*cols)
    aggs = _profile_base_aggs(cols) + [
        F.countDistinct(c).alias(f"nd_{c}") for c in cols
    ]
    one = l.agg(*aggs)
    # Deliberately the per-column UNION of selects over ``one`` — the
    # opposite choice from table_profile's explode (r14): here each
    # union branch lets Catalyst PRUNE the aggregate to that column's
    # single countDistinct, planning 6 column-pruned scan+distinct
    # aggregates that run in parallel; one fused aggregate would plan
    # a single Expand ×(|cols|+1) over the full-width scan instead
    # (measured 7.6× slower at sf0.1 — the very scan-amplification
    # this variant exists to demonstrate, but paid once per row width,
    # not once per column).
    pieces = []
    for c in cols:
        mean_col = (
            F.col(f"avg_{c}") if c in _PROFILE_NUMERIC
            else F.lit(None).cast("double")
        )
        pieces.append(
            one.select(
                F.lit(c).alias("column"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_str"),
                F.col(f"mx_{c}").alias("max_str"),
                mean_col.alias("mean"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.orderBy("column")


def _profile_base_select(c: str, with_distinct: bool) -> str:
    mean = (
        round_sql(exact_sum_sql(c) + f" / count({c})", 6)
        if c in _PROFILE_NUMERIC
        else "CAST(NULL AS DOUBLE)"
    )
    nd = f" count(DISTINCT {c}) AS n_distinct," if with_distinct else ""
    return (
        f"SELECT '{c}' AS \"column\","
        f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_nulls,{nd}"
        f" CAST(min({c}) AS VARCHAR) AS min_str,"
        f" CAST(max({c}) AS VARCHAR) AS max_str,"
        f" {mean} AS mean FROM lineitem"
    )


def _table_profile_oracle() -> str:
    """DuckDB twin of :func:`table_profile`: identical splitmix64/HLL
    arithmetic (mod-2^64 over HUGEINT — ``functions/hll_sql.py``),
    identical estimate stages as nested CTEs."""
    cols = [*_PROFILE_NUMERIC, *_PROFILE_STRING]
    stacked = " UNION ALL ".join(
        f"SELECT '{c}' AS colname, "
        + (
            HLL.u64_sql(_profile_canon(c))
            if c in _PROFILE_NUMERIC
            else HLL.poly_hash_sql(c)
        )
        + f" AS h0 FROM lineitem WHERE {c} IS NOT NULL"
        for c in cols
    )
    stage_ctes = []
    cur = "stacked"
    for i, (name, expr_) in enumerate(HLL.splitmix_stages_sql("h0")):
        stage_ctes.append(f"m{i} AS (SELECT *, {expr_} AS {name} FROM {cur})")
        cur = f"m{i}"
    hashed = cur
    est = "per"
    for i, (name, expr_) in enumerate(HLL.estimate_stages()):
        stage_ctes.append(f"e{i} AS (SELECT *, {expr_} AS {name} FROM {est})")
        est = f"e{i}"
    base = " UNION ALL ".join(
        _profile_base_select(c, with_distinct=False) for c in cols
    )
    return f"""
WITH stacked AS ({stacked}),
{', '.join(stage_ctes[:6])},
rr AS (SELECT colname, {HLL.register_sql('h')} AS reg,
               {HLL.rho_case_sql('h')} AS rho FROM {hashed}),
sk AS (SELECT colname, reg, max(rho) AS rho FROM rr GROUP BY 1, 2),
per AS (SELECT colname, count(*) AS n_obs,
               CAST(sum({HLL.scaled_inv_expr('rho')}) AS BIGINT) AS sinv
        FROM sk GROUP BY 1),
{', '.join(stage_ctes[6:])},
base AS ({base})
SELECT base."column", n_nulls,
       coalesce(n_distinct_approx, 0) AS n_distinct_approx,
       min_str, max_str, mean
FROM base LEFT JOIN {est} ON base."column" = {est}.colname
ORDER BY base."column"
"""


def _table_profile_exact_oracle() -> str:
    return " UNION ALL ".join(
        _profile_base_select(c, with_distinct=True)
        for c in (*_PROFILE_NUMERIC, *_PROFILE_STRING)
    ) + ' ORDER BY "column"'


# --- weighted_median ---------------------------------------------------------

def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag: the
    smallest price p whose cumulative quantity reaches half the total.

    Neither engine has a weighted-percentile builtin, so both sides
    compute the *definition*: collapse to (group, price) weight sums
    first (shrinks the window input and makes tie order irrelevant —
    the cumulative weight at a price is well-defined regardless of row
    order), one running-sum window per group, then the first qualifying
    price. Quantities are integral, so every comparison is exact
    integer arithmetic; the only doubles in the output are the input
    prices themselves.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    g = l.groupBy("l_returnflag", "price").agg(F.sum("w").alias("pw"))
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.withColumn("cw", F.sum("pw").over(win))
    tot = g.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.sum("pw").alias("tw")
    )
    return (
        cum.join(F.broadcast(tot), F.col("l_returnflag") == F.col("rf"))
        .filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.max("tw").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH g AS (
  SELECT l_returnflag, l_extendedprice AS price,
         sum(CAST(l_quantity AS BIGINT)) AS pw
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, price, pw,
         sum(pw) OVER (PARTITION BY l_returnflag ORDER BY price
                       ROWS UNBOUNDED PRECEDING) AS cw,
         sum(pw) OVER (PARTITION BY l_returnflag) AS tw
  FROM g
)
SELECT l_returnflag, min(price) AS weighted_median_price,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM c
WHERE 2 * cw >= tw
GROUP BY 1
ORDER BY 1
"""


# --- incremental_rollup ------------------------------------------------------

def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The backfill/merge contract, executed: aggregate history
    (shipdate < 1996) and the increment (≥ 1996) *separately*, then
    merge the partials — and the result must be bit-identical to the
    one-shot aggregate the oracle computes.

    This only holds because partials stay DECIMAL through the merge
    (decimal addition is associative; double addition is not) — the
    same property that makes map-side partial aggregation and
    micro-batch incremental maintenance exact at 100 TB. The final
    cast/round happens once, after the merge.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", _revenue_col().alias("rev")
    )
    cutoff = F.lit("1996-01-01")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("rev").cast(DEC)).alias("psum"),
        )

    hist = partial(l.filter(F.col("l_shipdate") < cutoff))
    inc = partial(l.filter(F.col("l_shipdate") >= cutoff))
    return (
        hist.unionByName(inc)
        .groupBy("l_returnflag")
        .agg(F.sum("pn").alias("n"), F.sum("psum").alias("msum"))
        .select(
            "l_returnflag",
            "n",
            F.round(F.col("msum").cast("double"), 6).alias("revenue"),
            F.round(
                F.col("msum").cast("double") / F.col("n").cast("double"), 6
            ).alias("avg_revenue"),
        )
        .orderBy("l_returnflag")
    )


def _revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


INCREMENTAL_ROLLUP_ORACLE = f"""
SELECT l_returnflag, count(*) AS n,
  {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)"), 6)} AS revenue,
  {round_sql(exact_sum_sql("l_extendedprice * (1.0 - l_discount)") + " / CAST(count(*) AS DOUBLE)", 6)} AS avg_revenue
FROM lineitem
GROUP BY 1
ORDER BY 1
"""


# --- mad_by_type (grouped-aggregate pandas UDF / UDAF surface) ---------------

import pandas as pd  # noqa: E402  (annotation needed by the UDAF hint)


@F.pandas_udf(LongType())  # type object: DDL strings need a live session at import
def _mad_q12_udaf(v: pd.Series) -> int:  # Series -> scalar == GROUPED_AGG
    """Exact median absolute deviation, quantized to 1e-12 integers.

    Median rule is fixed explicitly (avg of the two middle order
    statistics, lower==upper when n is odd) so the DuckDB oracle can
    evaluate the *same* IEEE expression — no reliance on either
    engine's median() interpolation. Runs as Spark's grouped-aggregate
    pandas UDF: whole-group Series in, scalar out, Arrow both ways —
    the one Pandas-UDF evaluation mode the rest of the engine didn't
    already exercise (scalar, iterator, grouped-map, cogrouped, UDTF
    are all elsewhere)."""
    import numpy as np

    a = np.sort(v.to_numpy(dtype=np.float64))
    n = len(a)
    med = (a[(n - 1) // 2] + a[n // 2]) / 2.0
    d = np.sort(np.abs(a - med))
    mad = (d[(n - 1) // 2] + d[n // 2]) / 2.0
    return int(np.floor(mad * 1e12 + 0.5))


def mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust dispersion (exact MAD) via the
    grouped-aggregate pandas UDF. Whole-group state is inherent to an
    exact MAD (two data-dependent sorts); at 100 TB the same call
    becomes per-(type, shard) partial MADs or swaps to the
    moment-based screen (``value_outliers``) — this entry is the UDAF
    API surface with an exact oracle."""
    e = load_table(spark, sf_dir, "events")
    # A grouped-agg pandas UDF cannot share an agg() with built-in
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT): two aggregations on
    # the same key, joined — both sides arrive hash-partitioned on
    # event_type, so the join adds no exchange.
    mad = e.groupBy("event_type").agg(
        _mad_q12_udaf(F.col("value")).alias("mad_q12")
    )
    cnt = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        cnt.join(mad, "event_type")
        .select("event_type", "n", "mad_q12")
        .orderBy("event_type")
    )


MAD_BY_TYPE_ORACLE = """
WITH g AS (
  SELECT event_type, list_sort(list(value)) AS a,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), m AS (
  SELECT event_type, a, n,
         (a[(n - 1) // 2 + 1] + a[n // 2 + 1]) / 2.0 AS med
  FROM g
), d AS (
  SELECT event_type, n,
         list_sort(list_transform(a, x -> abs(x - med))) AS dd
  FROM m
)
SELECT event_type, n,
  CAST(floor(((dd[(n - 1) // 2 + 1] + dd[n // 2 + 1]) / 2.0) * 1e12 + 0.5)
       AS BIGINT) AS mad_q12
FROM d
ORDER BY event_type
"""


QUERIES = {
    "funnel_conversion": (funnel_conversion, FUNNEL_ORACLE),
    "moment_stats": (moment_stats, MOMENT_STATS_ORACLE),
    "value_outliers": (value_outliers, VALUE_OUTLIERS_ORACLE),
    "table_profile": (table_profile, _table_profile_oracle()),
    "table_profile_exact": (table_profile_exact, _table_profile_exact_oracle()),
    "incremental_rollup": (incremental_rollup, INCREMENTAL_ROLLUP_ORACLE),
    "weighted_median": (weighted_median, WEIGHTED_MEDIAN_ORACLE),
    "part_price_quartiles": (part_price_quartiles, PART_QUARTILES_ORACLE),
    "vector_quantize_int8": (vector_quantize_int8, VECTOR_QUANTIZE_ORACLE),
    "embedding_pq_quantize": (embedding_pq_quantize, _pq_oracle()),
    "mad_by_type": (mad_by_type, MAD_BY_TYPE_ORACLE),
}
