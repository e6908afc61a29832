"""Deletion from persisted indexes: the lifecycle verb a real
training-data pipeline cannot ship without.

The persisted band index (operators/dedup.py) has build / append /
compact / probe; this module adds DELETE — the right-to-be-forgotten
path: remove a set of documents from the standing index without a
rebuild, rewriting ONLY the ``(band_id, bucket)`` partitions the
deleted documents' bands hash into. Deletion cost tracks the deleted
docs' band volume (|delete set| × LSH_BANDS dirs at most,
manifest-intersected), never the index size — the same per-bucket
discipline as compaction (operators/index_compact.py), pointed at
removal instead of consolidation.

Why band recomputation, not an index scan: a deletion request arrives
with the documents (or their stored signatures); recomputing their
band keys yields the exact affected partition set up front. Scanning
the index for matching ids would read every bucket — the full-scan
shape this layout exists to avoid.

The reference has no index or deletion story at all (its pipeline is
a single streaming pass, StreamingJob.java:433-437); this extends the
repo's own index tier."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psd_project_spark.functions import text as T
from psd_project_spark.functions.caching import transient_cache
from psd_project_spark.functions.exact import round_sql
from psd_project_spark.operators.dedup import (
    _SIG_SQL,
    _band_frame,
    _minhash_index_dir,
    _probe_minhash_index,
    _with_bucket,
    _with_signatures,
    _write_minhash_index,
)
from psd_project_spark.sources.registry import load_table


def _delete_partitions(
    spark: SparkSession,
    path: str,
    dirs: list[str],
    schema: str,
    del_ids: DataFrame,
    id_col: str,
    partition_cols: list[str],
) -> int:
    """The shared per-partition delete core: read ONLY the affected
    partition dirs back, anti-join the deleted ids away (broadcast —
    a deletion set is small by nature), rewrite survivors in place
    via dynamic partition overwrite, and remove the dirs the delete
    EMPTIED (a no-surviving-rows partition is invisible to dynamic
    overwrite — it would otherwise keep serving the deleted rows),
    then refresh the partition manifest so manifest-pruned probes
    stay truthful. Returns the number of affected partitions.

    Durability: callers run this inside the shared
    ``build_base_plus_delta`` protocol (marker strictly last), so a
    crash mid-delete leaves a directory that fails the gate and
    rebuilds — deleted data cannot silently resurface half-removed."""
    import os
    import shutil

    from psd_project_spark.operators.index_compact import (
        _rewrite,
        write_partition_manifest,
    )

    if not dirs:
        return 0
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        back = (
            spark.read.option("basePath", path)
            .schema(schema)
            .parquet(*[f"{path}/{d}" for d in dirs])
        )
        survivors = back.join(F.broadcast(del_ids), id_col, "left_anti")
        # partitions that keep at least one row (bounded collect:
        # ≤ |dirs|) — the rest were emptied by the delete
        kept = {
            "/".join(f"{c}={int(r[c])}" for c in partition_cols)
            for r in survivors.select(*partition_cols).distinct().collect()
        }
        if kept:
            _rewrite(survivors, path, partition_cols, max(1, len(kept) // 4))
        for d in dirs:
            if d not in kept:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    write_partition_manifest(path)
    return len(dirs)


def delete_from_minhash_index(
    spark: SparkSession, path: str, del_docs: DataFrame
) -> int:
    """Remove ``del_docs`` (rows with ``doc_id``, ``_sh`` — the
    signature frame slice for the deletion set) from the persisted
    band index at ``path``. The deleted docs' bands name the affected
    ``(band_id, bucket)`` dirs (distinct-collect, bounded by
    |delete set| × LSH_BANDS and by the manifest intersection); cost
    tracks the deletion's band volume, never the index size."""
    from psd_project_spark.operators.index_compact import list_partitions

    del_bands = _with_bucket(_band_frame(del_docs))
    affected = sorted(
        {
            (int(r["band_id"]), int(r["bucket"]))
            for r in del_bands.select("band_id", "bucket")
            .distinct()
            .collect()
        }
    )
    present = list_partitions(path)
    dirs = [
        f"band_id={b}/bucket={k}"
        for b, k in affected
        if f"band_id={b}/bucket={k}" in present
    ]
    del_ids = del_docs.select(F.col("doc_id").alias("doc_train")).distinct()
    return _delete_partitions(
        spark,
        path,
        dirs,
        "doc_train long, band_key string, band_id int, bucket int",
        del_ids,
        "doc_train",
        ["band_id", "bucket"],
    )


def minhash_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index DELETE lifecycle as one driver-verified query: build
    the full train index (``overwrite``), DELETE the takedown set
    (train docs with ``doc_id % 7 == 3``) via per-partition rewrites,
    then probe with the eval split. The oracle is the full screen over
    the REDUCED corpus (``cross_dedup_minhash`` with the deleted docs
    excluded from the train side), so a hash-match proves
    **build + delete + probe ≡ rebuild-without-the-deleted** — the
    GDPR guarantee, verified at the driver: no deleted document can
    surface as a candidate, and no surviving candidate is lost.

    Durability rides the shared ``build_base_plus_delta`` protocol
    with the deletion as the second mutation — the completion marker
    lands strictly after the delete commits, so a crash mid-delete
    rebuilds instead of serving a half-deleted index."""
    from psd_project_spark.operators.index_compact import (
        build_base_plus_delta,
    )

    path = _minhash_index_dir(sf_dir) + "_del"
    sigs = transient_cache(
        _with_signatures(load_table(spark, sf_dir, "documents"), spark)
    )
    is_eval = F.col("doc_id") % 50 == 0
    is_del = (~is_eval) & (F.col("doc_id") % 7 == 3)
    build_base_plus_delta(
        path,
        lambda: _write_minhash_index(sigs.filter(~is_eval), path, "overwrite"),
        lambda: delete_from_minhash_index(spark, path, sigs.filter(is_del)),
    )
    return _probe_minhash_index(spark, sf_dir, sigs, path)


#: ``cross_dedup_minhash``'s oracle over the reduced corpus: the train
#: side additionally excludes the deleted split. The probe/verify
#: chain is otherwise identical — deleted docs cannot be candidates,
#: every surviving pair must still be found.
MINHASH_DELETE_ORACLE = f"""
WITH sigs AS ({_SIG_SQL}),
bands AS (
  SELECT doc_id, b AS band_id, {T.band_key_sql('sig', 'b')} AS band_key
  FROM sigs, generate_series(0, {T.LSH_BANDS - 1}) AS g(b)
),
eb AS (SELECT doc_id AS doc_eval, band_id, band_key FROM bands WHERE doc_id % 50 = 0),
tb AS (SELECT doc_id AS doc_train, band_id, band_key FROM bands
       WHERE doc_id % 50 <> 0 AND doc_id % 7 <> 3),
cand AS (SELECT DISTINCT doc_train, doc_eval FROM tb JOIN eb USING (band_id, band_key)),
j AS (
  SELECT c.doc_eval, {round_sql(T.exact_jaccard_sql('st.s', 'se.s'), 6)} AS jac
  FROM cand c
  JOIN sigs st ON st.doc_id = c.doc_train
  JOIN sigs se ON se.doc_id = c.doc_eval
),
per_eval AS (
  SELECT doc_eval, count(*) AS n_candidates,
         CAST(sum(CASE WHEN jac >= {T.JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_near_dups,
         max(jac) AS max_jaccard
  FROM j GROUP BY 1
)
SELECT e.doc_eval,
       coalesce(p.n_candidates, 0) AS n_candidates,
       coalesce(p.n_near_dups, 0) AS n_near_dups,
       coalesce(p.max_jaccard, 0.0) AS max_jaccard
FROM (SELECT doc_id AS doc_eval FROM documents WHERE doc_id % 50 = 0) e
LEFT JOIN per_eval p USING (doc_eval)
"""


# --- IVF (embedding) deletion -------------------------------------------------

def delete_from_ivf_index(
    spark: SparkSession, path: str, del_vecs: DataFrame
) -> int:
    """Remove ``del_vecs`` (rows with ``vec_id``, ``_v``) from the
    persisted cell-partitioned IVF index at ``path``. The PERSISTED
    quantizer assigns the deletion set to cells (the same kernel that
    placed them — assignment and deletion cannot disagree), naming
    the affected ``cell=N`` dirs; the shared per-partition core does
    the rest. The quantizer itself is untouched: it is O(K·d) MODEL
    state (like a trained model's weights), and deletion removes the
    DATA — a deleted vector can no longer surface as a neighbor, even
    when its values once seeded a centroid."""
    from psd_project_spark.functions import vectors as V
    from psd_project_spark.operators.index_compact import list_partitions
    from psd_project_spark.operators.similarity import (
        _read_ivf_quantizer,
    )

    codebook, cb_ids = _read_ivf_quantizer(spark, path)
    assigned = del_vecs.select("vec_id", "_v").mapInPandas(
        V.make_cell_assign_kernel(codebook, cb_ids),
        schema="vec_id long, cell long, _v array<double>",
    )
    affected = sorted(
        int(r["cell"]) for r in assigned.select("cell").distinct().collect()
    )
    present = list_partitions(path)
    dirs = [f"cell={c}" for c in affected if f"cell={c}" in present]
    del_ids = del_vecs.select("vec_id").distinct()
    return _delete_partitions(
        spark,
        path,
        dirs,
        "vec_id long, _v array<double>, cell long",
        del_ids,
        "vec_id",
        ["cell"],
    )


def ivf_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding right-to-be-forgotten: build the full IVF index
    (``overwrite`` + quantizer persist), DELETE the takedown set
    (``vec_id % 7 == 3``) via per-cell rewrites, then probe. Oracle:
    the in-memory IVF query over the REDUCED corpus — centroids and
    query vectors unchanged (both are model-state inputs, not index
    rows), candidates drawn only from surviving vectors — so a
    hash-match proves **build + delete + probe ≡
    rebuild-without-the-deleted** at the driver."""
    from psd_project_spark.operators.index_compact import (
        build_base_plus_delta,
    )
    from psd_project_spark.operators.similarity import (
        _embeddings,
        _ivf_codebook,
        _ivf_index_dir,
        _probe_ivf_index,
        _write_ivf_index,
    )

    e = _embeddings(spark, sf_dir)
    path = _ivf_index_dir(sf_dir) + "_gdpr"
    is_del = F.col("vec_id") % 7 == 3
    codebook, cb_ids = _ivf_codebook(e)
    build_base_plus_delta(
        path,
        lambda: _write_ivf_index(
            spark, e, path, "overwrite", codebook, cb_ids
        ),
        lambda: delete_from_ivf_index(spark, path, e.filter(is_del)),
    )
    return _probe_ivf_index(spark, e, path)


def _ivf_delete_oracle() -> str:
    """``IVF_ORACLE`` over the reduced corpus: the ``cells``
    (candidate) side excludes the deleted split; centroid pick and
    probe set are unchanged (model state)."""
    from psd_project_spark.operators.similarity import IVF_ORACLE

    needle = "  SELECT vec_id, v, cid FROM ranked WHERE crank = 1\n"
    assert needle in IVF_ORACLE
    return IVF_ORACLE.replace(
        needle,
        "  SELECT vec_id, v, cid FROM ranked\n"
        "  WHERE crank = 1 AND vec_id % 7 <> 3\n",
    )


# --- anchor-index (ExactSubstr) deletion --------------------------------------

def delete_from_substr_index(
    spark: SparkSession, path: str, del_docs: DataFrame
) -> int:
    """Remove ``del_docs`` (rows with ``doc_id``, ``text``) from the
    persisted k-gram anchor index at ``path``
    (operators/exact_substr.py's bucket-partitioned layout). The
    deleted docs' own anchors name the affected ``bucket=B`` dirs —
    recomputed with the index's hash, exactly as the build placed them
    — and the shared per-partition core anti-joins the doc ids away.
    Anchors SHARED with surviving documents survive (deletion is by
    doc_id, not by anchor string): the takedown removes the document's
    rows, never other documents' evidence."""
    from psd_project_spark.operators.exact_substr import (
        _SUBSTR_INDEX_SCHEMA,
        _anchor_positions,
        _with_anchor_bucket,
    )
    from psd_project_spark.operators.index_compact import list_partitions

    del_anchors = _with_anchor_bucket(_anchor_positions(del_docs))
    affected = sorted(
        int(r["bucket"])
        for r in del_anchors.select("bucket").distinct().collect()
    )
    present = list_partitions(path)
    dirs = [f"bucket={b}" for b in affected if f"bucket={b}" in present]
    del_ids = del_docs.select("doc_id").distinct()
    return _delete_partitions(
        spark,
        path,
        dirs,
        _SUBSTR_INDEX_SCHEMA,
        del_ids,
        "doc_id",
        ["bucket"],
    )


def substr_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchor index's right-to-be-forgotten — the last persisted
    index kind without the delete verb: build the full train anchor
    index, DELETE the takedown set (train docs with ``doc_id % 7 ==
    3``) via per-bucket rewrites, then run the manifest-pruned eval
    probe over the reduced roster. Oracle: the substring
    decontamination screen over the REDUCED corpus (train side
    excludes the takedown split in both the hit join and the roster),
    so a hash-match proves **build + delete + probe ≡
    rebuild-without-the-deleted** — no deleted document can be
    reported as contaminated (it is gone), and surviving documents'
    spans are untouched.

    Durability rides :func:`build_base_plus_delta` with the deletion
    as the second mutation (marker strictly last). At 100 TB: deletion
    cost tracks the deleted docs' anchor volume (≤ |delete set| ×
    anchors-per-doc rows naming ≤ SUBSTR_INDEX_BUCKETS dirs), never
    the index size."""
    from psd_project_spark.operators.exact_substr import (
        _anchor_positions,
        _probe_substr_index,
        _substr_index_dir,
        _write_substr_index,
        spread_small,
    )
    from psd_project_spark.operators.index_compact import (
        build_base_plus_delta,
    )

    docs = spread_small(load_table(spark, sf_dir, "documents"), spark)
    path = _substr_index_dir(sf_dir) + "_del"
    is_eval = F.col("doc_id") % 50 == 0
    is_del = (~is_eval) & (F.col("doc_id") % 7 == 3)
    anchors = _anchor_positions(docs)
    build_base_plus_delta(
        path,
        lambda: _write_substr_index(
            anchors.filter(~is_eval), path, "overwrite"
        ),
        lambda: delete_from_substr_index(spark, path, docs.filter(is_del)),
    )
    # the reduced roster: evals untouched (is_del excludes them), the
    # takedown split gone from both the report and the zero rows
    return _probe_substr_index(spark, docs.filter(~is_del), path)


def _substr_delete_oracle() -> str:
    """``DECONTAMINATE_SUBSTR_ORACLE`` over the reduced corpus: the
    takedown split leaves the hit join's train side AND the per-doc
    roster; the eval anchor set is unchanged."""
    from psd_project_spark.operators.exact_substr import (
        DECONTAMINATE_SUBSTR_ORACLE,
    )

    hit = "  WHERE a.doc_id % 50 <> 0\n"
    roster = "WHERE d.doc_id % 50 <> 0\n"
    assert hit in DECONTAMINATE_SUBSTR_ORACLE
    assert roster in DECONTAMINATE_SUBSTR_ORACLE
    return DECONTAMINATE_SUBSTR_ORACLE.replace(
        hit, "  WHERE a.doc_id % 50 <> 0 AND a.doc_id % 7 <> 3\n"
    ).replace(roster, "WHERE d.doc_id % 50 <> 0 AND d.doc_id % 7 <> 3\n")


# --- streaming deletion (the online right-to-be-forgotten) -------------------

def _delete_batch_fn(path: str):
    """The per-epoch deletion as a ``foreachBatch`` callable (factored
    so tests can replay an epoch — crash-recovery's double-delivery —
    through the identical code the registry query runs). Each epoch
    re-enters the index writer lock (the wrapping lifecycle already
    holds it), recomputes the arriving documents' signatures (cost
    tracks the epoch, not the index), and applies the shared
    per-partition delete core.

    Deletion needs NO epoch-staging machinery (the append stream's
    ``epoch={N}`` overwrite layout, exact_substr.py:855): it is
    idempotent BY SEMANTICS. A replayed epoch re-derives the same
    affected ``(band_id, bucket)`` set, intersects it with the live
    manifest (dirs its first delivery emptied are simply absent), and
    anti-joins ids that are already gone — a no-op rewrite of the
    surviving rows. Double delivery cannot over-delete (the delete set
    is explicit ids, not a predicate over state) or resurrect rows."""

    def delete_batch(batch: DataFrame, batch_id: int) -> None:
        from psd_project_spark.durable import single_writer

        sigs_b = _with_signatures(batch, batch.sparkSession)
        with single_writer(path):
            delete_from_minhash_index(batch.sparkSession, path, sigs_b)

    return delete_batch


def stream_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete verb's ONLINE half — takedown requests arriving as a
    stream: build the full train index, then consume the takedown set
    (train docs with ``doc_id % 7 == 3``, split into 3 real epochs) in
    ``foreachBatch``, each epoch deleting its documents' rows via
    per-partition rewrites, then probe with the eval split. The oracle
    is :data:`MINHASH_DELETE_ORACLE` VERBATIM — the screen over the
    reduced corpus — so a hash-match proves **streamed deletion epochs
    ≡ one-shot rebuild-without-the-deleted**: with this, every index
    lifecycle verb (build, append, compact, probe, delete) has both a
    batch and a streaming form.

    Durability rides the shared :func:`build_base_plus_delta` protocol
    with the WHOLE stream as the delta phase: the completion marker
    lands strictly after the last epoch commits, so a crash mid-stream
    leaves a directory that fails the gate and rebuilds — a
    half-applied takedown can never serve. Within the stream,
    checkpointed offsets + semantic idempotency (see
    :func:`_delete_batch_fn`) make epoch replay safe.

    At 100 TB: per-epoch cost is the epoch's band volume (|epoch| ×
    LSH_BANDS dirs at most, manifest-intersected) — takedown
    throughput tracks the request rate, never the index size."""
    from psd_project_spark.functions.caching import scratch_dir
    from psd_project_spark.operators.index_compact import (
        build_base_plus_delta,
    )
    from psd_project_spark.streaming.foreach_sink import (
        epoch_stream,
        run_stream,
        stage_stream_splits,
    )

    path = _minhash_index_dir(sf_dir) + "_sdel"
    docs = load_table(spark, sf_dir, "documents")
    sigs = transient_cache(_with_signatures(docs, spark))
    is_eval = F.col("doc_id") % 50 == 0
    is_del = (~is_eval) & (F.col("doc_id") % 7 == 3)

    def run_deletion_stream() -> None:
        src = scratch_dir("minhash_sdel_src_")
        # 3 REAL takedown epochs: ids are 7k+3, so ((id-3) % 21) DIV 7
        # = k % 3 walks 0,1,2 across consecutive takedown docs
        # (stage_stream_splits's explicit filtered writes — hash
        # repartition would collide the 3-residue domain)
        stage_stream_splits(
            docs.filter(is_del).select("doc_id", "text"),
            F.expr("((doc_id - 3) % 21) DIV 7"),
            src,
        )
        arriving = epoch_stream(spark, src, "doc_id long, text string")
        run_stream(
            arriving,
            _delete_batch_fn(path),
            scratch_dir("minhash_sdel_ckpt_"),
            state_partitions=None,
        )

    build_base_plus_delta(
        path,
        lambda: _write_minhash_index(sigs.filter(~is_eval), path, "overwrite"),
        run_deletion_stream,
    )
    return _probe_minhash_index(spark, sf_dir, sigs, path)


QUERIES = {
    "minhash_index_delete": (minhash_index_delete, MINHASH_DELETE_ORACLE),
    "ivf_index_delete": (ivf_index_delete, _ivf_delete_oracle()),
    "substr_index_delete": (substr_index_delete, _substr_delete_oracle()),
    "stream_index_delete": (stream_index_delete, MINHASH_DELETE_ORACLE),
}
