"""Round-7 mid-round additions: the decontamination CUT (apply
stage), the streaming crawl screen (per-epoch probe of the persisted
anchor index), and the streaming ANN search (per-epoch probe of the
persisted vector index). Oracle parity plus the properties the
oracles can't see: cut/screen mass consistency, multi-epoch union
equivalence, and epoch replay idempotency.
"""

import pandas as pd

from tests.conftest import SF_DIR
from tests.oracle_utils import compare_frames, duck_connection


def _words(prefix, n, start=0):
    return " ".join(f"{prefix}{i}" for i in range(start, start + n))


# --- decontaminate_cut -------------------------------------------------------


def test_decontaminate_cut_oracle_parity(spark):
    from psd_project_spark.operators.exact_substr import (
        DECONTAMINATE_CUT_ORACLE,
        decontaminate_cut,
    )

    got = decontaminate_cut(spark, SF_DIR).toPandas()
    want = duck_connection(SF_DIR).execute(DECONTAMINATE_CUT_ORACLE).fetchdf()
    compare_frames(got, want)


def test_cut_mass_equals_screen_leak(spark):
    """The cut removes exactly the token mass the screen reported:
    per-doc ``n_tokens_cut`` ≡ ``leaked_tokens`` (same spans, one
    computed as a report, one applied as a removal)."""
    from psd_project_spark.operators.exact_substr import (
        decontaminate_cut,
        decontaminate_substr,
    )

    rep = (
        decontaminate_substr(spark, SF_DIR)
        .select("doc_id", "leaked_tokens")
        .toPandas()
        .set_index("doc_id")
    )
    cut = (
        decontaminate_cut(spark, SF_DIR)
        .select("doc_id", "n_tokens_cut")
        .toPandas()
        .set_index("doc_id")
    )
    j = rep.join(cut)
    assert len(j) == len(rep) == len(cut)
    assert (j["leaked_tokens"] == j["n_tokens_cut"]).all()


def test_decontaminate_cut_planted(spark):
    """A train doc sharing a 12-token span with an eval doc loses
    exactly that span; an untouched train doc survives verbatim."""
    from psd_project_spark.operators.exact_substr import (
        _anchor_positions,
        _apply_cut,
        _islands,
    )
    from pyspark.sql import functions as F

    shared = _words("leak", 12)
    clean = _words("clean", 30)
    rows = [
        # doc 50 plays the eval role (doc_id % 50 == 0 in the real op;
        # here we wire the split by hand through the same helpers)
        (50, _words("e", 5) + " " + shared),
        (1, _words("a", 9) + " " + shared + " " + _words("b", 9)),
        (2, clean),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    anchors = _anchor_positions(docs)
    is_eval = F.col("doc_id") == 50
    ev = anchors.filter(is_eval).select("anchor").distinct()
    flagged = (
        anchors.filter(~is_eval)
        .join(F.broadcast(ev), "anchor")
        .select("doc_id", "n_tokens", "pos")
    )
    out = (
        _apply_cut(docs.filter(~is_eval), _islands(flagged))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "n_tokens_cut"] == 12
    assert out.loc[1, "clean_text"] == _words("a", 9) + " " + _words("b", 9)
    assert out.loc[2, "n_tokens_cut"] == 0
    assert out.loc[2, "clean_text"] == clean


# --- stream_crawl_screen -----------------------------------------------------


def test_stream_crawl_screen_oracle_parity(spark):
    from psd_project_spark.operators.exact_substr import (
        STREAM_CRAWL_SCREEN_ORACLE,
        stream_crawl_screen,
    )

    got = stream_crawl_screen(spark, SF_DIR).toPandas()
    want = (
        duck_connection(SF_DIR).execute(STREAM_CRAWL_SCREEN_ORACLE).fetchdf()
    )
    compare_frames(got, want)


def _mini_index(spark, tmp_path, train_docs):
    """Build a manifest-backed anchor index from a synthetic train
    corpus (the probe machinery under test; the full build lifecycle
    has its own fault-injection suite)."""
    from psd_project_spark.operators.exact_substr import (
        _anchor_positions,
        _write_substr_index,
    )
    from psd_project_spark.operators.index_compact import (
        list_partitions,
        write_partition_manifest,
    )

    path = str(tmp_path / "anchor_index")
    _write_substr_index(_anchor_positions(train_docs), path, "overwrite")
    write_partition_manifest(path)
    return path, list_partitions(path)


def test_stream_crawl_screen_multi_epoch(spark, tmp_path):
    """Three arriving files → three epochs through the IDENTICAL
    foreachBatch callable the registry query runs; the union of epoch
    outputs equals the one-shot batch mirror screen."""
    from psd_project_spark.operators.exact_substr import (
        _anchor_positions,
        _leak_report,
        _screen_batch_fn,
    )
    from psd_project_spark.streaming.foreach_sink import run_stream
    from pyspark.sql import functions as F

    shared = _words("dup", 15)
    train_rows = [
        (1, _words("t", 20) + " " + shared),
        (2, _words("u", 40)),
    ]
    arriving_rows = [
        (101, _words("x", 6) + " " + shared + " " + _words("y", 6)),
        (102, _words("novel", 25)),
        (103, shared + " " + _words("z", 10)),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    path, present = _mini_index(spark, tmp_path, train)

    src = str(tmp_path / "arrivals")
    for i, row in enumerate(arriving_rows):
        spark.createDataFrame([row], "doc_id long, text string").coalesce(
            1
        ).write.parquet(f"{src}/f{i}")
    out = str(tmp_path / "screen_out")
    ckpt = str(tmp_path / "ckpt")
    arriving = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    run_stream(arriving, _screen_batch_fn(path, present, out), ckpt,
         state_partitions=None)

    got = (
        spark.read.parquet(out)
        .drop("batch_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(spark.read.parquet(out).select("batch_id").distinct().collect()) == 3

    # one-shot mirror screen over the same synthetic corpus
    arr = spark.createDataFrame(arriving_rows, "doc_id long, text string")
    an_t = _anchor_positions(train).select("anchor").distinct()
    an_a = _anchor_positions(arr)
    flagged = an_a.join(F.broadcast(an_t), "anchor").select(
        "doc_id", "n_tokens", "pos"
    )
    from psd_project_spark.functions import text as T

    roster = arr.select(
        "doc_id", F.size(F.expr(T.tokens_expr())).alias("n_tokens")
    )
    want = (
        _leak_report(flagged, roster)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the planted span is found, the novel doc reports zeros
    byid = got.set_index("doc_id")
    assert byid.loc[101, "leaked_tokens"] == 15
    assert byid.loc[103, "leaked_tokens"] == 15
    assert byid.loc[102, "leaked_tokens"] == 0


def test_screen_batch_replay_idempotent(spark, tmp_path):
    """A replayed epoch (same batch_id) overwrites its own directory —
    rows are not duplicated (the run_foreachbatch_append contract,
    held by the screen's per-epoch writer)."""
    from psd_project_spark.operators.exact_substr import (
        _anchor_positions,
        _screen_batch_fn,
    )

    train = spark.createDataFrame(
        [(1, _words("t", 10) + " " + _words("dup", 12))],
        "doc_id long, text string",
    )
    path, present = _mini_index(spark, tmp_path, train)
    out = str(tmp_path / "screen_out")
    batch = spark.createDataFrame(
        [(101, _words("dup", 12) + " " + _words("x", 5))],
        "doc_id long, text string",
    )
    fn = _screen_batch_fn(path, present, out)
    fn(batch, 0)
    fn(batch, 0)  # replay
    got = spark.read.parquet(out)
    assert got.count() == 1


# --- stream_ann_search -------------------------------------------------------


def test_stream_ann_search_oracle_parity(spark):
    from psd_project_spark.operators.similarity import (
        ANN_INDEX_ORACLE,
        stream_ann_search,
    )

    got = stream_ann_search(spark, SF_DIR).toPandas()
    want = duck_connection(SF_DIR).execute(ANN_INDEX_ORACLE).fetchdf()
    compare_frames(got, want)


def test_stream_ann_search_multi_epoch(spark, tmp_path):
    """Queries split across three files → three epochs through the
    IDENTICAL foreachBatch callable; the union of epoch outputs equals
    the one-shot batch probe of the same index."""
    from psd_project_spark.operators.similarity import (
        N_QUERIES,
        _embeddings,
        _ensure_ann_index,
        _probe_ann_index,
        _search_batch_fn,
    )
    from psd_project_spark.streaming.foreach_sink import run_stream

    e = _embeddings(spark, SF_DIR)
    path = _ensure_ann_index(SF_DIR, e)

    src = str(tmp_path / "queries")
    qrows = e.filter(f"vec_id < {N_QUERIES}").select("vec_id", "_v").collect()
    assert len(qrows) == N_QUERIES
    for i, r in enumerate(qrows[:3]):
        chunk = [
            (int(x["vec_id"]), list(map(float, x["_v"])))
            for x in ([r] if i < 2 else qrows[2:])
        ]
        spark.createDataFrame(
            chunk, "vec_id long, _v array<double>"
        ).coalesce(1).write.parquet(f"{src}/f{i}")
    out = str(tmp_path / "ann_out")
    ckpt = str(tmp_path / "ckpt")
    arriving = (
        spark.readStream.schema("vec_id long, _v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    run_stream(arriving, _search_batch_fn(e, path, out), ckpt,
         state_partitions=None)
    got = (
        spark.read.parquet(out)
        .drop("batch_id")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert (
        len(spark.read.parquet(out).select("batch_id").distinct().collect())
        == 3
    )
    want = (
        _probe_ann_index(spark, e, path)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
