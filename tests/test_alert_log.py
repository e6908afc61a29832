"""Alert-log DataSource: commit protocol and parser fidelity.
Value-level round-trip correctness is the alert_log_roundtrip golden
check in test_oracle_parity (parsed text vs raw-parquet oracle)."""

import os

from psd_project_spark.sources import alert_log
from tests.conftest import SF_DIR


def test_write_commit_layout_and_reparse(spark, tmp_path):
    alert_log.register(spark)
    df = spark.createDataFrame(
        [
            (1, "mean", 7, 0.0123456789012345, -0.001),
            (2, "sm2", 8, -0.09999404883965363, 0.25),
        ],
        alert_log._SCHEMA_DDL,
    )
    out = str(tmp_path / "log")
    df.write.format("psd_alert_log").option("path", out).mode("append").save()

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    assert not [n for n in names if n.startswith("_tmp-")], "tmp files leak"
    parts = [n for n in names if n.startswith("part-")]
    assert parts

    # wire format is the reference's tuple text
    lines = []
    for p in parts:
        lines += open(os.path.join(out, p)).read().splitlines()
    assert sorted(lines)[0].startswith("(") and sorted(lines)[0].endswith(")")

    back = (
        spark.read.format("psd_alert_log").option("path", out).load().collect()
    )
    assert sorted(map(tuple, back)) == sorted(map(tuple, df.collect()))


def test_append_appends_and_overwrite_replaces(spark, tmp_path):
    """Two append jobs into one directory must keep both jobs' rows
    (per-job uuid part names, merged manifest); a subsequent overwrite
    job must drop every prior part and leave only its own."""
    alert_log.register(spark)
    out = str(tmp_path / "log")
    a = spark.createDataFrame(
        [(1, "mean", 7, 0.5, 0.1)], alert_log._SCHEMA_DDL
    )
    b = spark.createDataFrame(
        [(2, "sm1", 8, 0.25, 0.2), (3, "sm2", 9, 0.125, 0.3)],
        alert_log._SCHEMA_DDL,
    )
    a.write.format("psd_alert_log").option("path", out).mode("append").save()
    b.write.format("psd_alert_log").option("path", out).mode("append").save()
    back = spark.read.format("psd_alert_log").option("path", out).load()
    assert back.count() == 3
    assert sorted(r["seq"] for r in back.collect()) == [1, 2, 3]

    c = spark.createDataFrame(
        [(9, "mean", 1, 1.0, 1.0)], alert_log._SCHEMA_DDL
    )
    c.write.format("psd_alert_log").option("path", out).mode(
        "overwrite"
    ).save()
    back2 = spark.read.format("psd_alert_log").option("path", out).load()
    assert [r["seq"] for r in back2.collect()] == [9]
    # no orphaned parts left behind on disk
    manifest = {
        line.split("\t")[0]
        for line in open(os.path.join(out, "_SUCCESS"))
        if line.strip()
    }
    on_disk = {n for n in os.listdir(out) if n.startswith("part-")}
    assert on_disk == manifest


def test_stream_writer_epochs_and_replay_idempotence(spark, tmp_path):
    """writeStream through the sink: epoch manifests land per
    micro-batch, a restart with the same checkpoint adds nothing, and
    a manually replayed epoch REPLACES its files instead of
    duplicating (the exactly-once sink contract)."""
    import pyspark.sql.functions as F

    from psd_project_spark.sources.registry import load_table

    alert_log.register(spark)
    out, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
    src_dir = str(tmp_path / "events_src")
    events = load_table(spark, SF_DIR, "events").limit(200)
    sel = events.select(
        F.col("event_id").alias("seq"),
        F.col("event_type").alias("measure"),
        "user_id",
        F.col("value").alias("measure_value"),
        F.lit(0.0).alias("ref_value"),
    )
    sel.write.mode("overwrite").parquet(src_dir)

    def run():
        q = (
            spark.readStream.schema(sel.schema)
            .parquet(src_dir)
            .writeStream.format("psd_alert_log")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    first = sorted(os.listdir(out))
    assert any(n.startswith("_SUCCESS-epoch-") for n in first)
    n1 = spark.read.format("psd_alert_log").option("path", out).load().count()
    assert n1 == 200

    run()  # restart, no new data: nothing changes
    assert sorted(os.listdir(out)) == first
    assert (
        spark.read.format("psd_alert_log").option("path", out).load().count()
        == 200
    )

    # manual replay of epoch 0 with different rows: replaced, not added
    w = alert_log.AlertLogStreamWriter({"path": out})
    msg = w.write(iter(sel.limit(10).collect()))
    w.commit([msg], 0)
    n2 = spark.read.format("psd_alert_log").option("path", out).load().count()
    assert n2 == 10


def test_roundtrip_is_bit_exact_on_real_alerts(spark):
    from psd_project_spark.operators.risk import alerts_batch
    from psd_project_spark.sources.alert_log import alert_log_roundtrip

    got = {
        (r["user_id"], r["measure"]): (r["n_alerts"], r["sum_value"])
        for r in alert_log_roundtrip(spark, SF_DIR).collect()
    }
    import pyspark.sql.functions as F

    direct = {
        (r["user_id"], r["measure"]): (r["n_alerts"], r["sum_value"])
        for r in alerts_batch(spark, SF_DIR)
        .groupBy("user_id", "measure")
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.round(
                F.sum(F.col("measure_value").cast("decimal(27,15)")).cast(
                    "double"
                ),
                6,
            ).alias("sum_value"),
        )
        .collect()
    }
    assert got == direct and len(got) > 0


def test_reader_skips_a_torn_epoch_manifest(tmp_path):
    """A crash between an epoch manifest's write and its rename leaves
    ``_SUCCESS-epoch-1.tmp`` beside the committed epoch 0: only
    committed manifests may name parts to read."""
    (tmp_path / "epoch-0-part-00000.txt").write_text("(1,mean,7,0.5,0.1)\n")
    (tmp_path / "_SUCCESS-epoch-0").write_text("epoch-0-part-00000.txt\t1\n")
    (tmp_path / "_SUCCESS-epoch-1.tmp").write_text("epoch-1-par")
    parts = alert_log.AlertLogReader({"path": str(tmp_path)}).partitions()
    assert [p.path for p in parts] == [str(tmp_path / "epoch-0-part-00000.txt")]
