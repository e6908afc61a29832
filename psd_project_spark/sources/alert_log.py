"""Alert-log text sink + re-parsing source (reference S4/S6 as a
custom Python DataSource with a commit protocol).

The reference "persists" alerts by printing Flink tuples to stdout
(``dataStream.print()``, StreamingJob.java:439) and later re-parses
the captured text by string slicing (postProcessing/load.py:15-26).
This module recreates that wire format as a *real* sink:

- ``df.write.format("psd_alert_log").option("path", dir)`` writes one
  text file per partition with lines
  ``(seq,measure,user_id,measure_value,ref_value)`` — the reference's
  tuple text, extended with the reference stat, floats in
  ``repr`` form so the round-trip is bit-exact.
- Task outputs land as ``_tmp-*`` files; the driver-side ``commit``
  renames them to ``part-NNNNN.txt`` and writes a ``_SUCCESS``
  manifest, ``abort`` removes the temporaries — the same
  task-attempt/commit discipline Spark's own FileCommitProtocol
  applies (on a cluster the rename step becomes an object-store
  manifest commit; the message flow is identical).
- ``spark.read.format("psd_alert_log")`` lists the manifest and
  re-parses one file per input partition (S6's parser, distributed).

``alert_log_roundtrip`` stages the batch alert stream through this
format and re-aggregates the PARSED text; its DuckDB oracle recomputes
the same aggregate from the raw parquet tables — green means the
sink/parser loop is lossless down to the last bit of every double.
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from psd_project_spark import durable
from psd_project_spark.functions.caching import cache_dir
from psd_project_spark.functions.exact import exact_sum, exact_sum_sql, round_sql

_SCHEMA_DDL = (
    "seq long, measure string, user_id long, measure_value double, "
    "ref_value double"
)


@dataclass
class _FileCommit(WriterCommitMessage):
    tmp_path: str
    rows: int


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _manifest(path: str) -> list[list[str]]:
    """A committed manifest's ``[part name, rows]`` entries (one
    ``name\trows`` line each); ``[]`` when there is none."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [line.rstrip("\n").split("\t") for line in fh if line.strip()]


class _PartWriter:
    """The task-side part write and the driver-side commit and abort
    that the batch and the stream writer share."""

    path: str

    def write(self, rows: Iterator) -> _FileCommit:
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}.txt")
        n = 0
        with open(tmp, "w") as fh:
            for r in rows:
                fh.write(
                    f"({r.seq},{r.measure},{r.user_id},"
                    f"{r.measure_value!r},{r.ref_value!r})\n"
                )
                n += 1
        return _FileCommit(tmp, n)

    def _commit(
        self, messages: list[_FileCommit], manifest_name: str,
        part_name: str, keep_prior: bool,
    ) -> None:
        """The parts the manifest already names are kept
        (``keep_prior``: batch append) or deleted (batch overwrite,
        replayed stream epoch) BEFORE the task outputs are renamed to
        ``part_name.format(i)`` — a replayed epoch reuses its part
        names — then the manifest is published naming both."""
        manifest = os.path.join(self.path, manifest_name)
        entries = _manifest(manifest)
        if not keep_prior:
            for name, _rows in entries:
                stale = os.path.join(self.path, name)
                if os.path.exists(stale):
                    os.remove(stale)
            entries = []
        for i, m in enumerate(messages):
            name = part_name.format(i)
            os.replace(m.tmp_path, os.path.join(self.path, name))
            entries.append([name, m.rows])
        durable.publish(manifest, "".join(f"{n}\t{r}\n" for n, r in entries))

    def abort(
        self, messages: list[_FileCommit], batchId: int | None = None
    ) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class AlertLogWriter(_PartWriter, DataSourceWriter):
    """Batch writer with real append/overwrite semantics.

    Final part names carry a per-job uuid, so a second ``append`` job
    into the same directory can never clobber an earlier job's parts;
    the ``_SUCCESS`` manifest is merged (append) or replaced with the
    prior job's parts deleted (overwrite) — both via atomic rename.
    """

    def __init__(self, options, overwrite: bool = False):
        self.path = options["path"]
        self.overwrite = overwrite
        self.job_id = uuid.uuid4().hex[:12]

    def commit(self, messages: list[_FileCommit]) -> None:
        self._commit(
            messages, "_SUCCESS", f"part-{self.job_id}-{{:05d}}.txt",
            keep_prior=not self.overwrite,
        )


class AlertLogStreamWriter(_PartWriter, DataSourceStreamWriter):
    """Epoch-keyed variant for ``writeStream``: each micro-batch
    commits a ``_SUCCESS-epoch-N`` manifest naming that epoch's files.
    A REPLAYED epoch (failure between sink write and checkpoint
    commit) deletes the previous attempt's files and replaces the
    manifest — the sink is idempotent per epoch, which is exactly the
    foreachBatch discipline, expressed at the DataSource API level."""

    def __init__(self, options):
        self.path = options["path"]

    def commit(self, messages: list[_FileCommit], batchId: int) -> None:
        self._commit(
            messages, f"_SUCCESS-epoch-{batchId}",
            f"epoch-{batchId}-part-{{:05d}}.txt", keep_prior=False,
        )


class AlertLogReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]

    def partitions(self) -> list[InputPartition]:
        # committed manifests only: a torn publish's tmp file is never
        # one (its name does not match)
        return [
            _FilePartition(os.path.join(self.path, name))
            for entry in sorted(os.listdir(self.path))
            if re.fullmatch(r"_SUCCESS(-epoch-\d+)?", entry)
            for name, _rows in _manifest(os.path.join(self.path, entry))
        ]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        with open(partition.path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                seq, measure, user_id, mv, rv = line[1:-1].split(",")
                yield (int(seq), measure, int(user_id), float(mv), float(rv))


class AlertLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "psd_alert_log"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def reader(self, schema: StructType) -> AlertLogReader:
        return AlertLogReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> AlertLogWriter:
        return AlertLogWriter(self.options, overwrite=overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> AlertLogStreamWriter:
        return AlertLogStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(AlertLogDataSource)


# --- round-trip registry query ----------------------------------------------

def _stage_dir(sf_dir: str) -> str:
    return cache_dir(sf_dir, "events", "alert_log")


def alert_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alerts → reference-format text sink → distributed re-parse →
    per-(series, measure) aggregate. The oracle recomputes the same
    aggregate straight from parquet, so every float must survive the
    print/parse cycle bit-exactly."""
    from psd_project_spark.operators.risk import alerts_batch

    register(spark)
    out = _stage_dir(sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            alerts_batch(spark, sf_dir)
            .select("seq", "measure", "user_id", "measure_value", "ref_value")
            .write.format("psd_alert_log")
            .option("path", out)
            .mode("append")
            .save()
        )
    parsed = spark.read.format("psd_alert_log").option("path", out).load()
    return (
        parsed.groupBy("user_id", "measure")
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.round(exact_sum(F.col("measure_value")), 6).alias("sum_value"),
        )
        .orderBy("user_id", "measure")
    )


def _roundtrip_oracle() -> str:
    from psd_project_spark.operators.risk import _alerts_oracle

    return f"""
WITH alerts AS ({_alerts_oracle()})
SELECT user_id, measure,
       count(*) AS n_alerts,
       {round_sql(exact_sum_sql("measure_value"), 6)}
         AS sum_value
FROM alerts
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "alert_log_roundtrip": (alert_log_roundtrip, _roundtrip_oracle()),
}
