"""A persisted cache must never outlive its source data.

Each query below writes its input once to a persisted dir and reuses
it behind a ``_SUCCESS`` gate. Regenerating the source table in place
(same path, one column doubled) must send the rerun to a fresh dir, so
the result matches the DuckDB oracle over the NEW data.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR
from tests.oracle_utils import check_query_vs_oracle

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.mark.parametrize(
    "query, table, column",
    [
        ("events_jsonl_source", "events", "value"),
        # reports per-shard counts and users, not values: double the
        # shard key instead, so every row lands in an even shard
        ("training_shard_export", "events", "user_id"),
        ("partitioned_parquet_roundtrip", "lineitem", "l_extendedprice"),
    ],
)
def test_rerun_after_in_place_regeneration_sees_new_data(
    spark, tmp_path, monkeypatch, query, table, column
):
    cache_root = tmp_path / "tmp"
    cache_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(cache_root))
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")

    check_query_vs_oracle(spark, query, str(sf))

    src = str(sf / f"{table}.parquet")
    data = pq.read_table(src)
    i = data.schema.get_field_index(column)
    doubled = pc.multiply(data[column], pa.scalar(2, data[column].type))
    data = data.set_column(i, column, doubled)
    os.remove(src)
    pq.write_table(data, src)

    check_query_vs_oracle(spark, query, str(sf))
