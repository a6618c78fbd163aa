"""Driver-built frames are JVM-local relations.

``session.local_frame`` hands its rows to Spark as an Arrow table, so no
action on the frame starts a Python worker; the checkpoint status rows and
the empty checkpoint frames go through it.  A ``PythonRDD`` in a frame's
physical lineage is the mark of a list handed to ``createDataFrame``."""
import datetime as dt
import time

import pytest
from pyspark.sql import DataFrameWriter, Row, types as T

from extractor.checkpoint import (
    CHECKPOINT_SCHEMA,
    _completed_buckets,
    _record,
    job_status,
)
from extractor.session import local_frame


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _status_rows(n, error=None):
    return [(b, "s1", "completed", 3, time.time(), error) for b in range(n)]


def test_record_writes_a_jvm_local_frame(spark, tmp_path, monkeypatch):
    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        written.append(self._df)
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    _record(spark, str(tmp_path / "ckpt"), _status_rows(8))
    assert len(written) == 1
    assert "PythonRDD" not in _lineage(written[0])


@pytest.mark.parametrize("read", ["completed_buckets", "job_status"])
def test_empty_checkpoint_frames_are_jvm_local(spark, tmp_path, read):
    ckpt = str(tmp_path / "no-such-ckpt")
    if read == "completed_buckets":
        df = _completed_buckets(spark, ckpt, "s1")
    else:
        df = job_status(spark, ckpt)
    assert df.collect() == []
    assert "PythonRDD" not in _lineage(df)


def test_local_frame_is_jvm_local(spark):
    df = local_frame(spark, _status_rows(3), CHECKPOINT_SCHEMA)
    assert df.schema == CHECKPOINT_SCHEMA
    assert df.count() == 3
    assert "PythonRDD" not in _lineage(df)


@pytest.mark.parametrize("n_rows", [0, 4], ids=["empty", "all_null_error"])
def test_status_table_types_survive_a_schemaless_read(spark, tmp_path, n_rows):
    ckpt = str(tmp_path / "ckpt")
    _record(spark, ckpt, _status_rows(n_rows))
    status = spark.read.parquet(f"{ckpt}/status")
    assert status.schema == CHECKPOINT_SCHEMA
    assert status.count() == n_rows


def test_local_frame_round_trips_structs_and_timestamps(spark):
    schema = T.StructType.fromDDL(
        "win struct<start: timestamp, end: timestamp>, event_type string, "
        "n long, day date, ids array<int>"
    )
    rows = [
        Row(
            win=Row(start=dt.datetime(2024, 3, 10, 1), end=dt.datetime(2024, 3, 10, 2)),
            event_type="click",
            n=3,
            day=dt.date(2024, 3, 10),
            ids=[1, 2],
        ),
        (
            (dt.datetime(2024, 3, 10, 2, tzinfo=dt.timezone.utc), None),
            None,
            2**40,
            None,
            [],
        ),
        (None, None, None, None, None),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert df.collect() == spark.createDataFrame(rows, schema).collect()
