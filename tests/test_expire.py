"""Tests for checkpoint snapshot-history expiration (the Iceberg
expire_snapshots analogue): retention semantics, survival of the
incremental fast path, and crash recovery of the rename-aside swap."""

import os

import pytest

from extractor.checkpoint import (
    CHECKPOINT_SCHEMA,
    _record,
    _schema_key,
    expire_checkpoint_history,
    job_status,
    record_fingerprints,
    stored_fingerprints,
)


def _docs(spark):
    import pyspark.sql.functions as F

    return (
        spark.range(40)
        .select(
            F.col("id").cast("string").alias("conv_id"),
            F.concat(F.lit("text-"), F.col("id")).alias("text"),
        )
    )


def _seed(spark, ckpt, snaps=("s1", "s2", "s3")):
    docs = _docs(spark)
    for i, snap in enumerate(snaps):
        _record(
            spark,
            ckpt,
            [(b, snap, "completed", 5, float(i * 100 + b), None)
             for b in range(8)],
        )
        record_fingerprints(docs, ckpt, snap, 8)
    return docs


def test_expire_keeps_newest(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    docs = _seed(spark, ckpt)
    stats = expire_checkpoint_history(spark, ckpt, keep_last=2)
    assert stats["snapshots_before"] == 3
    assert stats["snapshots_after"] == 2
    assert stats["rows_before"] == 24 and stats["rows_after"] == 16
    remaining = {
        r["snapshot_id"]
        for r in spark.read.schema(CHECKPOINT_SCHEMA)
        .parquet(f"{ckpt}/status")
        .select("snapshot_id")
        .distinct()
        .collect()
    }
    assert remaining == {"s2", "s3"}
    # the newest snapshot's fingerprints survive -> incremental fast path
    key = _schema_key(docs.columns)
    assert stored_fingerprints(spark, ckpt, "s3", key) is not None
    assert stored_fingerprints(spark, ckpt, "s1", key) is None
    # job_status of a retained snapshot is unchanged in content
    st = job_status(spark, ckpt, "s2")
    assert st.count() == 8
    assert {r["status"] for r in st.collect()} == {"completed"}


def test_expire_idempotent(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _seed(spark, ckpt)
    expire_checkpoint_history(spark, ckpt, keep_last=2)
    stats = expire_checkpoint_history(spark, ckpt, keep_last=2)
    assert stats["snapshots_before"] == 2
    assert stats["snapshots_after"] == 2
    assert stats["rows_before"] == stats["rows_after"] == 16


def test_expire_crash_recovery(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _seed(spark, ckpt)
    # simulate a crash between the two swap renames: status moved aside,
    # replacement never landed
    os.rename(f"{ckpt}/status", f"{ckpt}/status.bak")
    assert not os.path.exists(f"{ckpt}/status")
    stats = expire_checkpoint_history(spark, ckpt, keep_last=2)
    assert stats["snapshots_after"] == 2
    assert not os.path.exists(f"{ckpt}/status.bak")
    assert os.path.exists(f"{ckpt}/status")
