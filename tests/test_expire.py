"""Tests for checkpoint snapshot-history expiration (the Iceberg
expire_snapshots analogue): retention semantics, a store that holds only
the status table, and crash recovery of the rename-aside swap."""

import os

from extractor.checkpoint import (
    CHECKPOINT_SCHEMA,
    _record,
    expire_checkpoint_history,
    job_status,
)


def _seed(spark, ckpt, snaps=("s1", "s2", "s3")):
    for i, snap in enumerate(snaps):
        _record(
            spark,
            ckpt,
            [(b, snap, "completed", 5, float(i * 100 + b), None)
             for b in range(8)],
        )


def test_expire_keeps_newest(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _seed(spark, ckpt)
    stats = expire_checkpoint_history(spark, ckpt)
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
    # the status table is the whole store: nothing beside it, no leftovers
    assert sorted(os.listdir(ckpt)) == ["status"]
    # job_status of a retained snapshot is unchanged in content
    st = job_status(spark, ckpt).where("snapshot_id = 's2'")
    assert st.count() == 8
    assert {r["status"] for r in st.collect()} == {"completed"}


def test_expire_idempotent(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _seed(spark, ckpt)
    expire_checkpoint_history(spark, ckpt)
    stats = expire_checkpoint_history(spark, ckpt)
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
    stats = expire_checkpoint_history(spark, ckpt)
    assert stats["snapshots_after"] == 2
    assert not os.path.exists(f"{ckpt}/status.bak")
    assert os.path.exists(f"{ckpt}/status")
