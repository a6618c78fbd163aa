"""Directory commit (``extractor.publish``): crash injection at every step
of the commit for each sink that replaces a whole directory, the failed
rerun an export must survive, and a guard against a second copy of the
mechanism."""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- the three callers ------------------------------------------------------
#
# Each setup function writes an "old" directory under ``root`` and returns
# ``(target, commit, content)``: ``commit()`` replaces the target with the
# "new" version, ``content(path)`` reads a directory into a comparable
# value.


def _compaction(spark, root):
    from extractor.ops.maintenance import _list_parquet_files, compact_files

    target = os.path.join(root, "tbl")
    spark.range(1000).select("id", (F.col("id") * 3).alias("v")).repartition(
        6
    ).write.parquet(target)

    def content(path):
        rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        return len(_list_parquet_files(path)), rows

    return target, lambda: compact_files(spark, target, target_files=2), content


def _expiry(spark, root):
    from extractor.checkpoint import (
        CHECKPOINT_SCHEMA,
        _record,
        expire_checkpoint_history,
    )

    ckpt = os.path.join(root, "ckpt")
    for i, snap in enumerate(("s1", "s2", "s3")):
        _record(
            spark,
            ckpt,
            [(b, snap, "completed", 5, float(i * 100 + b), None)
             for b in range(8)],
        )

    def content(path):
        df = spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
        return sorted(tuple(r) for r in df.select("snapshot_id", "bucket").collect())

    def commit():
        expire_checkpoint_history(spark, ckpt)

    return f"{ckpt}/status", commit, content


def _shards(spark, n):
    rows = [(i, i % 3, f"text number {i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, shard long, text string")


def _export(spark, root):
    from extractor.ops.export import export_jsonl_shards, read_export_manifest

    target = os.path.join(root, "shards")
    export_jsonl_shards(_shards(spark, 30), target)

    def content(path):
        rows = sorted(tuple(r) for r in spark.read.json(path).collect())
        return read_export_manifest(path), rows

    return target, lambda: export_jsonl_shards(_shards(spark, 6), target), content


CALLERS = {
    "compaction": _compaction,
    "expiry": _expiry,
    "export": _export,
}


# --- crash injection --------------------------------------------------------


class _CrashAt:
    """Stands in for ``os`` or ``shutil`` inside ``extractor.publish``: the
    *nth* call of *name* fails.  A failing ``rmtree`` first deletes one
    data file, as a delete cut short would."""

    def __init__(self, module, name, nth):
        self._module, self._name, self._left = module, name, nth
        self.fired = False

    def __getattr__(self, attr):
        real = getattr(self._module, attr)
        if attr != self._name:
            return real

        def call(path, *args, **kwargs):
            self._left -= 1
            if self._left:
                return real(path, *args, **kwargs)
            self.fired = True
            if attr == "rmtree":
                for dirpath, _, files in os.walk(path):
                    data = [f for f in files if not f.startswith(("_", "."))]
                    if data:
                        os.remove(os.path.join(dirpath, data[0]))
                        break
            raise OSError(f"injected crash in {attr}({path!r})")

        return call


# first rename (live -> backup), second rename (staged -> live), and the
# backup delete; a clean start calls none of them before the commit
STEPS = {
    "rename_aside": ("os", "rename", 1),
    "rename_in": ("os", "rename", 2),
    "drop_backup": ("shutil", "rmtree", 1),
}


def _leftovers(target):
    parent = os.path.dirname(target)
    return sorted(
        e for e in os.listdir(parent) if e.endswith((".bak", ".tmp"))
    )


@pytest.mark.parametrize("step", sorted(STEPS))
@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_crash_at_each_commit_step_recovers(spark, tmp_path, monkeypatch, caller, step):
    from extractor import publish

    root = str(tmp_path / "sink")
    target, commit, content = CALLERS[caller](spark, root)
    old = content(target)

    module, name, nth = STEPS[step]
    crash = _CrashAt({"os": os, "shutil": shutil}[module], name, nth)
    monkeypatch.setattr(publish, module, crash)
    with pytest.raises(Exception):
        commit()
    monkeypatch.undo()
    assert crash.fired

    # a reader that recovers first (stage() is every commit's first step)
    # sees the old directory or the new one, complete; checked on a copy
    # so the crashed state itself is what the rerun below starts from
    view = str(tmp_path / "reader")
    shutil.copytree(root, view)
    view_target = os.path.join(view, os.path.relpath(target, root))
    publish.stage(view_target)
    seen = content(view_target)

    commit()
    new = content(target)
    assert new != old
    assert seen in (old, new)
    if step == "rename_in":
        assert seen == old  # the backup was restored
    assert _leftovers(target) == []


def _crash_expiry(spark, root, monkeypatch, nth_rename):
    """Run the expiry setup, then crash its *nth_rename* ``os.rename``:
    2 is the status table's rename in."""
    from extractor import publish

    target, commit, content = _expiry(spark, root)
    old = content(target)
    monkeypatch.setattr(publish, "os", _CrashAt(os, "rename", nth_rename))
    with pytest.raises(OSError):
        commit()
    monkeypatch.undo()
    return os.path.dirname(target), old


def test_checkpoint_readers_recover_status_after_expiry_crash(
    spark, tmp_path, monkeypatch
):
    """Between the status table's two renames only ``status.bak`` holds
    the history: resume, ``job_status`` and the next ``_record`` must use
    it, and the next expiry must not drop it."""
    import time

    from extractor.checkpoint import (
        _completed_buckets,
        _record,
        expire_checkpoint_history,
        job_status,
    )

    ckpt, old = _crash_expiry(spark, str(tmp_path / "sink"), monkeypatch, 2)
    assert not os.path.exists(f"{ckpt}/status")

    rows = job_status(spark, ckpt).select("snapshot_id", "bucket").collect()
    assert sorted(tuple(r) for r in rows) == old
    done = {r["bucket"] for r in _completed_buckets(spark, ckpt, "s3").collect()}
    assert done == set(range(8))

    _record(spark, ckpt, [(b, "s4", "completed", 5, time.time(), None) for b in range(8)])
    expire_checkpoint_history(spark, ckpt)
    snaps = {r["snapshot_id"] for r in job_status(spark, ckpt).collect()}
    assert snaps == {"s3", "s4"}


def test_export_failed_rerun_keeps_last_export(spark, tmp_path):
    """A crash between the two renames, then a rerun whose write fails:
    the last published export must still be readable."""
    from extractor.ops.export import export_jsonl_shards, read_export_manifest

    out = str(tmp_path / "shards")
    old = export_jsonl_shards(_shards(spark, 30), out)
    os.rename(out, out + ".bak")  # the crash window: live dir moved aside

    @F.udf("string")
    def boom(text):
        raise RuntimeError("write fails")

    failing = _shards(spark, 6).withColumn("text", boom("text"))
    with pytest.raises(Exception):
        export_jsonl_shards(failing, out)
    assert read_export_manifest(out) == old


# --- one copy of the mechanism ----------------------------------------------

def test_no_second_directory_commit():
    backup = re.compile(r"\.bak\b|-bak\b")
    hits = []
    for dirpath, _, files in os.walk(os.path.join(REPO, "extractor")):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, REPO)
            if rel == "extractor/publish.py":
                continue
            with open(path, encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if backup.search(line) or re.search(
                        r"\bos\.(rename|replace)\(", line
                    ):
                        hits.append((rel, line))
    assert hits == []
