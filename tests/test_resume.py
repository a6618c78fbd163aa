"""Checkpoint/resume + bounded-retry tests, modeled on the reference's
``test_retry_mechanism.py:75-164`` (deterministic fault injection, exact
final-state assertions), lifted to partition level (SURVEY.md §5.3)."""

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from extractor import checkpoint
from extractor.checkpoint import run_with_checkpoint, with_bucket
from extractor.pipeline import extract_transcripts
from extractor.transcripts import transcripts_df

N_BUCKETS = 8


def _make_hook(state_dir: str, fail_twice: set, fail_always: set):
    """Executor-side hook: bucket in *fail_twice* raises on its first two
    sightings (filesystem counter — shared state in local mode); bucket in
    *fail_always* always raises."""

    def hook(bucket: int) -> None:
        if bucket in fail_always:
            raise RuntimeError(f"injected permanent failure bucket={bucket}")
        if bucket in fail_twice:
            marker = Path(state_dir) / f"b{bucket}"
            seen = len(list(Path(state_dir).glob(f"b{bucket}.*")))
            if seen < 2:
                (Path(state_dir) / f"b{bucket}.{seen}.{os.getpid()}").touch()
                raise RuntimeError(f"injected transient failure bucket={bucket}")

    return hook


@pytest.fixture()
def corpus(spark):
    return transcripts_df(spark, n_convs=30, mean_turns=8, seed=7)


def _clean_rows(spark, corpus):
    out = extract_transcripts(corpus, sort_output=False)
    return sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["error"])
        for r in out.collect()
    )


def test_retry_rounds_recover_transient_failures(spark, corpus, tmp_path):
    state = tmp_path / "state"
    state.mkdir()
    hook = _make_hook(str(state), fail_twice={0, 3}, fail_always=set())
    summary = run_with_checkpoint(
        corpus,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS,
        groups_per_round=N_BUCKETS,  # one bucket per group -> per-bucket jobs
        max_retries=3,
        failure_hook=hook,
    )
    assert summary["status"] == "COMPLETED"
    assert summary["buckets_failed"] == 0
    assert len(summary["rounds"]) >= 2  # needed retries
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["error"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == _clean_rows(spark, corpus)


@pytest.mark.parametrize(
    "param", ["n_buckets", "groups_per_round", "max_retries"]
)
def test_degenerate_parameters_rejected(corpus, tmp_path, param):
    """Zero buckets would report COMPLETED having written nothing, zero
    retries left the last error unbound and zero groups divided by zero:
    each is a ``ValueError`` before any work starts."""
    kwargs = dict(n_buckets=N_BUCKETS, groups_per_round=2, max_retries=3)
    kwargs[param] = 0
    with pytest.raises(ValueError, match=param):
        run_with_checkpoint(
            corpus, str(tmp_path / "out"), str(tmp_path / "ckpt"), **kwargs
        )
    assert list(tmp_path.iterdir()) == []


def test_resume_processes_only_unfinished(spark, corpus, tmp_path):
    state = tmp_path / "state"
    state.mkdir()
    # Run 1: bucket 2 always fails -> job ends FAILED with bucket 2 pending.
    hook = _make_hook(str(state), fail_twice=set(), fail_always={2})
    s1 = run_with_checkpoint(
        corpus,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS,
        groups_per_round=N_BUCKETS,
        max_retries=2,
        failure_hook=hook,
    )
    assert s1["status"] == "FAILED"
    assert s1["buckets_failed"] == 1

    # Run 2: no injection. Must process ONLY the unfinished bucket.
    s2 = run_with_checkpoint(
        corpus,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS,
        groups_per_round=N_BUCKETS,
        max_retries=2,
    )
    assert s2["status"] == "COMPLETED"
    assert s2["buckets_already_completed"] == N_BUCKETS - 1
    assert s2["rounds"][0]["processed"] == 1

    # Final output identical to a clean full run.
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["error"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == _clean_rows(spark, corpus)

    # Run 3: everything checkpointed -> nothing to do.
    s3 = run_with_checkpoint(
        corpus,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS,
        groups_per_round=N_BUCKETS,
    )
    assert s3["buckets_already_completed"] == N_BUCKETS
    assert s3["rounds"] == []


def test_bucket_assignment_stable(spark, corpus):
    a = with_bucket(corpus, N_BUCKETS).select("conv_id", "bucket").distinct()
    b = with_bucket(corpus.repartition(13), N_BUCKETS).select(
        "conv_id", "bucket"
    ).distinct()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.groupBy("conv_id").count().where(F.col("count") > 1).count() == 0


def test_job_status_pollable_mid_run(spark, corpus, tmp_path):
    """The status table is the reference's live task registry
    (app/api/routes.py:197-203): while a group's job runs its buckets show
    'running'; afterwards every bucket is 'completed'."""
    import threading
    import time as _time

    from extractor.checkpoint import job_status

    ckpt = str(tmp_path / "ckpt")

    def slow_hook(bucket: int) -> None:
        _time.sleep(0.4)  # widen the running window; no failures

    done = []

    def run():
        s = run_with_checkpoint(
            corpus,
            str(tmp_path / "out"),
            ckpt,
            n_buckets=4,
            groups_per_round=4,
            failure_hook=slow_hook,
        )
        done.append(s)

    th = threading.Thread(target=run)
    th.start()
    seen_statuses = set()
    while th.is_alive():
        try:
            for r in job_status(spark, ckpt).collect():
                seen_statuses.add(r["status"])
        except Exception:
            pass
        _time.sleep(0.1)
    th.join()
    assert done[0]["status"] == "COMPLETED"
    assert "running" in seen_statuses, "poller never observed an in-flight row"
    final = {r["bucket"]: r for r in job_status(spark, ckpt).collect()}
    assert {r["status"] for r in final.values()} == {"completed"}
    # per-bucket turn counts (observe metrics) sum to the corpus size
    assert sum(r["turns"] for r in final.values()) == corpus.count()


def test_resume_leaves_session_overwrite_mode_alone(
    spark, corpus, tmp_path, monkeypatch
):
    """Dynamic partition overwrite is an option of the checkpoint's own
    writer: a fault run and its resume leave the session's
    ``partitionOverwriteMode`` as they found it, so later partitioned
    overwrites in the same session are unaffected."""
    from extractor.checkpoint import expire_checkpoint_history

    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        state = tmp_path / "state"
        state.mkdir()
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        hook = _make_hook(str(state), fail_twice=set(), fail_always={1})
        s1 = run_with_checkpoint(
            corpus, out, ckpt, n_buckets=N_BUCKETS, groups_per_round=4,
            max_retries=1, failure_hook=hook,
        )
        assert s1["status"] == "FAILED"
        s2 = run_with_checkpoint(
            corpus, out, ckpt, n_buckets=N_BUCKETS, groups_per_round=4,
        )
        assert s2["status"] == "COMPLETED"
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, saved)
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["error"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == _clean_rows(spark, corpus)
    # the status table is the whole checkpoint store
    monkeypatch.setattr(checkpoint, "KEEP_SNAPSHOTS", 1)
    expire_checkpoint_history(spark, ckpt)
    assert os.listdir(ckpt) == ["status"]
