"""Partition-level checkpoint/resume + bounded retry rounds (operator O2/O3).

Re-expresses the reference's retry/resume template — rounds of re-running only
failed units with bounded retries (``app/watermark.py:226-315``; failed-set
semi-join :285-287) and the queryable task-status registry
(``app/api/routes.py:41,197-203``) — as Spark-native job orchestration:

- The unit of work is a **bucket**: ``pmod(xxhash64(conv_id), n_buckets)``.
  Buckets are stable across runs and cluster sizes, so a resume after a crash
  (or against the same input snapshot) skips exactly the committed work.
- The checkpoint table is an append-only parquet dir of
  ``(bucket, snapshot_id, status, turns, recorded_at, error)`` rows — a
  ``running`` row lands BEFORE each group's write job and flips to
  ``completed``/``failed`` after, so the table is live-pollable mid-flight
  (the reference's ``GET /tasks/{id}`` registry, ``app/api/routes.py:41,
  197-203,367-415``): ``job_status`` reduces it to the latest row per
  bucket.  Resume = ``range(n_buckets)`` minus the completed buckets (the
  reference's ``failed_paths`` set filter), read from the checkpoint table
  with no input scan.
- Status rows are built on the driver as JVM-local relations
  (``session.local_frame``), so a status write is one JVM-only job with
  no Python worker behind it.
- Per-bucket turn counts come from ``df.observe`` on the write job itself
  (one conditional-sum metric per bucket in the group) — no post-commit
  re-read of the output directory.
- Buckets are processed in **groups**, one Spark write job per group, because
  a Spark file-sink job commits atomically at job granularity: a mid-job
  failure commits nothing, so the group's buckets simply remain unclaimed and
  are retried next round (≤ ``max_retries`` rounds, mirroring
  ``add_watermarks_batch``'s loop).  Output uses dynamic partition overwrite
  on ``bucket=`` so a retried group cleanly replaces any torn output; it is
  a writer option, so the session's own overwrite mode is left alone.

Scale: at 10^12 turns use e.g. n_buckets=4096, groups_per_round=32 — each
job still spans thousands of tasks, driver-side state is just the bucket set,
and the checkpoint table stays tiny (one row per completed bucket).
"""

from __future__ import annotations

import time

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F, types as T

from . import publish
from .pipeline import extract_transcripts
from .session import arrow_stage, local_frame

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("status", T.StringType()),  # running|completed|failed
        T.StructField("turns", T.LongType()),
        T.StructField("recorded_at", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


def _status_path(ckpt_dir: str) -> str:
    """Path of the checkpoint's status table, first restored if an expiry
    crashed between its two renames — else a reader would see no history
    and a writer would start a new table that the next expiry's recovery
    keeps in place of the backup."""
    path = f"{ckpt_dir}/status"
    publish.recover(path)
    return path


def _read_status(spark: SparkSession, ckpt_dir: str) -> DataFrame | None:
    try:
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(_status_path(ckpt_dir))
    except Exception:
        return None


def _completed_buckets(
    spark: SparkSession, ckpt_dir: str, snapshot_id: str
) -> DataFrame:
    ckpt = _read_status(spark, ckpt_dir)
    if ckpt is None:
        ckpt = local_frame(spark, [], CHECKPOINT_SCHEMA)
    # one row per completed claim, duplicates included: the caller folds
    # them into a set, which spares a shuffle job
    return ckpt.where(
        (F.col("snapshot_id") == snapshot_id) & (F.col("status") == "completed")
    ).select("bucket")


def job_status(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Latest status row per (bucket, snapshot) — the pollable task
    registry.  Query it from another session/thread while a batch run is
    in flight: buckets show ``running`` while their group's job executes,
    then ``completed``/``failed``."""
    from pyspark.sql.window import Window

    ckpt = _read_status(spark, ckpt_dir)
    if ckpt is None:
        return local_frame(spark, [], CHECKPOINT_SCHEMA)
    w = Window.partitionBy("bucket", "snapshot_id").orderBy(
        F.col("recorded_at").desc(),
        # same-timestamp tie: terminal states win over 'running'
        (F.col("status") == "running").cast("int"),
    )
    return (
        ckpt.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _record(
    spark: SparkSession,
    ckpt_dir: str,
    rows: list[tuple],
) -> None:
    local_frame(spark, rows, CHECKPOINT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(_status_path(ckpt_dir))


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def fingerprint_aggs(columns: list[str]) -> list[Column]:
    """The ``(n, h)`` table fingerprint as two named aggregates: ``n`` =
    row count, ``h`` = exact decimal SUM of per-row xxhash64 over
    *columns* (sorted), so it is order-insensitive but
    multiplicity-sensitive (``[A,A] -> [B,B]`` changes it), and
    decimal(38,0) holds 10^12 rows x 2^63 without overflow."""
    h = F.sum(F.xxhash64(*sorted(columns)).cast(T.DecimalType(38, 0)))
    return [F.count("*").alias("n"), h.alias("h")]


def content_fingerprint(df: DataFrame) -> tuple:
    """Whole-table ``fingerprint_aggs`` over every column, the check a
    directory rewrite must pass before it is published."""
    return tuple(df.agg(*fingerprint_aggs(df.columns)).first())


def run_with_checkpoint(
    input_df: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    snapshot_id: str = "snap-0",
    n_buckets: int = 64,
    groups_per_round: int = 8,
    max_retries: int = 3,
    partition_mode: str = "map_only",
    failure_hook=None,
) -> dict:
    """Run extraction resumably. Returns a summary dict (A4/A5 analogue).

    *failure_hook(bucket:int)*, if given, runs executor-side before the
    kernel — the deterministic fault-injection port of the reference's
    mock-based retry test (``test_retry_mechanism.py:99-119``).

    The remaining work is ``range(n_buckets)`` minus the checkpoint's
    completed set — ZERO input scans before round 1 (buckets are dense by
    construction at scale: pmod(xxhash64) over 10^12 conv_ids leaves no
    bucket empty; an empty bucket on a tiny corpus just makes its group's
    job trivially small).
    """
    if min(n_buckets, groups_per_round, max_retries) < 1:
        raise ValueError(
            f"n_buckets, groups_per_round and max_retries must be >= 1, got "
            f"{n_buckets}, {groups_per_round} and {max_retries}"
        )
    spark = input_df.sparkSession
    df = with_bucket(input_df, n_buckets)
    completed = _completed_buckets(spark, ckpt_dir, snapshot_id)
    completed_set = {r["bucket"] for r in completed.collect()}
    remaining = sorted(set(range(n_buckets)) - completed_set)
    already_done = len(completed_set)

    summary = {
        "snapshot_id": snapshot_id,
        "buckets_total": n_buckets,
        "buckets_already_completed": already_done,
        "rounds": [],
    }

    for attempt in range(1, max_retries + 1):
        if not remaining:
            break
        failed: list[int] = []
        errors: dict[int, str] = {}
        group_size = max(1, -(-len(remaining) // groups_per_round))
        groups = [
            remaining[i : i + group_size] for i in range(0, len(remaining), group_size)
        ]
        for group in groups:
            sub = df.where(F.col("bucket").isin(group))
            if failure_hook is not None:
                hook = failure_hook  # capture for closure serialization

                def _inject(batch, _hook=hook):
                    for b in pc.unique(batch.column("bucket")).to_pylist():
                        _hook(b)
                    return batch.columns

                sub = arrow_stage(sub, _inject, sub.schema)
            out = extract_transcripts(
                sub,
                partition_mode=partition_mode,
                sort_output=True,
                extra_passthrough=("bucket",),
            )
            # live status: claim the group as running before its job starts
            _record(
                spark,
                ckpt_dir,
                [
                    (int(b), snapshot_id, "running", 0, time.time(), None)
                    for b in group
                ],
            )
            # per-bucket turn counts ride on the write job itself (observe):
            # no post-commit re-read of the output directory
            obs = Observation()
            out = out.observe(
                obs,
                *[
                    F.sum((F.col("bucket") == int(b)).cast("long")).alias(f"b{b}")
                    for b in group
                ],
            )
            try:
                out.write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("bucket").parquet(out_dir)
                metrics = obs.get
                now = time.time()
                _record(
                    spark,
                    ckpt_dir,
                    [
                        (
                            int(b),
                            snapshot_id,
                            "completed",
                            int(metrics[f"b{b}"] or 0),
                            now,
                            None,
                        )
                        for b in group
                    ],
                )
            except Exception as exc:
                msg = str(exc).splitlines()[0][:500]
                failed.extend(group)
                for b in group:
                    errors[b] = msg
        summary["rounds"].append(
            {
                "attempt": attempt,
                "processed": len(remaining) - len(failed),
                "failed": len(failed),
            }
        )
        remaining = failed

    if remaining:
        now = time.time()
        _record(
            spark,
            ckpt_dir,
            [
                (int(b), snapshot_id, "failed", 0, now, errors.get(b))
                for b in remaining
            ],
        )
    summary["buckets_failed"] = len(remaining)
    summary["status"] = "FAILED" if remaining else "COMPLETED"
    return summary


# snapshot_ids an expiry keeps
KEEP_SNAPSHOTS = 2


def expire_checkpoint_history(spark: SparkSession, ckpt_dir: str) -> dict:
    """Snapshot-history expiration (Iceberg ``expire_snapshots`` /
    Delta ``VACUUM`` retention analogue) for the checkpoint store: keep
    only the newest ``KEEP_SNAPSHOTS`` snapshot_ids — ordered by each
    snapshot's latest ``recorded_at`` in the status table
    (``{ckpt_dir}/status``) — and rewrite the table without the expired
    rows.  The checkpoint store is append-only by design (a running +
    completed row per bucket per run), so at 10^12-turn cadence it
    accumulates history that resume never reads again; expiration
    bounds it at O(KEEP_SNAPSHOTS · n_buckets) rows.

    Safety: the rewrite is content-verified BEFORE the swap (the
    retained subset's ``content_fingerprint`` must be identical in the
    staged copy — raises and leaves the store untouched otherwise), and
    the table is committed with ``extractor.publish`` in one atomic
    swap, which also recovers a crash of an earlier call.

    Scale: the only driver-side materialization is the snapshot-id
    recency list (one row per snapshot — bounded metadata, same class
    as the bucket lists this module already collects)."""
    status_dir = f"{ckpt_dir}/status"
    staged = publish.stage(status_dir)

    status = spark.read.schema(CHECKPOINT_SCHEMA).parquet(status_dir)
    recency = status.groupBy("snapshot_id").agg(F.max("recorded_at").alias("ts"))
    snaps = [
        r["snapshot_id"]
        for r in recency.orderBy(F.desc("ts"), "snapshot_id").collect()
    ]
    kept = set(snaps[:KEEP_SNAPSHOTS])

    keep_status = status.where(F.col("snapshot_id").isin(kept))
    before = content_fingerprint(keep_status)
    rows_before = status.count()

    keep_status.coalesce(1).write.mode("overwrite").parquet(staged)
    # verify the staged copy BEFORE swapping
    after = content_fingerprint(spark.read.schema(CHECKPOINT_SCHEMA).parquet(staged))
    if after != before:
        raise RuntimeError(
            f"expire content mismatch on {ckpt_dir}: "
            f"{before} -> {after}; not swapping"
        )
    publish.publish(status_dir)
    return {
        "snapshots_before": len(snaps),
        "snapshots_after": len(kept),
        "rows_before": rows_before,
        "rows_after": spark.read.schema(CHECKPOINT_SCHEMA)
        .parquet(status_dir)
        .count(),
        "content_match": True,
    }
