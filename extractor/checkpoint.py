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
- Per-bucket turn counts come from ``df.observe`` on the write job itself
  (one conditional-sum metric per bucket in the group) — no post-commit
  re-read of the output directory.
- Buckets are processed in **groups**, one Spark write job per group, because
  a Spark file-sink job commits atomically at job granularity: a mid-job
  failure commits nothing, so the group's buckets simply remain unclaimed and
  are retried next round (≤ ``max_retries`` rounds, mirroring
  ``add_watermarks_batch``'s loop).  Output uses dynamic partition overwrite
  on ``bucket=`` so a retried group cleanly replaces any torn output.

Scale: at 10^12 turns use e.g. n_buckets=4096, groups_per_round=32 — each
job still spans thousands of tasks, driver-side state is just the bucket set,
and the checkpoint table stays tiny (one row per completed bucket).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from . import publish
from .pipeline import extract_transcripts

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


def _table_path(ckpt_dir: str, table: str) -> str:
    """Path of the checkpoint's *table* (``status`` or ``fingerprints``),
    first restored if an expiry crashed between its two renames — else a
    reader would see no history and a writer would start a new table
    that the next expiry's recovery keeps in place of the backup."""
    path = f"{ckpt_dir}/{table}"
    publish.recover(path)
    return path


def _read_status(spark: SparkSession, ckpt_dir: str) -> DataFrame | None:
    try:
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(
            _table_path(ckpt_dir, "status")
        )
    except Exception:
        return None


def _completed_buckets(
    spark: SparkSession, ckpt_dir: str, snapshot_id: str
) -> DataFrame:
    ckpt = _read_status(spark, ckpt_dir)
    if ckpt is None:
        return spark.createDataFrame([], "bucket int")
    return (
        ckpt.where(
            (F.col("snapshot_id") == snapshot_id) & (F.col("status") == "completed")
        )
        .select("bucket")
        .distinct()
    )


def job_status(
    spark: SparkSession, ckpt_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """Latest status row per (bucket, snapshot) — the pollable task
    registry.  Query it from another session/thread while a batch run is
    in flight: buckets show ``running`` while their group's job executes,
    then ``completed``/``failed``."""
    from pyspark.sql.window import Window

    ckpt = _read_status(spark, ckpt_dir)
    if ckpt is None:
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    if snapshot_id is not None:
        ckpt = ckpt.where(F.col("snapshot_id") == snapshot_id)
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
    spark.createDataFrame(rows, CHECKPOINT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(_table_path(ckpt_dir, "status"))


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("h", T.DecimalType(38, 0)),
        T.StructField("schema_key", T.StringType()),
        T.StructField("recorded_at", T.DoubleType()),
    ]
)


def _schema_key(cols: list[str]) -> str:
    return ",".join(sorted(cols))


def fingerprint_aggs(columns: list[str]) -> list:
    """The content fingerprint as two aggregates, ``n`` = row count and
    ``h`` = exact decimal SUM of per-row xxhash64 over *columns* (sorted):
    order-insensitive, multiplicity-sensitive (see ``changed_buckets``)."""
    return [
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*sorted(columns)).cast(T.DecimalType(38, 0))).alias("h"),
    ]


def content_fingerprint(df: DataFrame) -> tuple:
    """Whole-table ``(n, h)`` fingerprint, the check a directory rewrite
    must pass before it is published."""
    return tuple(df.agg(*fingerprint_aggs(df.columns)).first())


def _bucket_fingerprints(df: DataFrame, n_buckets: int) -> DataFrame:
    """One (n, h) fingerprint row per bucket."""
    return (
        with_bucket(df, n_buckets)
        .groupBy("bucket")
        .agg(*fingerprint_aggs(df.columns))
    )


def _write_fingerprints(
    fp_df: DataFrame, ckpt_dir: str, snapshot_id: str, schema_key: str
) -> None:
    """Single writer for the fingerprint table (column order, stamping,
    layout) — every persist path MUST go through here so the fixed-schema
    read in ``stored_fingerprints`` never meets divergent rows."""
    (
        fp_df.select(
            "bucket",
            F.lit(snapshot_id).alias("snapshot_id"),
            "n",
            "h",
            F.lit(schema_key).alias("schema_key"),
            F.lit(time.time()).alias("recorded_at"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(_table_path(ckpt_dir, "fingerprints"))
    )


def record_fingerprints(
    df: DataFrame, ckpt_dir: str, snapshot_id: str, n_buckets: int
) -> None:
    """Persist *df*'s per-bucket fingerprints under the checkpoint dir —
    the commit-time hook that makes the NEXT incremental run's old-side
    diff a metadata read instead of a full input rescan (the parquet
    stand-in for Iceberg's snapshot manifest stats)."""
    _write_fingerprints(
        _bucket_fingerprints(df, n_buckets),
        ckpt_dir,
        snapshot_id,
        _schema_key(df.columns),
    )


def stored_fingerprints(
    spark: SparkSession, ckpt_dir: str, snapshot_id: str, schema_key: str
) -> DataFrame | None:
    """Latest persisted fingerprint set for *snapshot_id*, or None if the
    snapshot was never fingerprinted (or under a different schema — those
    fingerprints are incomparable, so the caller falls back to a scan)."""
    from pyspark.sql.window import Window

    try:
        fp = spark.read.schema(FINGERPRINT_SCHEMA).parquet(
            _table_path(ckpt_dir, "fingerprints")
        )
    except Exception:
        return None
    fp = fp.where(
        (F.col("snapshot_id") == snapshot_id)
        & (F.col("schema_key") == schema_key)
    )
    if not fp.take(1):
        return None
    w = Window.partitionBy("bucket").orderBy(F.col("recorded_at").desc())
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("bucket", "n", "h")
    )


def changed_buckets(
    old_df: DataFrame | None,
    new_df: DataFrame,
    n_buckets: int,
    old_fingerprints: DataFrame | None = None,
) -> tuple[list[int], list[int]]:
    """Buckets whose row content changed between two input snapshots — the
    incremental-between-snapshots read (Iceberg's incremental scan logic,
    expressed over two table states).  Each side is reduced to one tiny
    per-bucket fingerprint aggregate; no full-data join, O(input) scan
    each, ~n_buckets rows compared.  Returns ``(changed, deleted)`` where
    *deleted* lists buckets present in the old snapshot with no rows left
    in the new one (their output must be retired, not carried forward).

    Fingerprint design: xxhash64 over EVERY column (row/tool/ts changes
    count as changes, not just text), aggregated with an exact decimal SUM
    of the per-row hashes — order-insensitive but multiplicity-sensitive,
    so ``[A,A] -> [B,B]`` (equal count, xor-cancelling) is caught;
    decimal(38,0) holds 10^12 rows x 2^63 without overflow (ANSI-safe).

    Scale: at 10^12 turns this is two column-pruned scans producing 4096
    rows each — and when *old_fingerprints* is supplied (the per-bucket
    rows persisted by ``record_fingerprints`` at the old run's commit),
    the old-side scan disappears entirely: the diff reads ≤n_buckets
    stored rows, matching Iceberg's incremental-read path where the old
    snapshot's stats live in manifests, not data files."""
    if old_fingerprints is None:
        if old_df is None:
            raise ValueError(
                "changed_buckets needs old_df or old_fingerprints"
            )
        cols = sorted(new_df.columns)
        if sorted(old_df.columns) != cols:
            raise ValueError(
                f"snapshot schemas differ: {sorted(old_df.columns)} vs {cols}"
            )
        old_fingerprints = _bucket_fingerprints(old_df, n_buckets)
    return _diff_fingerprints(
        old_fingerprints, _bucket_fingerprints(new_df, n_buckets)
    )


def _diff_fingerprints(
    old_fp: DataFrame, new_fp: DataFrame
) -> tuple[list[int], list[int]]:
    old = old_fp.select(
        "bucket", F.col("n").alias("n_old"), F.col("h").alias("h_old")
    )
    new = new_fp.select("bucket", "n", "h")
    joined = new.join(F.broadcast(old), "bucket", "left")
    changed = joined.where(
        F.col("n_old").isNull()
        | (F.col("n") != F.col("n_old"))
        | (F.col("h") != F.col("h_old"))
    ).select("bucket")
    # old-side buckets with no new-side rows: both sides are post-agg
    # (<= n_buckets rows), so the anti join broadcasts a tiny key set
    deleted = old.join(
        F.broadcast(new.select("bucket")), "bucket", "left_anti"
    ).select("bucket")
    return (
        sorted(r["bucket"] for r in changed.collect()),
        sorted(r["bucket"] for r in deleted.collect()),
    )


def run_incremental(
    old_df: DataFrame | None,
    new_df: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    old_snapshot: str,
    new_snapshot: str,
    n_buckets: int = 64,
    **kwargs,
) -> dict:
    """Process only the buckets that changed between *old_snapshot* (already
    extracted, checkpointed, and written to *out_dir*) and *new_snapshot*.

    Unchanged buckets are carried forward: their ``completed`` rows are
    re-recorded under *new_snapshot*, so ``run_with_checkpoint`` skips them
    and dynamic partition overwrite leaves their output files untouched.
    A bucket whose rows were ALL deleted between snapshots is retired: its
    output partition is dropped (the S8 delete rewrite at partition
    granularity — a job writing zero rows leaves dynamic overwrite with
    nothing to replace, so the stale files must be removed explicitly) and
    a ``completed(turns=0)`` row lands under *new_snapshot*.  The result
    equals a clean full run over *new_df* (pytest-asserted, including the
    fully-deleted-bucket case).

    Old-side scan elision: if *old_snapshot*'s per-bucket fingerprints were
    persisted by a previous run (every ``run_incremental`` records its new
    side's), the diff uses the stored ≤n_buckets rows and the old snapshot
    is NEVER scanned — *old_df* may then be ``None``.  With stored
    fingerprints each snapshot in an incremental chain is scanned exactly
    once, as its own "new" side."""
    spark = new_df.sparkSession
    key = _schema_key(new_df.columns)
    old_fp = stored_fingerprints(spark, ckpt_dir, old_snapshot, key)
    if old_fp is None:
        if old_df is None:
            raise ValueError(
                f"no stored fingerprints for snapshot {old_snapshot!r} "
                "(schema-compatible) and old_df is None — pass the old "
                "snapshot DataFrame for a one-time scan"
            )
        old_fp = _bucket_fingerprints(old_df, n_buckets)
    # one new-side scan, materialized once (≤ n_buckets rows), reused for
    # the diff AND persisted for the next run's old side
    new_fp = _bucket_fingerprints(new_df, n_buckets).localCheckpoint()
    changed_list, deleted_list = _diff_fingerprints(old_fp, new_fp)
    changed, deleted = set(changed_list), set(deleted_list)
    _write_fingerprints(new_fp, ckpt_dir, new_snapshot, key)
    done_old = {
        r["bucket"]: r["turns"]
        for r in job_status(spark, ckpt_dir, old_snapshot)
        .where(F.col("status") == "completed")
        .collect()
    }
    carry = [
        (int(b), new_snapshot, "completed", int(turns), time.time(), None)
        for b, turns in done_old.items()
        if b not in changed and b not in deleted
    ]
    if carry:
        _record(spark, ckpt_dir, carry)
    if deleted:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for b in sorted(deleted):
            path = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/bucket={b}")
            path.getFileSystem(hconf).delete(path, True)
        _record(
            spark,
            ckpt_dir,
            [
                (int(b), new_snapshot, "completed", 0, time.time(), None)
                for b in sorted(deleted)
            ],
        )
    summary = run_with_checkpoint(
        new_df,
        out_dir,
        ckpt_dir,
        snapshot_id=new_snapshot,
        n_buckets=n_buckets,
        **kwargs,
    )
    summary["buckets_changed"] = sorted(changed)
    summary["buckets_deleted"] = sorted(deleted)
    summary["buckets_carried_forward"] = len(carry)
    return summary


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
    spark = input_df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

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

                def _inject(iterator, _hook=hook):
                    for pdf in iterator:
                        for b in pdf["bucket"].unique():
                            _hook(int(b))
                        yield pdf

                sub = sub.mapInPandas(_inject, sub.schema)
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
                out.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
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


def expire_checkpoint_history(
    spark: SparkSession, ckpt_dir: str, keep_last: int = 2
) -> dict:
    """Snapshot-history expiration (Iceberg ``expire_snapshots`` /
    Delta ``VACUUM`` retention analogue) for the checkpoint store: keep
    only the newest *keep_last* snapshot_ids — ordered by each
    snapshot's latest ``recorded_at`` across BOTH the status table
    (``{ckpt_dir}/status``) and the fingerprint table
    (``{ckpt_dir}/fingerprints``) — and rewrite both tables without the
    expired rows.  The checkpoint store is append-only by design (a
    running + completed row per bucket per run), so at 10^12-turn
    cadence it accumulates history that resume never reads again;
    expiration bounds it at O(keep_last · n_buckets) rows.

    Safety: the rewrite is content-verified BEFORE any swap (the
    retained status subset's ``content_fingerprint`` must be identical
    in the staged copy — raises and leaves the store untouched
    otherwise), and each table is committed with ``extractor.publish``,
    which also recovers a crash of an earlier call.
    The newest snapshot's fingerprints are always retained, so the
    incremental fast path (``stored_fingerprints``) survives expiration.

    Scale: the only driver-side materialization is the snapshot-id
    recency list (one row per snapshot — bounded metadata, same class
    as the bucket lists this module already collects)."""
    import os

    status_dir = f"{ckpt_dir}/status"
    fp_dir = f"{ckpt_dir}/fingerprints"
    new_status = publish.stage(status_dir)
    new_fp = publish.stage(fp_dir)

    status = spark.read.schema(CHECKPOINT_SCHEMA).parquet(status_dir)
    has_fp = os.path.exists(fp_dir)
    fp = (
        spark.read.schema(FINGERPRINT_SCHEMA).parquet(fp_dir)
        if has_fp
        else None
    )
    recency = status.groupBy("snapshot_id").agg(
        F.max("recorded_at").alias("ts")
    )
    if fp is not None:
        recency = (
            recency.unionAll(
                fp.groupBy("snapshot_id").agg(
                    F.max("recorded_at").alias("ts")
                )
            )
            .groupBy("snapshot_id")
            .agg(F.max("ts").alias("ts"))
        )
    snaps = [
        r["snapshot_id"]
        for r in recency.orderBy(F.desc("ts"), "snapshot_id").collect()
    ]
    kept = set(snaps[:keep_last])

    keep_status = status.where(F.col("snapshot_id").isin(kept))
    before = content_fingerprint(keep_status)
    rows_before = status.count()

    keep_status.coalesce(1).write.mode("overwrite").parquet(new_status)
    if has_fp:
        fp.where(F.col("snapshot_id").isin(kept)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(new_fp)
    # verify the staged copy BEFORE swapping anything
    after = content_fingerprint(
        spark.read.schema(CHECKPOINT_SCHEMA).parquet(new_status)
    )
    if after != before:
        raise RuntimeError(
            f"expire content mismatch on {ckpt_dir}: "
            f"{before} -> {after}; not swapping"
        )
    publish.publish(status_dir)
    if has_fp:
        publish.publish(fp_dir)
    return {
        "snapshots_before": len(snaps),
        "snapshots_after": len(kept),
        "rows_before": rows_before,
        "rows_after": spark.read.schema(CHECKPOINT_SCHEMA)
        .parquet(status_dir)
        .count(),
        "content_match": True,
    }
