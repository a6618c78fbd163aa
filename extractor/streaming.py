"""Structured Streaming extraction (incremental ingest).

The reference's closest analogue is the async-task pattern
(``app/api/routes.py:189-223``): work arrives, gets processed once, status is
queryable.  Batch + checkpoint (extractor.checkpoint) already covers the
snapshot-driven resumable requirement; this module adds the *continuous
ingest* variant for transcript streams:

    readStream(parquet dir, file source)
      → mapInPandas(extraction kernel)          # stateless → streaming-safe
      → writeStream(parquet sink, checkpointLocation, availableNow/continuous)

Exactly-once: the file-source + file-sink pair is end-to-end exactly-once
under Spark's streaming checkpoint (source offsets + sink commit log), so a
turn arriving in any micro-batch is extracted exactly once even across
restarts — the streaming twin of the bucket checkpoint table.

The kernel stage is identical to batch (same kernel iterator), so per-turn
output is byte-identical between batch and streaming paths (tested).

Scale: file-source streaming shards by arriving files; at 10^12-turn scale
the same topology runs against a Kafka source (swap ``readStream.format``).
Three operators:

- ``stream_extract``           — stateless kernel stream (exactly-once)
- ``stream_windowed_metrics``  — watermark + event-time windowed aggregation
                                 (late rows beyond the watermark dropped,
                                 windows finalize in append mode — the
                                 late-data-safe metrics rollup)
- ``stream_conversation_state``— custom stateful operator
                                 (``applyInPandasWithState``)
- ``stream_dedup``             — streaming exact dedup with BOUNDED state
                                 (``dropDuplicatesWithinWatermark``)
- ``stream_upsert_sink``       — CDC-style continuous MERGE: each micro-
                                 batch upserts into the target by key via
                                 ``foreachBatch`` (last-writer-wins)
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .pipeline import _PASSTHROUGH, OUTPUT_SCHEMA, _make_extract_iter
from .transcripts import TRANSCRIPT_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start (and with available_now=True, drain) a streaming extraction.

    Returns the StreamingQuery; caller awaits termination.  Restarting with
    the same checkpoint_dir resumes from the last committed source offset.
    """
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("latestFirst", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)

    extracted = stream.mapInPandas(_make_extract_iter(_PASSTHROUGH), OUTPUT_SCHEMA)

    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_metrics(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Watermarked event-time windowed metrics over the transcript stream:
    per-(window, role) turn counts and input bytes.

    Late-data contract: rows arriving more than *watermark* behind the
    observed max event time are DROPPED; a window finalizes (and emits —
    append mode, file-sink safe) once the watermark passes its end.  State
    is bounded by (windows in flight × groups), not stream length — the
    100 TB posture for continuous metrics.  Restarts resume from the
    streaming checkpoint with the same watermark state."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.length("text")).alias("bytes_in"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "role",
            "turns",
            "bytes_in",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Streaming exact dedup on (conv_id, turn_idx): a re-delivered turn
    (at-least-once upstream, retried producer, replayed Kafka offset) is
    dropped if its duplicate was seen within the event-time watermark.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the key's event time, so state is bounded by
    (arrival rate × watermark delay) — NOT stream length.  A plain
    streaming ``dropDuplicates`` would grow state forever at 10^12-turn
    scale; this is the operator you actually deploy in front of the
    extraction kernel when the transport is at-least-once."""
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_sink(
    spark: SparkSession,
    input_dir: str,
    target_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous CDC ingest: every micro-batch MERGEs into the target
    table keyed on (conv_id, turn_idx), last-writer-wins by event time
    within a batch.

    The per-batch merge uses the S3 decomposition
    (``relational.s3_merge_upsert`` topology): surviving target rows come
    from an anti join whose BROADCAST side is the batch's key set — the
    10^12-row target never builds a hash table.  On a real deployment the
    batch body is one Iceberg ``MERGE INTO``; here every batch's CoW
    result, the first one included, is committed with
    ``extractor.publish``, whose recovery step restores the last
    published table after a crash mid-commit, so checkpoint replay
    always merges against it instead of rebuilding the table from one
    batch.  Spark's streaming checkpoint makes batch delivery
    effectively-once; the merge itself is idempotent (re-running a batch
    yields the same table), so the sink is exactly-once end-to-end."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from extractor import publish

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)

    def merge_batch(batch_df, batch_id):
        tmp = publish.stage(target_dir)
        w = Window.partitionBy("conv_id", "turn_idx").orderBy(
            F.desc("ts"), F.desc("role")
        )
        batch = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        merged = batch
        if os.path.exists(target_dir):
            target = batch_df.sparkSession.read.parquet(target_dir)
            keys = batch.select("conv_id", "turn_idx")
            kept = target.join(
                F.broadcast(keys), ["conv_id", "turn_idx"], "left_anti"
            )
            merged = kept.unionByName(batch)
        merged.write.mode("overwrite").parquet(tmp)
        publish.publish(target_dir)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_conversation_state(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-conversation running progress — cumulative turn count and max
    turn_idx seen — maintained in Spark's streaming state store across
    micro-batches AND restarts (state lives under checkpoint_dir).

    This is the task-status registry of the reference
    (``app/api/routes.py:41,197-203`` — poll task progress while work
    streams in) as a distributed, fault-tolerant stateful stream.
    """
    from pyspark.sql import types as T

    output_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turns_seen", T.LongType()),
            T.StructField("max_turn_idx", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("turns_seen", T.LongType()),
            T.StructField("max_turn_idx", T.IntegerType()),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        turns, max_idx = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            turns += len(pdf)
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns, max_idx))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "turns_seen": [turns],
                "max_turn_idx": [max_idx],
            }
        )

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    )
    progress = stream.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    # Update-mode stateful output can't go straight to a file sink (append
    # only); foreachBatch appends each micro-batch's updated rows — the
    # standard pattern for state snapshots to files.
    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(output_dir)

    return (
        progress.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Event-time SESSION windows over the transcript stream — Spark's
    native dynamic-gap windowing (``F.session_window``), the streaming
    twin of the batch ``o3_sessionize`` operator: a conversation's
    session extends while turns keep arriving within *gap* of each
    other and finalizes once the watermark passes gap-beyond its last
    event.  Unlike the fixed grid of :func:`stream_windowed_metrics`,
    session bounds are DATA-DRIVEN, so state merges adjacent windows as
    late-but-in-watermark rows arrive — exactly the semantics a manual
    ``applyInPandasWithState`` sessionizer must hand-roll
    (:func:`stream_conversation_state`); this one gets merge logic,
    state eviction, and append-mode finalization from the engine.

    State bound: (open sessions × keys), independent of stream length.
    Output: one row per finalized (conv_id, session): start, end,
    n_turns, total_chars."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("sw"),
            "conv_id",
        )
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .select(
            "conv_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns",
            "total_chars",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def stream_hourly_events(spark: SparkSession, sf_dir: str):
    """Structured-Streaming == batch parity, certified under the DuckDB
    oracle: the hourly per-event-type rollup computed by a REAL
    streaming query — ``readStream`` over the events parquet, windowed
    aggregation, memory sink, ``availableNow`` bounded replay — must
    hash-match the independent engine's batch answer.  This is the
    lambda-architecture equivalence every streaming metrics pipeline
    silently assumes; here it is a contract row.

    Complete output mode is deliberate: with ``availableNow`` the
    stream ends before the watermark can pass the final windows, so
    append mode would (correctly) hold them back and parity would fail
    — the append+watermark finalization semantics are pinned separately
    in ``tests/test_streaming.py``.  Complete-mode state is bounded by
    (windows × event types), not stream length, and the memory sink
    holds only that rollup.

    Money in exact cents (the ``backfill`` convention) so no float
    crosses the sink.

    Output: ``(window_start, event_type, n, sum_value_cents)``."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    # the file source requires a DIRECTORY; scope the listing to the
    # events file with a glob filter (single-file test layout)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .cast("long")
            .alias("sum_value_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value_cents",
        )
    )
    name = f"stream_hourly_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the rollup is bounded (windows × event types); localize it and
    # drop the memory-sink table so repeated calls don't accumulate
    # orphaned in-memory tables for the session lifetime
    rows = spark.table(name).collect()
    schema = spark.table(name).schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)
