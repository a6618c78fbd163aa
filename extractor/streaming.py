"""Structured Streaming extraction (incremental ingest).

The reference's closest analogue is the async-task pattern
(``app/api/routes.py:189-223``): work arrives, gets processed once, status is
queryable.  Batch + checkpoint (extractor.checkpoint) already covers the
snapshot-driven resumable requirement; this module adds the *continuous
ingest* variant for transcript streams:

    readStream(parquet dir, file source)
      → arrow_stage(extraction kernel)          # stateless → streaming-safe
      → writeStream(parquet sink, checkpointLocation, availableNow)

Exactly-once: the file-source + file-sink pair is end-to-end exactly-once
under Spark's streaming checkpoint (source offsets + sink commit log), so a
turn arriving in any micro-batch is extracted exactly once even across
restarts — the streaming twin of the bucket checkpoint table.

The kernel stage is identical to batch (same kernel body), so per-turn
output is byte-identical between batch and streaming paths (tested).

Scale: file-source streaming shards by arriving files; at 10^12-turn scale
the same topology runs against a Kafka source (swap ``readStream.format``).
Two operators:

- ``stream_extract``       — stateless kernel stream (exactly-once), the
                             ``scripts/run_extraction.py --stream`` path
- ``stream_hourly_events`` — windowed aggregation whose streaming answer
                             must equal the batch one (a contract query)
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .pipeline import _PASSTHROUGH, OUTPUT_SCHEMA, _make_extract_body
from .session import arrow_stage, local_frame
from .transcripts import TRANSCRIPT_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start an ``availableNow`` streaming extraction: it drains every file
    present at start, in as many micro-batches as the source plans, then
    stops.

    Returns the StreamingQuery; caller awaits termination.  Restarting with
    the same checkpoint_dir resumes from the last committed source offset.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("latestFirst", "false")
        .parquet(input_dir)
    )
    extracted = arrow_stage(stream, _make_extract_body(_PASSTHROUGH), OUTPUT_SCHEMA)
    return (
        extracted.writeStream.format("parquet")
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
    append mode would (correctly) hold them back and parity would
    fail.  Complete-mode state is bounded by
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
    return local_frame(spark, rows, schema)
