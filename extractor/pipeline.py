"""The extraction DataFrame pipeline (SURVEY.md §3 "Spark re-expression").

Replaces the reference's per-document loop + subprocess dataflow
(``app/core/document_converter.py:225-255`` calling
``process_single_document`` :37-184) with a declarative Spark plan:

    scan (pruned to needed columns)
      → [optional] explicit repartition on hash(conv_id) with skew salting
      → arrow_stage(extraction kernel)        # one fused mapInArrow stage
      → repartition(hash(conv_id)) + sortWithinPartitions(conv_id, turn_idx)
      → sink (parquet/Iceberg append) + lineage manifest

Scale rationale (100 TB / 1000 executors):

- The kernel is row-independent, so the *extraction* stage needs NO shuffle:
  parquet splits (``spark.sql.files.maxPartitionBytes``) already balance by
  bytes, which is the right unit for text work.  ``partition_mode="map_only"``
  (default) therefore goes scan→kernel directly — zero pre-shuffle at any
  scale.
- ``partition_mode="hash_conv"`` adds the explicit hash(conv_id) partitioning
  the north rule calls for when conversation-colocated processing is needed.
  Skew (Zipf conversation lengths) is handled by salting the key with the
  turn's range: ``xxhash64(conv_id, pmod(turn_idx div salt_threshold,
  salt_buckets))``.  A conversation of at most ``salt_threshold`` turns
  keeps one key; a longer one spreads over up to ``salt_buckets`` keys, each
  holding at most ``salt_threshold`` of its turns (about 1/``salt_buckets``
  beyond ``salt_threshold * salt_buckets`` turns).  The key is one column
  expression, so no pre-pass counts conversation lengths.  Correct for a
  row-independent kernel; ordering is restored by the final cluster+sort
  stage.
- Output layout: one shuffle on conv_id then ``sortWithinPartitions(conv_id,
  turn_idx)`` — the "stable secondary sort on turn_idx" — so each output file
  holds whole conversations in turn order (what a downstream trainer reads).
- Per-partition lineage/metrics are computed distributedly (groupBy on the
  executor-reported partition id); nothing is collected to the driver except
  the tiny manifest itself.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import from_arrow_schema

from .kernel import (
    DEFAULT_OPTIONS,
    KERNEL_SCHEMA,
    ConvertOptions,
    convert_batch,
)
from .session import arrow_stage

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
    + from_arrow_schema(KERNEL_SCHEMA).fields
    + [
        T.StructField("bytes_in", T.LongType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("kernel_secs", T.DoubleType()),
    ]
)

_PASSTHROUGH = ("conv_id", "turn_idx", "role", "tool", "ts")


def _make_extract_body(
    pass_cols: tuple, options: ConvertOptions = DEFAULT_OPTIONS
):
    """``arrow_stage`` body factory: one ``convert_batch`` call per Arrow
    batch.

    *pass_cols* are the input batch's own arrays, copied to the output
    untouched — this is how per-conversation attributes (e.g. ``source``)
    ride through the kernel with ZERO joins: at 10^12 turns a post-hoc
    "re-attach metadata" join is either a full shuffle or a
    non-broadcastable broadcast; a passthrough column is free.

    Emits executor-side observability columns: ``bytes_in`` (the input's
    length in code points, 0 for NULL), the physical partition id (lineage
    key) and per-row amortized kernel seconds (so ``sum(kernel_secs)`` over
    a partition = that partition's kernel time).
    """

    def extract(batch):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = pa.scalar(ctx.partitionId() if ctx is not None else -1, pa.int32())
        text = batch.column("text")
        t0 = time.monotonic()
        result = convert_batch(text.to_pylist(), options)
        elapsed = time.monotonic() - t0
        n = batch.num_rows
        return (
            [batch.column(c) for c in pass_cols]
            + result.columns
            + [
                pc.fill_null(pc.utf8_length(text), 0).cast(pa.int64()),
                pa.repeat(part_id, n),
                pa.repeat(pa.scalar(elapsed / max(n, 1), pa.float64()), n),
            ]
        )

    return extract


def salted_partition_key(
    df: DataFrame, salt_threshold: int, salt_buckets: int
) -> DataFrame:
    """Add ``part_key``: xxhash64(conv_id) salted by the turn's range.

    Turns ``[k*salt_threshold, (k+1)*salt_threshold)`` of a conversation
    share salt ``k mod salt_buckets``, so a key never holds more than
    ``salt_threshold`` turns of a conversation up to
    ``salt_threshold * salt_buckets`` turns long, and about 1/salt_buckets
    of a longer one.  Short conversations keep a single key.  The salt only
    places rows; it never changes what the kernel emits.
    """
    if salt_threshold < 1 or salt_buckets < 1:
        raise ValueError(
            f"salt_threshold and salt_buckets must be >= 1, got "
            f"{salt_threshold} and {salt_buckets}"
        )
    salt = F.pmod(
        F.expr(f"turn_idx div {int(salt_threshold)}"), F.lit(salt_buckets)
    )
    return df.withColumn("part_key", F.xxhash64("conv_id", salt))


def extract_transcripts(
    df: DataFrame,
    partition_mode: str = "map_only",
    salt_threshold: int = 500,
    salt_buckets: int = 8,
    sort_output: bool = True,
    extra_passthrough: tuple = (),
    options: ConvertOptions = DEFAULT_OPTIONS,
) -> DataFrame:
    """Run the extraction kernel over a transcripts DataFrame.

    partition_mode:
      - ``map_only``  — no pre-shuffle; kernel runs on scan partitions
                        (the right default: extraction is row-independent).
      - ``hash_conv`` — explicit repartition on salted hash(conv_id)
                        (conversation colocation; north-rule mode).

    *extra_passthrough*: additional input columns carried through the kernel
    unchanged (appended to the output schema with their input types).  This
    is the zero-join way to keep per-turn metadata (``source``, labels, …)
    attached to extraction output — never re-join the corpus to itself.
    """
    extra_fields = [df.schema[c] for c in extra_passthrough]
    cols = (
        [c for c in _PASSTHROUGH if c in df.columns]
        + list(extra_passthrough)
        + ["text"]
    )
    slim = df.select(*cols)  # column pruning reaches the scan
    for c in _PASSTHROUGH:
        if c not in df.columns:
            slim = slim.withColumn(
                c,
                F.lit(None).cast(
                    dict(zip(_PASSTHROUGH, ("string", "int", "string", "string", "timestamp")))[c]
                ),
            )

    if partition_mode == "hash_conv":
        n = df.sparkSession.sparkContext.defaultParallelism * 2
        slim = salted_partition_key(slim, salt_threshold, salt_buckets)
        slim = slim.repartition(n, "part_key").drop("part_key")
    elif partition_mode != "map_only":
        raise ValueError(f"unknown partition_mode: {partition_mode}")

    pass_cols = _PASSTHROUGH + tuple(extra_passthrough)
    schema = T.StructType(
        list(OUTPUT_SCHEMA.fields[: len(_PASSTHROUGH)])
        + extra_fields
        + list(OUTPUT_SCHEMA.fields[len(_PASSTHROUGH) :])
    )
    out = arrow_stage(slim, _make_extract_body(pass_cols, options), schema)

    if sort_output:
        n_out = df.sparkSession.sparkContext.defaultParallelism
        out = out.repartition(n_out, "conv_id").sortWithinPartitions(
            "conv_id", "turn_idx"
        )
    return out


def lineage_manifest(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage + metrics rows (reference A1/O6 analogues):
    turns, bytes in/out, error/null counts, kernel seconds, throughput."""
    return (
        extracted.groupBy("part_id")
        .agg(
            F.count("*").alias("turns"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum(F.coalesce("output_length", F.lit(0))).alias("chars_out"),
            F.sum(F.col("extracted_text").isNull().cast("long")).alias("null_rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("error_rows"),
            F.sum("tables_count").alias("tables"),
            F.sum("math_count").alias("maths"),
            F.sum("images_count").alias("images"),
            F.sum("kernel_secs").alias("kernel_secs"),
        )
        .withColumn(
            "turns_per_sec",
            F.when(F.col("kernel_secs") > 0, F.col("turns") / F.col("kernel_secs")),
        )
        .withColumn(
            "bytes_per_sec",
            F.when(F.col("kernel_secs") > 0, F.col("bytes_in") / F.col("kernel_secs")),
        )
        .withColumn(
            "null_extraction_rate", F.col("null_rows") / F.col("turns")
        )
    )


STITCH_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.IntegerType()),
        T.StructField("n_errors", T.IntegerType()),
        T.StructField("conversation_markdown", T.StringType()),
    ]
)


def stitch_conversations(extracted: DataFrame) -> DataFrame:
    """Reassemble one markdown document per conversation from extracted
    turns — the downstream-trainer view.  A grouped ``arrow_stage`` over
    the conv_id group: each group arrives as one Arrow table, is sorted by
    turn_idx (stable order regardless of upstream salting), and rendered
    as ``[role] text`` sections.

    Scale: groups are conversations (bounded by the longest conversation,
    which the salt threshold caps upstream for the kernel stage; stitching
    itself must see the whole conversation, so this is the one operator
    that genuinely requires conv-colocation — exactly what hash(conv_id)
    partitioning provides, one shuffle)."""

    def stitch(table):
        table = table.sort_by("turn_idx")
        parts = [
            f"[{role or 'unknown'}]\n{text}"
            for role, text in zip(
                table.column("role").to_pylist(),
                table.column("extracted_text").to_pylist(),
            )
            if text
        ]
        return (
            [table.column("conv_id")[0].as_py()],
            [table.num_rows],
            [table.num_rows - table.column("error").null_count],
            ["\n\n".join(parts)],
        )

    return arrow_stage(extracted.groupBy("conv_id"), stitch, STITCH_SCHEMA)
