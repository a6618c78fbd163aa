"""Scale-adaptive fan-out for starved single-file scans (opt guide §2.2/§6).

A CPU-heavy JVM stage (per-token md5, regex tokenization, higher-order
vector math) over a table that arrives as ONE input split runs
single-threaded no matter how many cores the session has: parquet cannot
split inside a row group, and the text tables compress ~10x, so a
small-to-medium corpus lands in one split and the expensive projection is
pinned to one task (measured: ``dedup_minhash_lsh`` 33.6 s single-task vs
1.8 s fanned out at sf1.0 on local[32]).

``fan_out_scan`` inserts a round-robin repartition ONLY when the scan is
provably starved AND provably small:

- starved: fewer input files than the target parallelism
  (``inputFiles()`` is a driver-side listing, ~1 ms — at production file
  counts the guard never fires and no shuffle is added);
- small: the files are local and their on-disk size is under
  ``FAN_OUT_MAX_BYTES`` = 1 GiB, a fixed constant (driver-side
  ``os.path.getsize``, no Spark job).
  Remote URIs (hdfs://, s3a://) or unknown sizes fail safe to
  "don't shuffle" — a few huge files are better served by row-group
  splits than by a full payload shuffle.

The repartition is deterministic under task retry (Spark's
sort-before-repartition default) and never changes query RESULTS: every
caller is an aggregation, a per-row projection, or a window with a
deterministic ordering.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Cap on the bytes a fan-out shuffle may move (compressed, on-disk).
# Tables needing the fix are maxPartitionBytes-bounded single splits by
# construction; 1 GiB of headroom covers multi-file-but-starved layouts.
FAN_OUT_MAX_BYTES = 1 << 30


def fan_out_scan(
    spark: SparkSession,
    df: DataFrame,
    scan_df: DataFrame,
    cap: int | None = None,
    key=None,
) -> DataFrame:
    """Repartition ``df`` across the cores when ``scan_df``'s file layout
    would starve a CPU-heavy downstream stage.  ``df`` must derive from
    ``scan_df`` (filters/projections applied); *cap* bounds the fan-out
    for stages with per-task setup cost (e.g. Python workers).

    *key*: optional partitioning expression.  When the downstream plan
    hash-partitions on a known expression anyway (a window's partitionBy,
    a groupBy key), passing it here makes the fan-out exchange satisfy
    that requirement so the plan keeps ONE exchange instead of
    round-robin + hash (guide §2.4).  The key must spread well (high
    cardinality relative to the core count); results are unaffected
    either way — callers are aggregations, per-row maps, or windows with
    deterministic ordering."""
    target = spark.sparkContext.defaultParallelism
    if cap is not None:
        target = min(cap, target)
    files = scan_df.inputFiles()
    if len(files) >= target:
        return df
    total = 0
    for uri in files:
        path = uri[5:] if uri.startswith("file:") else uri
        if not os.path.isfile(path):
            return df  # remote/unknown: fail safe, no shuffle
        total += os.path.getsize(path)
    if total > FAN_OUT_MAX_BYTES:
        return df
    if key is not None:
        return df.repartition(target, key)
    return df.repartition(target)


def post_shuffle_filter(df: DataFrame, cond: Column) -> DataFrame:
    """Filter that STAYS where it is written instead of being pushed back
    below an upstream exchange (opt guide §2.2: keep the expensive work in
    the wide stage).

    Catalyst's ``PushPredicateThroughNonJoin`` pushes every deterministic
    conjunct through a repartition, which re-pins a CPU-heavy gate
    (regex tokenization, per-char scans) to the starved single-split scan
    stage that ``fan_out_scan`` exists to escape.  Only predicates
    Catalyst classifies nondeterministic stay put, so the gate is wrapped
    as ``CASE WHEN spark_partition_id() >= 0 THEN cond END``: partition
    ids are non-negative by definition, so the value is exactly ``cond``
    row-for-row on any data (and the guard costs nothing per row), but
    the ``spark_partition_id()`` reference marks the single un-splittable
    conjunct nondeterministic and anchors it at its written position.
    (A bare always-true conjunct does NOT work: ``rand()`` bound checks
    are constant-folded by Spark 4, and an AND is split so the
    deterministic legs push anyway — both verified.)  Results are
    unchanged; only the plan position moves.  When the guard in
    ``fan_out_scan`` declined to add an exchange there is nothing to
    push through and the barrier is a no-op wrapper."""
    return df.where(F.when(F.spark_partition_id() >= F.lit(0), cond))
