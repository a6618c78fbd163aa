"""JSONL training-shard export sink: the pipeline terminal that turns
packed training data into the newline-delimited-JSON shard files a
trainer's data loader actually reads, with an atomically-published,
read-back-verified manifest.

ALL data is written to a staging directory, the manifest is computed by
READING THE STAGED FILES BACK (not from the upstream DataFrame — the
manifest certifies what is on disk, not what was supposed to be),
written into the staging dir, and only then is the directory committed
with ``extractor.publish`` (staging, swap and crash recovery).

Scale posture (100 TB): one shuffle (``repartition`` on the shard key)
co-locates each shard into a single task so ``partitionBy`` emits one
file per shard instead of tasks × shards fragments; shard count is
chosen by the caller (seqs-per-shard), so file sizes are controlled
regardless of corpus size.  The verification read-back costs one extra
scan of the written bytes — the price of a manifest that certifies disk
contents; at scale it parallelizes like any other scan and can be
sampled instead (parameter left to callers).

The reference has no training-export surface (it stops at per-document
markdown files, ``/root/reference/app/core/document_converter.py``);
this is part of the training-pipeline extension, the terminal of the
``pack_sequences`` → shards story.
"""
from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from extractor import publish

MANIFEST_NAME = "_export_manifest.json"


def export_jsonl_shards(df: DataFrame, out_dir: str) -> dict:
    """Write *df* as gzip JSONL shard files partitioned by ``shard``,
    publish atomically, and return the verified manifest (per-shard row
    counts computed from the staged files).  Overwrites any previous
    export at *out_dir*."""
    spark = df.sparkSession
    tmp = publish.stage(out_dir)
    (
        df.repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "gzip")
        .json(tmp)
    )
    has_data = any(f.startswith("shard") for f in os.listdir(tmp))
    if has_data:
        staged = spark.read.json(tmp)
        counts = {
            int(r["shard"]): int(r["n"])
            for r in staged.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    else:
        # empty input: partitionBy wrote no partition dirs (only
        # _SUCCESS) and read.json would fail schema inference — an
        # empty export is still a publishable, manifest-carrying state
        counts = {}
    manifest = {
        "shards": {str(k): v for k, v in sorted(counts.items())},
        "n_rows": sum(counts.values()),
        "n_shards": len(counts),
    }
    with open(os.path.join(tmp, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    publish.publish(out_dir)
    return manifest


def read_export_manifest(out_dir: str) -> dict:
    """Load a published export's manifest; raises FileNotFoundError for
    an unpublished (crashed-before-rename) export — staging dirs are
    never visible here."""
    with open(os.path.join(out_dir, MANIFEST_NAME)) as f:
        return json.load(f)


SEQS_PER_SHARD = 4  # packed sequences per exported shard


def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end export entry: pack the corpus (``dedup.pack_sequences``),
    assign ``shard = floor(seq_id / SEQS_PER_SHARD)``, export JSONL
    shards to a scratch directory, then RE-READ the published files and
    return per-shard ``(shard, n_docs, sum_tok)`` — so the oracle
    comparison certifies the bytes that actually landed on disk against
    DuckDB's independent computation of what should have."""
    import tempfile

    from extractor.ops.dedup import pack_sequences

    packed = pack_sequences(spark, sf_dir).withColumn(
        "shard", F.floor(F.col("seq_id") / SEQS_PER_SHARD)
    )
    out_dir = os.path.join(
        tempfile.mkdtemp(prefix="export-demo-"), "shards"
    )
    export_jsonl_shards(packed, out_dir)
    published = spark.read.json(out_dir)
    return (
        published.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tok"),
        )
    )
