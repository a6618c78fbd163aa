#!/usr/bin/env python
"""Cluster job entry point — the `spark-submit` deployment path:

    scripts/make_zip.sh
    spark-submit --master <cluster> --py-files dist/extractor.zip \
        scripts/run_extraction.py \
        --input  <transcripts table/path> \
        --output <extracted table/path> \
        --checkpoint <checkpoint dir> \
        [--snapshot-id snap-001] [--n-buckets 4096] [--groups 32] \
        [--partition-mode map_only|hash_conv] [--max-retries 3]

Reads the transcripts table (parquet here; Iceberg on a real deployment is
the same `spark.read.format("iceberg").load(...)` call), runs the resumable
checkpointed extraction (extractor.checkpoint), writes the extracted table
bucketed by conv-hash, and appends per-partition lineage/metrics rows to
``<output>_lineage``.  Re-running after a failure resumes from the
checkpoint table and processes only unfinished buckets.

On a cluster, size --n-buckets so one bucket ≈ tens of GB of input and
--groups so one commit group ≈ a few minutes of work (commit granularity =
resume granularity).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--checkpoint", required=True)
    parser.add_argument("--snapshot-id", default="snap-0")
    parser.add_argument("--n-buckets", type=int, default=64)
    parser.add_argument("--groups", type=int, default=8)
    parser.add_argument("--max-retries", type=int, default=3)
    parser.add_argument(
        "--partition-mode", choices=("map_only", "hash_conv"), default="map_only"
    )
    parser.add_argument(
        "--stream",
        action="store_true",
        help="run as a Structured Streaming job (continuous ingest from "
        "--input; exactly-once via the streaming checkpoint) instead of the "
        "batch bucket-checkpoint job",
    )
    args = parser.parse_args()

    # Import AFTER spark-submit has put --py-files on sys.path.
    from pyspark.sql import SparkSession

    from extractor.checkpoint import run_with_checkpoint
    from extractor.pipeline import lineage_manifest

    spark = SparkSession.builder.appName("transcript-extraction").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.stream:
        from extractor.streaming import stream_extract

        query = stream_extract(spark, args.input, args.output, args.checkpoint)
        query.awaitTermination()
        extracted = spark.read.parquet(args.output)
        lineage_manifest(extracted).write.mode("append").parquet(
            args.output.rstrip("/") + "_lineage"
        )
        print(json.dumps({"status": "COMPLETED", "mode": "stream",
                          "rows": extracted.count()}))
        return 0

    df = spark.read.parquet(args.input)
    summary = run_with_checkpoint(
        df,
        out_dir=args.output,
        ckpt_dir=args.checkpoint,
        snapshot_id=args.snapshot_id,
        n_buckets=args.n_buckets,
        groups_per_round=args.groups,
        max_retries=args.max_retries,
        partition_mode=args.partition_mode,
    )

    extracted = spark.read.parquet(args.output)
    lineage_manifest(extracted).write.mode("append").parquet(
        args.output.rstrip("/") + "_lineage"
    )

    print(json.dumps(summary))
    return 0 if summary["status"] == "COMPLETED" else 1


if __name__ == "__main__":
    sys.exit(main())
