#!/usr/bin/env python
"""Cluster job entry point for the TRAINING-DATA side — the curation
twin of ``run_extraction.py``:

    scripts/make_zip.sh
    spark-submit --master <cluster> --py-files dist/extractor.zip \
        scripts/run_curation.py \
        --input  <documents table/path> \
        --output <curated table/path> \
        [--stages gate,dedup,split,chunk] [--chunk-tokens 64] \
        [--overlap 16] [--report]

Runs the pretraining-corpus preparation DAG (quality gates → exact-dedup
keeper → deterministic train/val/test split → token chunking — the same
composition certified by the ``pretrain_pipeline`` oracle) over a
documents table and writes the curated output partitioned by split, so
downstream training readers prune their split at the directory level.
``--stages`` truncates the DAG from the right for partial runs (e.g.
``gate,dedup`` re-curates without re-chunking).  ``--report`` also
writes the per-source curation funnel (``curation_report``) next to the
output — the acceptance numbers a data owner signs off on.

Everything is one declarative plan per run: Catalyst pushes the gates
into the scan; the only data shuffle is the dedup keeper window (split
and chunking are map-only on its output) plus the partitioned write.
"""

from __future__ import annotations

import argparse
import json
import sys

STAGES = ("gate", "dedup", "split", "chunk")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--stages", default="gate,dedup,split,chunk")
    parser.add_argument("--chunk-tokens", type=int, default=64)
    parser.add_argument("--overlap", type=int, default=16)
    parser.add_argument("--report", action="store_true")
    args = parser.parse_args()

    stages = tuple(s.strip() for s in args.stages.split(",") if s.strip())
    bad = [s for s in stages if s not in STAGES]
    if bad or list(stages) != [s for s in STAGES if s in stages]:
        parser.error(
            f"--stages must be a prefix-ordered subset of {STAGES}; got {stages}"
        )

    # Import AFTER spark-submit has put --py-files on sys.path.
    from pyspark.sql import SparkSession, functions as F
    from pyspark.sql.window import Window

    spark = SparkSession.builder.appName("corpus-curation").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    docs = (
        spark.read.parquet(args.input)
        .where(F.col("text").isNotNull())
    )

    if "gate" in stages:
        toks = F.split(F.trim("text"), r"\s+")
        n_tokens = F.size(toks)
        mean_wl = F.length(F.regexp_replace("text", r"\s+", "")) / n_tokens
        docs = docs.where(
            F.col("n_chars").between(100, 50 * 1024 * 1024)
            & (n_tokens >= 20)
            & (mean_wl < 15)
        )
    if "dedup" in stages:
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        docs = (
            docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    if "split" in stages:
        from extractor.ops import md5_bucket

        bucket = md5_bucket("split:", "doc_id", mod=1000)
        docs = docs.withColumn(
            "split",
            F.when(bucket < 980, "train")
            .when(bucket < 990, "val")
            .otherwise("test"),
        )
    if "chunk" in stages:
        from extractor.ops.dedup import chunk_df

        keep = [c for c in ("doc_id", "split") if c in docs.columns]
        chunks = chunk_df(
            docs, chunk_tokens=args.chunk_tokens, overlap=args.overlap
        )
        docs = chunks.join(docs.select(*keep), "doc_id") if (
            "split" in docs.columns
        ) else chunks

    writer = docs.write.mode("overwrite")
    if "split" in docs.columns:
        writer = writer.partitionBy("split")
    writer.parquet(args.output)

    out = spark.read.parquet(args.output)
    summary = {"status": "COMPLETED", "stages": list(stages),
               "rows": out.count()}
    if "split" in out.columns:
        summary["per_split"] = {
            r["split"]: r["n"]
            for r in out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    if args.report:
        from extractor.ops.textops import curation_report

        import os

        report = curation_report(spark, os.path.dirname(args.input.rstrip("/")))
        report.coalesce(1).write.mode("overwrite").parquet(
            args.output.rstrip("/") + "_report"
        )
        summary["report"] = args.output.rstrip("/") + "_report"

    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
