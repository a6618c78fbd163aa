"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Pixels are never decoded: the reference counts extracted media files and
runs its text conversion with images ignored, and the engine keeps that
rule (the router sniffs and counts image payloads; ``pdf_to_text`` skips
image XObjects).  Only the self-describing synthetic ``FAKEIMG|`` payload
below is parsed; any other payload raises ``NotImplementedError`` →
contained error rows.  Everything Spark-side is real and tested: the
binary-column schema, the Arrow batch shape through ``arrow_stage`` (bytes
round-trip), partition-size control for large blobs, and the
feature-extraction output schema.

Synthetic payload format (deterministic, self-describing):
    b"FAKEIMG|<width>|<height>|<fmt>|" + pseudo-random pixel bytes
so the feature kernel can be exercised end-to-end without codecs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from extractor.session import arrow_stage

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("error", T.StringType()),
    ]
)


MEDIA_ROWS = 200  # synthetic media rows
MEDIA_SEED = 42  # their payload seed


def synth_media_df(spark: SparkSession) -> DataFrame:
    """Deterministic synthetic media table — generated on executors, like
    ``extractor.transcripts`` (no driver-side data)."""

    def gen(batch):
        kinds = ("image", "audio", "video")
        fmts = ("png", "jpg", "bmp")
        rows = []
        for i in batch.column("id").to_pylist():
            h = hashlib.md5(f"{MEDIA_SEED}:{i}".encode()).digest()
            width = 16 + h[0] % 64
            height = 16 + h[1] % 64
            fmt = fmts[h[2] % 3]
            body = (h * ((width * height) // len(h) + 1))[: width * height]
            payload = f"FAKEIMG|{width}|{height}|{fmt}|".encode() + body
            rows.append(
                (
                    i,
                    kinds[h[3] % 3],
                    payload,
                    {
                        "width": width,
                        "height": height,
                        "format": fmt,
                        "n_bytes": len(payload),
                    },
                )
            )
        return [[r[k] for r in rows] for k in range(len(MEDIA_SCHEMA))]

    return arrow_stage(spark.range(MEDIA_ROWS), gen, MEDIA_SCHEMA)


def decode_payload(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a synthetic ``FAKEIMG|`` payload to ``(width, height,
    pixel_bytes)``.  Real image bytes carry no codec here — they raise
    ``NotImplementedError``; callers convert that to an error row."""
    if payload is None:
        raise ValueError("null payload")
    payload = bytes(payload)
    if not payload.startswith(b"FAKEIMG|"):
        raise NotImplementedError(
            "no image codec: only synthetic FAKEIMG| payloads are decoded"
        )
    _, w, h, _fmt, body = payload.split(b"|", 4)
    return int(w), int(h), body


def extract_features(media: DataFrame) -> DataFrame:
    """Decode → fixed-dim feature vector, as an Arrow-batched kernel.
    Per-row errors are contained (O4 semantics), never failing the batch.

    Scale: blobs make rows heavy — pair with a LOW arrow batch size and
    ``spark.sql.files.maxPartitionBytes`` sized so (batch rows × blob size)
    fits executor memory; the kernel itself is O(batch bytes)."""

    def kernel(batch):
        import numpy as np

        out = []
        for media_id, payload in zip(
            batch.column("media_id").to_pylist(),
            batch.column("payload").to_pylist(),
        ):
            try:
                w, h, body = decode_payload(payload)
                arr = np.frombuffer(body, dtype=np.uint8).astype(np.float32)
                # deterministic pooled "embedding": mean over strided bins
                pad = (-len(arr)) % FEATURE_DIM
                if pad:
                    arr = np.pad(arr, (0, pad))
                feats = arr.reshape(FEATURE_DIM, -1).mean(axis=1) / 255.0
                out.append((media_id, w, h, [float(x) for x in feats], None))
            except Exception as exc:
                out.append((media_id, None, None, None, str(exc)[:200]))
        return [[r[k] for r in out] for k in range(len(FEATURE_SCHEMA))]

    return arrow_stage(
        media.select("media_id", "payload"), kernel, FEATURE_SCHEMA
    )


DHASH_BITS = 8  # dHash bits per image


def dhash_groups(features: DataFrame) -> DataFrame:
    """Perceptual-hash (dHash) near-duplicate bucketing over the feature
    vectors — image dedup for a multimodal corpus: the gradient hash
    (Krawetz's dHash, public) sets bit *i* iff ``f[i] > f[i+1]``, so
    visually-similar images (similar pooled intensity profiles) land in
    the same bucket regardless of absolute brightness.  Buckets with ≥2
    members are the near-dup candidate groups an exact verifier would
    re-rank — the same bucket-then-verify topology as MinHash-LSH, on
    the image axis.

    The comparison chain is a pure codegen'd ``aggregate(sequence)``
    over the feature array (map-only, no Python); grouping is ONE
    dhash-keyed agg.  With the feature kernel's float32 values emulated
    exactly by the oracle, even the float comparisons are
    engine-reproducible.  Output: ``(dhash, n_media, min_media_id,
    max_media_id)`` for each candidate group."""
    sig = F.expr(
        f"aggregate(sequence(0, {DHASH_BITS - 1}), CAST(0 AS BIGINT),"
        " (acc, i) -> acc + CAST(CASE WHEN"
        "   element_at(features, CAST(i + 1 AS INT)) >"
        "   element_at(features, CAST(i + 2 AS INT))"
        " THEN 1 ELSE 0 END AS BIGINT)"
        " * shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)))"
    )
    return (
        features.where(F.col("features").isNotNull())
        .select("media_id", sig.alias("dhash"))
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.min("media_id").alias("min_media_id"),
            F.max("media_id").alias("max_media_id"),
        )
        .where(F.col("n_media") >= 2)
    )


MAX_FRAMES = 8  # frames sampled per video at most


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Deterministic video frame-sampling PLAN: for every ``video`` row,
    the evenly-spaced frame indices a decode stage would extract — the
    Spark-side half of video ingestion (the actual frame decode needs a
    codec library absent here, exactly like ``decode_payload``; the
    plumbing — schema, per-frame rows, timestamps — is real and
    oracle-checked).

    Stream parameters derive deterministically from the typed metadata
    (no codec probe): ``duration_s = 5 + (width - 16)`` and fps by
    container format (png→24, jpg→30, bmp→60 — stand-ins for real
    containers).  ``n = min(MAX_FRAMES, total_frames)`` indices, the
    i-th at ``frame_idx = i * total_frames DIV n`` (the uniform sampler
    every video pipeline uses), with its millisecond timestamp
    ``ts_ms = frame_idx * 1000 DIV fps``.

    Scale shape: map-only — one ``sequence``/``posexplode`` per video
    row (≤ MAX_FRAMES rows out per video, never total_frames), all
    JVM-side; no shuffle, no Python.  Partition count follows the
    input, so a downstream decode kernel (Arrow-batched, like
    ``extract_features``) inherits sane batch sizes.

    Output: ``(media_id, frame_no, frame_idx, ts_ms, total_frames)``."""
    vids = media.where(F.col("kind") == "video").select(
        "media_id",
        (F.lit(5) + F.col("meta.width") - F.lit(16))
        .cast("long")
        .alias("duration_s"),
        F.when(F.col("meta.format") == "png", F.lit(24))
        .when(F.col("meta.format") == "jpg", F.lit(30))
        .otherwise(F.lit(60))
        .cast("long")
        .alias("fps"),
    )
    vids = vids.withColumn(
        "total_frames", F.col("duration_s") * F.col("fps")
    ).withColumn(
        "n", F.least(F.lit(MAX_FRAMES).cast("long"), F.col("total_frames"))
    )
    return vids.select(
        "media_id",
        "total_frames",
        "fps",
        "n",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1)).alias(
            "frame_no", "_i"
        ),
    ).select(
        "media_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.expr("frame_no * total_frames DIV n").alias("frame_idx"),
        F.expr("(frame_no * total_frames DIV n) * 1000 DIV fps").alias(
            "ts_ms"
        ),
        "total_frames",
    )
