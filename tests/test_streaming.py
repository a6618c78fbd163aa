"""Streaming extraction: exactly-once incremental processing, batch parity."""

from extractor.pipeline import extract_transcripts
from extractor.streaming import stream_extract
from extractor.transcripts import transcripts_df


def _key_rows(rows):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["error"])
        for r in rows
    )


def test_streaming_matches_batch_and_is_exactly_once(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    full = transcripts_df(spark, n_convs=24, mean_turns=8, seed=11)
    chunk_a = full.where("conv_id < 'conv_00000012'")
    chunk_b = full.where("conv_id >= 'conv_00000012'")

    # chunk A arrives; drain
    chunk_a.write.mode("append").parquet(input_dir)
    q = stream_extract(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)
    n_after_a = spark.read.parquet(out_dir).count()
    assert n_after_a == chunk_a.count()

    # chunk B arrives; restart stream from the SAME checkpoint
    chunk_b.write.mode("append").parquet(input_dir)
    q = stream_extract(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).collect()
    assert len(got) == full.count()  # chunk A not reprocessed (exactly-once)

    batch = extract_transcripts(full, sort_output=False).collect()
    assert _key_rows(got) == _key_rows(batch)  # per-turn parity with batch

    # third run with nothing new: no duplicate output
    q = stream_extract(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == full.count()
