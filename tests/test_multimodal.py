"""Multimodal plumbing tests: binary columns through Arrow batches and the
synthetic-payload parse, with error rows for real image bytes."""

from extractor.ops import multimodal as mm


def test_synth_media_deterministic(spark):
    a = mm.synth_media_df(spark).collect()
    b = mm.synth_media_df(spark).collect()
    am = {r["media_id"]: bytes(r["payload"]) for r in a}
    bm = {r["media_id"]: bytes(r["payload"]) for r in b}
    assert am == bm
    row = a[0]
    assert row["meta"]["n_bytes"] == len(bytes(row["payload"]))


def test_extract_features_shapes_and_errors(spark, monkeypatch):
    monkeypatch.setattr(mm, "MEDIA_ROWS", 40)
    media = mm.synth_media_df(spark)
    feats = mm.extract_features(media).collect()
    assert len(feats) == 40
    ok = [r for r in feats if r["error"] is None]
    assert len(ok) == 40
    for r in ok[:5]:
        assert len(r["features"]) == mm.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["features"])

    # a non-synthetic payload must yield an error ROW (NotImplementedError
    # contained), not a job failure
    bad = spark.createDataFrame(
        [(999, b"\x89PNG not really")], "media_id long, payload binary"
    )
    out = mm.extract_features(bad).collect()
    assert out[0]["error"] is not None
    assert "codec" in out[0]["error"]
