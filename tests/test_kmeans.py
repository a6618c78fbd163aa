"""Distributed Lloyd's k-means: convergence, consistency, determinism."""

import math

from extractor.ops import similarity

SF = "/root/testdata/sf0.001"


def _kmeans(spark, monkeypatch, sf, k, iters):
    monkeypatch.setattr(similarity, "KMEANS_K", k)
    monkeypatch.setattr(similarity, "KMEANS_ITERS", iters)
    return similarity.kmeans_topics(spark, sf)


def _inertia(rows):
    return sum(r["sq_dist"] for r in rows)


def test_kmeans_partitions_and_improves(spark, monkeypatch):
    one_round = _kmeans(spark, monkeypatch, SF, 8, 1).collect()
    many = _kmeans(spark, monkeypatch, SF, 8, 5).collect()
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert len(many) == n
    assert {r["cluster"] for r in many} <= set(range(8))
    assert len({r["cluster"] for r in many}) > 1
    # Lloyd's iterations never increase inertia
    assert _inertia(many) <= _inertia(one_round) + 1e-6
    # every sq_dist is a real squared distance
    assert all(r["sq_dist"] >= -1e-9 for r in many)


def test_kmeans_deterministic(spark, monkeypatch):
    a = sorted(
        (r["vec_id"], r["cluster"])
        for r in _kmeans(spark, monkeypatch, SF, 8, 3).collect()
    )
    b = sorted(
        (r["vec_id"], r["cluster"])
        for r in _kmeans(spark, monkeypatch, SF, 8, 3).collect()
    )
    assert a == b


def test_kmeans_converged_assignment_is_nearest_centroid(spark, monkeypatch):
    """Run to convergence (the loop breaks when centroids stop moving):
    at a Lloyd fixed point, centroids equal their clusters' means, so each
    vector's assigned cluster must be the argmin-distance centroid of the
    means rebuilt from the emitted assignment itself."""
    import numpy as np

    rows = _kmeans(spark, monkeypatch, SF, 8, 60).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    sums, counts = {}, {}
    for r in rows:
        c = r["cluster"]
        sums[c] = sums.get(c, 0) + emb[r["vec_id"]]
        counts[c] = counts.get(c, 0) + 1
    cents = sorted(cents_id for cents_id in sums)
    cmat = np.stack([sums[c] / counts[c] for c in cents])
    for r in rows:
        v = emb[r["vec_id"]]
        d2 = ((cmat - v) ** 2).sum(axis=1)
        best = cents[int(d2.argmin())]
        assert r["cluster"] == best or math.isclose(
            d2.min(), ((cmat[cents.index(r["cluster"])] - v) ** 2).sum(),
            rel_tol=1e-9, abs_tol=1e-9,
        ), (r["vec_id"], r["cluster"], best)


def test_kmeans_sparse_vec_ids_and_too_few_rows(spark, monkeypatch, tmp_path):
    """Seeding must use the first k rows by vec_id ORDER, not `vec_id < k`:
    sparse / non-0-based ids would otherwise silently under-seed."""
    import numpy as np
    import pandas as pd
    import pytest

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            # ids start at 1000 — `vec_id < k` would find zero seed rows
            "vec_id": np.arange(1000, 1024, dtype=np.int64),
            "embedding": [
                rng.normal(size=8).astype(np.float32).tolist()
                for _ in range(24)
            ],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/embeddings.parquet")
    out = _kmeans(spark, monkeypatch, sf, 4, 3).collect()
    assert len(out) == 24
    assert len({r["cluster"] for r in out}) > 1

    with pytest.raises(ValueError, match="needs >= k"):
        _kmeans(spark, monkeypatch, sf, 100, 1)
