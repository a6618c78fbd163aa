"""ANN search accuracy + plan gates: approximate top-k must track the exact
scan (recall@k), and the candidate join must be bucket-local with the tiny
query side broadcast (the 100 TB plan shape)."""

import pytest

from extractor.ops import similarity
from extractor.plan_lint import formatted_plan

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("layout", ["inline", "lean"])
def test_ann_recall_vs_exact(spark, layout):
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(spark, SF).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ann_topk(spark, SF, index_layout=layout).collect()
    }
    assert exact, "exact top-k must be non-empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ANN recall ({layout}) {recall:.2f} < 0.9"


def test_ann_layouts_agree_exactly(spark):
    """Bucketing is identical, so both index layouts must return the SAME
    top-k rows, not merely the same recall."""
    inline = sorted(
        map(tuple, similarity.ann_topk(spark, SF, "inline").collect())
    )
    lean = sorted(map(tuple, similarity.ann_topk(spark, SF, "lean").collect()))
    assert inline == lean


def test_ann_rows_shape(spark):
    rows = similarity.ann_topk(spark, SF).collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_query) == set(range(similarity.N_QUERIES))
    for q, ranks in per_query.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= similarity.TOP_K


def test_ivf_recall_vs_exact(spark):
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(spark, SF).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivf_topk(spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall:.2f} < 0.9"


def test_ivf_cell_join_broadcasts_queries(spark):
    plan = formatted_plan(similarity.ivf_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    streamed = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange" not in streamed, plan


def _assert_streamed_spines_shuffle_free(plan: str):
    """Every BroadcastHashJoin's STREAMED path (first-child spine down to
    its scan/kernel leaf) must contain no Exchange: the corpus/assignment
    side always streams; only bounded sides (query buckets, deduped
    candidate ids, query vectors) are ever exchanged/broadcast."""
    from test_plan_quality import _subtree, _tree_lines

    assert "SortMergeJoin" not in plan, plan
    lines = _tree_lines(plan)
    join_idx = [
        i for i, (_, t) in enumerate(lines) if t.startswith("BroadcastHashJoin")
    ]
    assert join_idx, plan
    for i in join_idx:
        assert "BuildRight" in lines[i][1], lines[i][1]  # first child streams
        depth = lines[i][0]
        # first child = streamed side; walk its first-child spine
        j = i + 1
        spine_depth = None
        while j < len(lines) and lines[j][0] > depth:
            d, t = lines[j]
            if spine_depth is None or d == spine_depth + 3:
                # next node down the first-child spine (tree indents by 3)
                spine_depth = d if spine_depth is None else spine_depth + 3
                assert not t.startswith("Exchange"), f"shuffle on streamed spine: {t}\n{plan}"
                if t.startswith(("Scan", "MapInArrow", "BroadcastExchange")):
                    break
            j += 1


@pytest.mark.parametrize("layout", ["inline", "lean"])
def test_ann_candidate_join_is_bucket_local_broadcast(spark, layout):
    plan = formatted_plan(similarity.ann_topk(spark, SF, index_layout=layout))
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-side assignment kernel must feed a join directly
    assert "MapInArrow" in plan, plan
    _assert_streamed_spines_shuffle_free(plan)


def test_embedding_quantize_int8_roundtrip_error_bound(spark):
    """Dequantized values must sit within half a quantization step of the
    originals (the defining property of round-to-nearest symmetric
    quantization), codes must fit int8, and the plan must be map-only."""
    import numpy as np

    from extractor.ops.similarity import embedding_quantize_int8

    sf = "/root/testdata/sf0.001"
    out = {r["vec_id"]: r for r in embedding_quantize_int8(spark, sf).collect()}
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    assert len(out) == len(emb)
    for vec_id, v in zip(emb["vec_id"], emb["embedding"]):
        r = out[int(vec_id)]
        codes = np.array([int(c) for c in r["q_codes"].split(",")])
        assert codes.min() >= -127 and codes.max() <= 127
        scale = r["scale_micro"] / 1e6
        if scale == 0:
            assert not codes.any()
            continue
        deq = codes / scale
        step = 1.0 / scale
        assert np.abs(deq - np.asarray(v, dtype=np.float64)).max() <= (
            0.5 * step + 1e-6
        )
        # the max-|x| element must map to ±127 exactly
        assert np.abs(codes).max() == 127


def test_embedding_quantize_plan_map_only(spark):
    from extractor.ops.similarity import embedding_quantize_int8

    df = embedding_quantize_int8(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow"):
        assert node not in plan, node


# ---------------------------------------------------------------- SemDeDup


def _embs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_semdedup_prunes_exact_copy_keeps_min_id(spark):
    from extractor.ops.similarity import semdedup_core

    # 64-dim so the sign-bit cell coordinates (1, 17, 33, 49) exist
    base = [1.0] * 64
    ortho = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    df = _embs(spark, [(0, base), (1, list(base)), (2, ortho)])
    out = {r["vec_id"]: r for r in semdedup_core(df).collect()}
    assert out[0]["kept"] == 1          # min-id representative survives
    assert out[1]["kept"] == 0          # exact copy pruned
    assert out[2]["kept"] == 1          # cosine 0 to base: kept
    assert out[0]["cell"] == out[1]["cell"]


def test_semdedup_threshold_boundary_integer_exact(spark, monkeypatch):
    from extractor.ops import similarity
    from extractor.ops.similarity import semdedup_core

    # v0 = all ones; v1 agrees on 62 of 64 coords, negates 2:
    # cos = 60/64 = 0.9375 < 0.95 -> kept at the default threshold,
    # pruned at thr 0.93 (integer test: dot^2*1e6 vs thr^2*n2a*n2b)
    v0 = [1.0] * 64
    v1 = [1.0] * 64
    v1[2] = -1.0
    v1[3] = -1.0
    df = _embs(spark, [(0, v0), (1, v1)])
    out = {r["vec_id"]: r for r in semdedup_core(df).collect()}
    if out[0]["cell"] == out[1]["cell"]:  # same cell by construction
        assert out[1]["kept"] == 1
    monkeypatch.setattr(similarity, "SEMDEDUP_THR_MILLI", 930)
    out_low = {r["vec_id"]: r for r in semdedup_core(df).collect()}
    assert out_low[1]["kept"] == 0


def test_semdedup_cross_cell_neardup_not_pruned(spark):
    from extractor.ops.similarity import semdedup_core

    # flip the sign of coordinate 0 (a cell plane): near-identical
    # vectors land in different cells, so the cell-scoped prune misses
    # the pair — the documented SemDeDup approximation
    v0 = [0.01] + [1.0] * 63
    v1 = [-0.01] + [1.0] * 63
    df = _embs(spark, [(0, v0), (1, v1)])
    out = {r["vec_id"]: r for r in semdedup_core(df).collect()}
    assert out[0]["cell"] != out[1]["cell"]
    assert out[0]["kept"] == 1 and out[1]["kept"] == 1


def test_semdedup_planted_view_prunes_only_planted(spark):
    from extractor.ops.similarity import (
        planted_dup_embeddings,
        semdedup_prune,
    )

    sf = "/root/testdata/sf0.001"
    out = semdedup_prune(spark, sf).collect()
    pruned = {r["vec_id"] for r in out if r["kept"] == 0}
    assert pruned, "planted copies must prune"
    # every pruned id is a planted copy (md5 first hex < '4') that is
    # not its own group canonical
    import hashlib

    for vid in pruned:
        assert hashlib.md5(str(vid).encode()).hexdigest()[0] < "4"
        assert vid % 5 != 0 or True  # canonical may prune onto an
        # earlier planted twin within the same cell — only the md5
        # condition is guaranteed


def test_conv_embedding_pool_exact_sums(spark):
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from extractor.ops.similarity import conv_embedding_pool

    sf = "/root/testdata/sf0.001"
    out = {r["conv_id"]: r for r in conv_embedding_pool(spark, sf).collect()}
    # python third implementation
    tbl = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    pools, counts = {}, {}
    for vid, emb in zip(tbl["vec_id"], tbl["embedding"]):
        v = np.asarray(emb, dtype=np.float64)
        m = np.abs(v).max()
        scale = 127.0 / m if m > 0 else 0.0
        # numpy rint is half-even; Spark/DuckDB round is half-up — do
        # it per-element the portable way
        q = np.array(
            [int(np.floor(x * scale + 0.5)) if x * scale >= 0
             else -int(np.floor(-x * scale + 0.5)) for x in v],
            dtype=np.int64,
        )
        c = int(vid) % 40
        pools[c] = pools.get(c, np.zeros(len(q), dtype=np.int64)) + q
        counts[c] = counts.get(c, 0) + 1
    for c, vec in pools.items():
        assert out[c]["n_vecs"] == counts[c]
        assert out[c]["pooled"] == ",".join(str(int(x)) for x in vec)
        assert out[c]["l1"] == int(np.abs(vec).sum())


def test_conv_offtopic_flags_planted_outlier(spark):
    from pyspark.sql import functions as F

    from extractor.ops.similarity import conv_offtopic_turns

    # verify on real data against a python recomputation of one conv
    import numpy as np
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.001"
    out = {
        r["conv_id"]: r for r in conv_offtopic_turns(spark, sf).collect()
    }
    tbl = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()

    def quant(v):
        v = np.asarray(v, dtype=np.float64)
        m = np.abs(v).max()
        s = 127.0 / m if m > 0 else 0.0
        return np.array(
            [int(np.floor(x * s + 0.5)) if x * s >= 0
             else -int(np.floor(-x * s + 0.5)) for x in v],
            dtype=np.int64,
        )

    groups = {}
    for vid, emb in zip(tbl["vec_id"], tbl["embedding"]):
        groups.setdefault(int(vid) % 40, []).append((int(vid), quant(emb)))
    for conv, members in groups.items():
        if len(members) < 2:
            assert conv not in out
            continue
        S = np.sum([q for _, q in members], axis=0)
        rels = sorted(
            (int(q @ (S - q)), vid) for vid, q in members
        )
        assert out[conv]["outlier_vec"] == rels[0][1]
        assert out[conv]["rel_dot"] == rels[0][0]
        assert out[conv]["n_vecs"] == len(members)
