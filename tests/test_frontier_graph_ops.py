"""Round-4 additions: Jaccard link prediction, DAG critical path,
chi-square term selection, Pareto frontier, video frame-sample plan.

Each op also has a hash-checked DuckDB oracle in ``__spark_entry__``;
these tests pin the algorithmic invariants the oracle can't see
(dominance, monotonicity, fixpoint detection, cap semantics)."""

import pytest
from pyspark.sql import functions as F

from extractor.ops import md5_bucket

SF = "/root/testdata/sf0.001"


def _graph(spark):
    import __spark_entry__ as entry

    return entry._layered_domain_graph(spark, SF)


def test_linkpred_pairs_are_nonedges_with_valid_scores(spark):
    from extractor.ops.links import jaccard_linkpred

    g = _graph(spark)
    out = jaccard_linkpred(g, max_degree=8, top_n=30).collect()
    assert 0 < len(out) <= 30
    edges = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in g.collect()
        if r.src != r.dst
    }
    for r in out:
        assert r.a < r.b
        assert (r.a, r.b) not in edges, "predicted an existing edge"
        assert 0 < r.score_ppm <= 1_000_000
        assert r.common >= 1


def test_linkpred_degree_cap_excludes_hub_centers(spark):
    """With the cap at 1, only degree-1 wedge centers count — strictly
    fewer (or equal) candidate pairs than the uncapped run, and every
    score still a valid Jaccard."""
    from extractor.ops.links import jaccard_linkpred

    g = _graph(spark)
    tight = jaccard_linkpred(g, max_degree=1, top_n=1000).count()
    loose = jaccard_linkpred(g, max_degree=1000, top_n=1000).count()
    assert tight <= loose


def test_dag_depth_satisfies_edge_recurrence(spark):
    from extractor.ops.links import dag_longest_path

    g = _graph(spark)
    depth = {r.node: r.depth for r in dag_longest_path(g).collect()}
    dag = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in g.collect()
        if r.src != r.dst
    }
    assert min(depth.values()) == 0
    # fixpoint: every edge relaxed (longest-path recurrence holds) and
    # every non-source's depth is realized by some in-edge
    for s, d in dag:
        assert depth[d] >= depth[s] + 1
    in_edges = {}
    for s, d in dag:
        in_edges.setdefault(d, []).append(s)
    for node, dep in depth.items():
        if dep > 0:
            assert node in in_edges
            assert dep == 1 + max(depth[s] for s in in_edges[node])


def test_dag_raises_when_round_budget_too_small(spark):
    from extractor.ops.links import dag_longest_path

    with pytest.raises(RuntimeError, match="fixpoint"):
        dag_longest_path(_graph(spark), max_rounds=1)


def test_term_chi2_requires_both_classes(spark):
    from extractor.ops.textops import term_chi2_topk

    with pytest.raises(ValueError, match="both classes"):
        term_chi2_topk(spark, SF, pos_lang="nosuchlang")


def test_term_chi2_scores_nonnegative_and_df_gated(spark):
    from extractor.ops.textops import term_chi2_topk

    rows = term_chi2_topk(spark, SF, k=10, min_df=2).collect()
    assert rows
    for r in rows:
        assert r.chi2_micro >= 0
        assert r.df >= 2
        assert 0 <= r.pos_df <= r.df
    scores = [r.chi2_micro for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_pareto_frontier_matches_naive_dominance(spark):
    """The two-level decomposition must equal the O(n²) definition."""
    from extractor.ops.relational import pareto_frontier

    got = {
        (r.x, r.y, r.n_docs)
        for r in pareto_frontier(spark, SF, bucket_width=64).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    y = md5_bucket("pareto:", "doc_id", mod=1000000)
    pts = (
        docs.select(F.col("n_chars").cast("long").alias("x"), y.alias("y"))
        .groupBy("x", "y")
        .count()
        .collect()
    )
    naive = set()
    for p in pts:
        dominated = any(
            q.x >= p.x and q.y >= p.y and (q.x > p.x or q.y > p.y)
            for q in pts
        )
        if not dominated:
            naive.add((p.x, p.y, p["count"]))
    assert got == naive and got


def test_pareto_frontier_bucket_width_invariant(spark):
    from extractor.ops.relational import pareto_frontier

    a = sorted(
        map(tuple, pareto_frontier(spark, SF, bucket_width=16).collect())
    )
    b = sorted(
        map(tuple, pareto_frontier(spark, SF, bucket_width=4096).collect())
    )
    assert a == b


def test_frame_sample_plan_shape_and_bounds(spark):
    from extractor.ops.multimodal import frame_sample_plan, synth_media_df

    media = synth_media_df(spark, n=60)
    out = frame_sample_plan(media, max_frames=8)
    rows = out.collect()
    assert rows
    n_videos = media.where(F.col("kind") == "video").count()
    per = {}
    for r in rows:
        per.setdefault(r.media_id, []).append(r)
    assert len(per) == n_videos
    for frames in per.values():
        frames.sort(key=lambda r: r.frame_no)
        assert len(frames) <= 8
        idxs = [r.frame_idx for r in frames]
        assert idxs == sorted(idxs)
        assert all(0 <= i < frames[0].total_frames for i in idxs)
        assert frames[0].frame_idx == 0
        for r in frames:
            assert r.ts_ms >= 0


def test_frame_sample_plan_is_map_only(spark):
    """No Exchange anywhere: the sampling plan must stay a pure map."""
    from extractor.ops.multimodal import frame_sample_plan, synth_media_df

    plan = frame_sample_plan(
        synth_media_df(spark, n=40)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
