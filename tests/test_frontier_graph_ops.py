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
    out = jaccard_linkpred(g).collect()
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


def test_linkpred_degree_cap_excludes_hub_centers(spark, monkeypatch):
    """With the cap at 1, only degree-1 wedge centers count — strictly
    fewer (or equal) candidate pairs than the uncapped run, and every
    score still a valid Jaccard."""
    from extractor.ops import links

    g = _graph(spark)
    monkeypatch.setattr(links, "LINKPRED_TOP_N", 1000)
    monkeypatch.setattr(links, "LINKPRED_MAX_DEGREE", 1)
    tight = links.jaccard_linkpred(g).count()
    monkeypatch.setattr(links, "LINKPRED_MAX_DEGREE", 1000)
    loose = links.jaccard_linkpred(g).count()
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


@pytest.mark.parametrize(
    "max_rounds, value, converged, n_jobs",
    [(10, 5, True, 1 + 6), (3, 3, False, 1 + 3)],
)
def test_fixpoint_one_job_per_materialization(
    spark, max_rounds, value, converged, n_jobs
):
    """``fixpoint`` over a plan with no exchange, so that one
    localCheckpoint is one Spark job: every value climbs by one per
    round, capped at 5, so round 6 is the first that changes nothing.
    The convergence read must add no job of its own."""
    from extractor.ops import fixpoint

    start = spark.range(4).select("id", F.lit(0).cast("long").alias("v"))

    def climb(df, _r):
        return df.select("id", F.least(F.col("v") + 1, F.lit(5)).alias("v"))

    sc = spark.sparkContext
    group = f"fixpoint-{max_rounds}"
    sc.setJobGroup(group, group)
    try:
        state, done = fixpoint(
            start, climb, [F.sum("v").alias("v_sum")], max_rounds
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r.v for r in state.collect()] == [value] * 4
    assert done is converged
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == n_jobs


def test_dag_raises_when_round_budget_too_small(spark, monkeypatch):
    from extractor.ops import links

    monkeypatch.setattr(links, "DAG_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="fixpoint"):
        links.dag_longest_path(_graph(spark))


def test_term_chi2_requires_both_classes(spark, monkeypatch):
    from extractor.ops import textops

    monkeypatch.setattr(textops, "CHI2_POS_LANG", "nosuchlang")
    with pytest.raises(ValueError, match="both classes"):
        textops.term_chi2_topk(spark, SF)


def test_term_chi2_scores_nonnegative_and_df_gated(spark, monkeypatch):
    from extractor.ops import textops

    monkeypatch.setattr(textops, "CHI2_K", 10)
    monkeypatch.setattr(textops, "CHI2_MIN_DF", 2)
    rows = textops.term_chi2_topk(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.chi2_micro >= 0
        assert r.df >= 2
        assert 0 <= r.pos_df <= r.df
    scores = [r.chi2_micro for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_pareto_frontier_matches_naive_dominance(spark, monkeypatch):
    """The two-level decomposition must equal the O(n²) definition."""
    from extractor.ops import relational

    monkeypatch.setattr(relational, "PARETO_BUCKET_WIDTH", 64)
    got = {
        (r.x, r.y, r.n_docs)
        for r in relational.pareto_frontier(spark, SF).collect()
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


def test_pareto_frontier_bucket_width_invariant(spark, monkeypatch):
    from extractor.ops import relational

    monkeypatch.setattr(relational, "PARETO_BUCKET_WIDTH", 16)
    a = sorted(map(tuple, relational.pareto_frontier(spark, SF).collect()))
    monkeypatch.setattr(relational, "PARETO_BUCKET_WIDTH", 4096)
    b = sorted(map(tuple, relational.pareto_frontier(spark, SF).collect()))
    assert a == b


def test_frame_sample_plan_shape_and_bounds(spark, monkeypatch):
    from extractor.ops import multimodal
    from extractor.ops.multimodal import frame_sample_plan, synth_media_df

    monkeypatch.setattr(multimodal, "MEDIA_ROWS", 60)
    media = synth_media_df(spark)
    out = frame_sample_plan(media)
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
        synth_media_df(spark)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
