"""Physical-plan quality gates: these assert the plans we *designed for*,
not just any plan that returns correct rows (100 TB posture):

- point lookups and filters reach the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema excludes unused columns)
- dim joins broadcast (BroadcastHashJoin, no shuffle of the fact side)
- map-only extraction has NO Exchange before the Python stage
- aggregations are partial (two HashAggregate levels, map-side combine)
"""

import pytest
from pyspark.sql import functions as F

from extractor.ops import relational
from extractor.pipeline import extract_transcripts
from extractor.plan_lint import formatted_plan
from extractor.transcripts import transcripts_df

SF = "/root/testdata/sf0.001"


def _n_exchanges(plan: str) -> int:
    """Count physical Exchange operators via their detail headers — the
    formatted plan prints each node twice (tree + detail section)."""
    import re as _re

    return len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M))


def test_point_lookup_pushdown(spark):
    plan = formatted_plan(relational.s7_point_lookup(spark, SF))
    assert "PushedFilters" in plan
    assert "EqualTo(doc_id,42)" in plan.replace(" ", "").replace("\n", "") or (
        "doc_id" in plan and "PushedFilters: [" in plan
    )


def test_column_pruning_reaches_scan(spark):
    plan = formatted_plan(relational.o1_turn_ordering(spark, SF))
    # events has 6 columns; this query needs 4 — props/value must be pruned
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "props" not in read_schema[0]
    assert "value" not in read_schema[0]


def test_q3_broadcasts_dimension(spark):
    plan = formatted_plan(relational.q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the customer-side filter must be pushed to its scan
    assert "c_mktsegment" in plan


def test_q_regional_static_broadcast_single_exchange(spark):
    plan = formatted_plan(relational.q_regional_revenue(spark, SF))
    # All three dim joins must be broadcast, and STATICALLY (the hint is
    # gated on the supplier table's on-disk size): the only Exchange in
    # the plan is the final agg shuffle.  Without the static hint the dim
    # side rides a shuffle-then-AQE-promote detour whose extra exchange
    # materialization cost ~0.3 s at sf0.1 (round-4 regression).
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_exchanges(plan) == 1, plan


def test_map_only_extraction_no_shuffle(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    out = extract_transcripts(df, partition_mode="map_only", sort_output=False)
    plan = formatted_plan(out)
    assert "Exchange" not in plan, f"map-only plan must not shuffle:\n{plan}"
    assert "MapInArrow" in plan


def _transcripts_parquet(spark, path: str):
    """A small transcripts corpus read back from parquet, so the plan's
    only Python stage is the one under test (``transcripts_df`` itself
    generates rows in a ``mapInPandas``)."""
    transcripts_df(spark, n_convs=6, mean_turns=4, seed=5).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("mode", ["map_only", "hash_conv"])
def test_extraction_stage_is_map_in_arrow(spark, tmp_path, mode):
    """The extraction kernel takes and returns Arrow batches: no pandas
    conversion on either side of it."""
    df = _transcripts_parquet(spark, str(tmp_path / "in"))
    plan = formatted_plan(extract_transcripts(df, partition_mode=mode))
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan, plan


def test_stream_extract_stage_is_map_in_arrow(spark, tmp_path, capsys):
    from extractor.streaming import stream_extract

    _transcripts_parquet(spark, str(tmp_path / "in"))
    q = stream_extract(
        spark, str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan, plan


def test_sorted_output_single_shuffle(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    out = extract_transcripts(df, partition_mode="map_only", sort_output=True)
    plan = formatted_plan(out)
    # exactly one Exchange node (tree line "Exchange (n)"): the output-layout
    # repartition; formatted output repeats the name in the detail section
    assert plan.count("Exchange (") == 1, plan
    assert "Sort" in plan


def test_q1_partial_aggregation(spark):
    plan = formatted_plan(relational.q1_pricing_summary(spark, SF))
    # partial + final aggregate pair => map-side combine before the shuffle
    assert plan.count("HashAggregate (") >= 2, plan
    # and the date filter must reach the scan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_extraction_scan_prunes_unused_columns(spark):
    """The kernel stage must not drag unused wide columns through Arrow."""
    df = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("event_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("props").alias("text"),
    )
    out = extract_transcripts(df, partition_mode="map_only", sort_output=False)
    plan = formatted_plan(out)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema
    assert "value" not in read_schema[0]
    assert "user_id" not in read_schema[0]


def test_cosine_topk_broadcasts_queries(spark):
    from extractor.ops import similarity

    plan = formatted_plan(similarity.cosine_topk(spark, SF))
    # tiny query side must broadcast (nested-loop for the non-equi condition)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def _tree_lines(plan: str):
    """The tree section of a formatted plan as (depth, text) pairs."""
    out = []
    for line in plan.splitlines():
        if line.startswith("(") or "==" in line:
            if out and line.startswith("("):
                break
            continue
        stripped = line.lstrip(" :+-*")
        if not stripped:
            continue
        out.append((len(line) - len(stripped), stripped))
    return out


def _subtree(lines, i):
    """Lines strictly inside node i's subtree (deeper indent until pop)."""
    depth = lines[i][0]
    sub = []
    for d, text in lines[i + 1 :]:
        if d <= depth:
            break
        sub.append((d, text))
    return sub


def test_merge_upsert_broadcasts_changeset(spark):
    """MERGE must be the decomposed (left join + anti join) form: both
    joins broadcast the change-set; the 100 TB target side never sorts,
    shuffles, or becomes a broadcast BUILD side (a full-outer formulation
    would force SortMergeJoin; anti-joining source against the raw target
    key set would hash 10^12 keys).  Each LeftAnti's BroadcastExchange
    must therefore sit on a *join output* (matched keys, <= |change-set|),
    i.e. a BroadcastHashJoin Inner — never directly on the target scan."""
    plan = formatted_plan(relational.s3_merge_upsert(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    lines = _tree_lines(plan)
    anti_idx = [
        i for i, (_, t) in enumerate(lines) if "BroadcastHashJoin LeftAnti" in t
    ]
    assert anti_idx, plan
    for i in anti_idx:
        sub = _subtree(lines, i)
        # the build side is the BroadcastExchange child of the anti join
        ex = [
            j
            for j, (d, t) in enumerate(sub)
            if t.startswith("BroadcastExchange") and d == sub[0][0]
        ]
        assert len(ex) == 1, plan
        build = _subtree(sub, ex[0])
        build_txt = [t for _, t in build]
        # broadcast side must be a bounded join OUTPUT, and the node feeding
        # the exchange must not be a bare relation scan of the target
        assert any("BroadcastHashJoin Inner" in t for t in build_txt), plan
        assert not build_txt[0].startswith("Scan"), plan


def test_entry_has_no_joins(spark):
    """The flagship plan must carry metadata through the kernel as a
    passthrough column — never re-join (or broadcast) the corpus onto
    itself.  scan → kernel → single agg shuffle (+ tiny sort)."""
    import __spark_entry__ as e

    plan = formatted_plan(e.entry(spark))
    assert "BroadcastExchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "MapInArrow" in plan


def test_pack_sequences_distributed_prefix_sum(spark):
    """The packing cumsum must NOT funnel raw document rows through a
    single-partition window: the per-doc window runs partitioned by bucket,
    and the only SinglePartition exchange in the plan feeds the tiny
    bucket-subtotal window (input = one row per bucket, post-aggregation)."""
    from extractor.ops import dedup

    plan = formatted_plan(dedup.pack_sequences(spark, SF))
    # the doc-level running sum is partitioned (parallel)
    assert "hashpartitioning(bucket" in plan, plan
    # exactly one single-partition exchange: the bucket-subtotals window
    singles = plan.count("SinglePartition")
    assert singles == 1, f"expected 1 SinglePartition exchange, got {singles}:\n{plan}"
    # and the offsets side is broadcast back onto the docs, not shuffled
    assert "BroadcastHashJoin" in plan, plan


def test_global_exact_k_sample_no_global_sort(spark):
    """Exact-k sampling must plan as TakeOrderedAndProject — per-partition
    top-k, never a materialized global sort."""
    from extractor.ops import sampling

    plan = formatted_plan(sampling.global_exact_k_sample(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort (" not in plan, plan


def test_stratified_sample_map_only(spark):
    """Keyed sampling is a pure map: scan → project/filter, NO shuffle —
    the decision is a hash + integer compare per row."""
    from extractor.ops import sampling

    plan = formatted_plan(sampling.stratified_sample(spark, SF))
    assert "Exchange" not in plan, f"stratified sample must not shuffle:\n{plan}"


def test_corpus_mix_broadcasts_rates(spark):
    """corpus_mix_sample: the per-stratum rate table (≤ |langs| rows) must
    broadcast onto the corpus; the corpus scan feeding the streamed side of
    that join must NOT shuffle (only the tiny aggregates may)."""
    from extractor.ops import sampling

    plan = formatted_plan(sampling.corpus_mix_sample(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    lines = _tree_lines(plan)
    join_idx = [
        i for i, (_, t) in enumerate(lines) if "BroadcastHashJoin Inner" in t
    ]
    assert join_idx, plan
    sub = _subtree(lines, join_idx[0])
    # drop the build (BroadcastExchange) subtree: what remains is the
    # streamed corpus side, which must carry no Exchange
    ex = [
        j
        for j, (d, t) in enumerate(sub)
        if t.startswith("BroadcastExchange") and d == sub[0][0]
    ]
    assert len(ex) == 1, plan
    # BuildRight: the build subtree is the join's LAST child, so everything
    # before the BroadcastExchange line is the streamed corpus side
    streamed = [t for _, t in sub[: ex[0]]]
    assert not any(t.startswith("Exchange") for t in streamed), plan
    assert any(t.startswith("Scan parquet") for t in streamed), plan


def test_training_order_single_shuffle(spark):
    """Deterministic training order = one Exchange (hash on shard) feeding
    the per-shard window; never a global sort / single partition."""
    from extractor.ops import sampling

    plan = formatted_plan(sampling.training_order(spark, SF))
    assert plan.count("Exchange (") == 1, plan
    assert "hashpartitioning(shard" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan


def test_pretrain_pipeline_single_shuffle(spark):
    """The composed curation→dedup→split→chunk DAG must stay ONE plan
    with exactly one data shuffle (the content-hash keeper window) — no
    materialization barriers between operators."""
    from extractor.ops import dedup

    plan = formatted_plan(dedup.pretrain_pipeline(spark, SF))
    assert plan.count("Exchange (") == 1, plan
    assert "Window" in plan and "Generate" in plan  # keeper + chunk explode


def test_salted_join_spreads_hot_keys(spark):
    """The salted skew join must actually shuffle on the COMPOSITE
    (key, salt) — no broadcast (the pattern exists for when the build side
    doesn't fit), and both join inputs partitioned by (lang, salt) so a
    hot lang spans salt_buckets tasks."""
    from extractor.ops import relational

    plan = formatted_plan(relational.salted_skew_join(spark, SF))
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    import re

    composite = re.findall(r"hashpartitioning\(lang#\d+, salt#\d+", plan)
    assert len(composite) >= 2, plan  # both sides of the join


def test_vocab_topk_no_global_sort(spark):
    """Corpus vocabulary top-k must be TakeOrderedAndProject over a partial
    aggregate — never a full global Sort of the vocabulary."""
    from extractor.ops import textops

    plan = formatted_plan(textops.vocab_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate (") >= 2, plan  # map-side combine
    assert "Sort (" not in plan, plan


def test_tfidf_rank_filter_inside_window(spark):
    """The per-doc top-k rank filter must push into the window operator
    (WindowGroupLimit) so only k rows per doc survive to the df join, and
    the doc-total + rank windows share one hash partitioning on doc_id."""
    from extractor.ops import textops

    plan = formatted_plan(textops.tfidf_top_terms(spark, SF))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("hashpartitioning(doc_id") >= 1, plan
    # single corpus scan on the ranked branch (+1 tiny n_docs count): the
    # df computation must NOT rescan/re-aggregate the corpus
    tree = [t for _, t in _tree_lines(plan)]
    scans = [t for t in tree if t.startswith("Scan parquet")]
    assert len(scans) == 2, plan
    # no vocabulary join: the only join is the 1-row n_docs cross join
    joins = [t for t in tree if "Join" in t]
    assert joins == [j for j in joins if "BroadcastNestedLoopJoin" in j], plan


def test_pack_sequences_two_level_identical_and_smaller_window(spark):
    """The nested prefix sum must return byte-identical placements while
    its single-partition window consumes the second-level aggregate (the
    plan still has exactly one SinglePartition exchange, now fed by the
    b2 rollup)."""
    from extractor.ops import dedup

    single = {
        tuple(r) for r in dedup.pack_sequences(spark, SF).collect()
    }
    double = {
        tuple(r)
        for r in dedup.pack_sequences(spark, SF, two_level=True).collect()
    }
    assert single == double
    plan = formatted_plan(dedup.pack_sequences(spark, SF, two_level=True))
    assert plan.count("SinglePartition") == 1, plan
    assert "hashpartitioning(b2" in plan, plan  # the nested level exists


def test_line_dedup_count_join_shape(spark):
    """line_dedup's aggregations are all partial (map-side combined before
    every shuffle) and the ordered rebuild uses ObjectHashAggregate (partial
    collect_list), not a sort-based fallback.  The counts join broadcasts at
    fixture scale (AQE's runtime call — the counts table is tiny here); at
    corpus scale it degrades gracefully to a shuffle join on line_hash."""
    from extractor.ops import dedup

    plan = formatted_plan(dedup.line_dedup(spark, SF))
    # partial aggregation: two HashAggregate levels around each count shuffle
    assert plan.count("HashAggregate") >= 4, plan
    assert "ObjectHashAggregate" in plan, plan


def test_bpe_pair_counts_no_global_sort(spark):
    from extractor.ops.textops import bpe_pair_counts

    plan = formatted_plan(bpe_pair_counts(spark, SF))
    # top-k must be TakeOrderedAndProject, never a global Sort+Exchange
    assert "TakeOrderedAndProject" in plan
    assert _n_exchanges(plan) == 1, plan  # the one pair-agg shuffle
    # partial aggregation before the shuffle (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_dsir_two_shuffles_and_broadcasts(spark):
    from extractor.ops.textops import dsir_importance

    plan = formatted_plan(dsir_importance(spark, SF))
    # LLR table and totals must broadcast back onto the token stream —
    # never a shuffle join of token-cardinality rows against 256 buckets
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zscore_single_window_no_join(spark):
    from extractor.ops.temporal import zscore_outliers

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = formatted_plan(zscore_outliers(ev))
    assert _n_exchanges(plan) == 1, plan  # one user_id hash partition
    assert "Join" not in plan
    assert "Window" in plan


def test_conv_ops_single_conv_shuffle(spark):
    from extractor.ops import convops

    for fn in (convops.conv_prefix_strip, convops.conv_token_truncate):
        plan = formatted_plan(fn(spark, SF))
        assert _n_exchanges(plan) == 1, plan  # conv_id partition only
        assert "Join" not in plan


def test_bfs_frontier_broadcasts(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["bfs_hop_distance"](spark, SF)
    plan = formatted_plan(df)
    # dist is unions of localCheckpoints; no sort-merge join of edges
    assert "SortMergeJoin" not in plan


def test_sft_pair_assembly_bounded_window_single_shuffle(spark):
    """SFT pair assembly must be one conv_id Exchange, a bounded-frame
    window (no unbounded prefix collect), zero joins, zero Python."""
    from extractor.ops import convops

    plan = formatted_plan(convops.sft_pair_assembly(spark, SF))
    assert _n_exchanges(plan) == 1, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # the frame spec must be the bounded one, not unboundedpreceding
    assert "unboundedpreceding" not in plan.lower(), plan


def test_tool_transitions_partial_agg(spark):
    """Transition counting: lag window on conv_id, then an aggregate
    whose partial (map-side) phase exists — the final shuffle moves
    only (prev_tool, tool) partials, not raw calls."""
    from extractor.ops import convops

    plan = formatted_plan(convops.tool_transitions(spark, SF))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_conv_quality_gate_single_aggregate(spark):
    from extractor.ops import convops

    plan = formatted_plan(convops.conv_quality_gate(spark, SF))
    assert _n_exchanges(plan) == 1, plan
    assert "Window" not in plan and "Join" not in plan


def test_conv_neardup_join_free(spark):
    """Conversation near-dup must generate pairs INSIDE buckets from
    the carried signatures — the plan has no join anywhere (no sig
    re-join, no bucket-member self-join)."""
    from extractor.ops import convops

    plan = formatted_plan(convops.conv_neardup_pairs(spark, SF))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_semdedup_pair_search_is_equi_join(spark):
    """The cell self-join must plan as a hash/SMJ equi join on cell —
    a CartesianProduct or BroadcastNestedLoopJoin would be the
    all-pairs plan the cell topology exists to avoid."""
    from extractor.ops.similarity import semdedup_prune

    plan = formatted_plan(semdedup_prune(spark, SF))
    assert "CartesianProduct" not in plan


def test_length_curriculum_no_corpus_sort(spark):
    """The decile window must run over the value-domain histogram, not
    the corpus: the only Sort feeding a Window sits above an Aggregate
    (the groupBy(n_chars) histogram), and no global Sort of the raw
    scan exists."""
    from extractor.ops.sampling import length_curriculum_buckets

    df = length_curriculum_buckets(spark, SF)
    plan = formatted_plan(df)
    assert "Window" in plan
    # the bucket assignment itself must be join+project, no row_number
    # over the corpus: exactly one Window operator in the whole plan
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2


def test_c4_and_mojibake_map_only(spark):
    from extractor.ops import textops

    for fn in (textops.c4_page_filter, textops.mojibake_stats):
        plan = formatted_plan(fn(spark, SF))
        assert _n_exchanges(plan) == 0, plan
        # scan -> filter -> projections only; no join, no python stage
        assert "Join" not in plan and "InPandas" not in plan
        assert "InArrow" not in plan


def test_matryoshka_windowgrouplimit_and_broadcast(spark):
    from extractor.ops.similarity import matryoshka_eval

    plan = formatted_plan(matryoshka_eval(spark, SF))
    # per-query top-k must be the map-side partial group limit, not a
    # full sort of the corpus per query
    assert "WindowGroupLimit" in plan, plan
    # the 5-row query set broadcasts; the corpus side never broadcasts
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bin_pack_single_shard_shuffle(spark):
    from extractor.ops.dedup import bin_pack_nextfit

    plan = formatted_plan(bin_pack_nextfit(spark, SF))
    # exactly one Exchange: the hash shuffle into packing shards
    assert _n_exchanges(plan) == 1, plan
    assert "FlatMapGroupsInArrow" in plan


def test_grounding_audit_conv_locked_join(spark):
    from extractor.ops.convops import grounding_audit_query

    plan = formatted_plan(grounding_audit_query(spark, SF))
    # the self-join must key on conv_id (hash-partitioned equi-join with
    # the range predicate as join condition), never a cartesian product
    assert "CartesianProduct" not in plan, plan


def test_curation_report_fused_single_scan(spark):
    from extractor.ops.textops import curation_report

    plan = formatted_plan(curation_report(spark, SF))
    # all three verdicts in one scan: exactly one Exchange (the
    # per-source agg) and zero joins
    assert _n_exchanges(plan) == 1, plan
    assert "Join" not in plan
    import re as _re

    assert len(_re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)) == 1, plan


def test_classifier_auc_histogram_window(spark):
    from extractor.ops.textops import classifier_auc

    plan = formatted_plan(classifier_auc(spark, SF))
    # ranks never touch raw rows: the window runs after the
    # distinct-score aggregation, and there is no join
    assert "Join" not in plan
    assert _n_exchanges(plan) <= 3, plan


def test_domain_hits_broadcast_power_iteration(spark):
    import __spark_entry__ as e
    from extractor.ops.links import hits

    # the default (materialize=True) hides the iteration plan behind an
    # eager localCheckpoint's ExistingRDD scan — gate the REAL lazy plan
    # via the materialize=False seam (same pattern as the kcore gate)
    plan = formatted_plan(
        hits(e._layered_domain_graph(spark, SF), materialize=False)
    )
    # every half-round joins the node-sized score vector onto the edge
    # table as a BROADCAST hash join; the per-round max-normalize is a
    # crossJoin against a BROADCAST 1-row aggregate (physically a
    # BroadcastNestedLoopJoin BuildRight Cross — benign at 1 build row),
    # and no other nested-loop/cartesian shape may appear
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    import re as _re

    nlj = _re.findall(r"BroadcastNestedLoopJoin[ ]+(\w+)[, ]+(\w+)", plan)
    assert nlj, "expected the 1-row max-normalize broadcast cross joins"
    assert all("Cross" in pair for pair in nlj), nlj[:5]


def test_domain_pagerank_broadcast_power_iteration(spark, monkeypatch):
    import __spark_entry__ as e
    from extractor.ops import links
    from extractor.ops.links import pagerank

    monkeypatch.setattr(links, "PAGERANK_ITERATIONS", 3)
    plan = formatted_plan(
        pagerank(e._layered_domain_graph(spark, SF), materialize=False)
    )
    # ranks broadcast onto the edge table every round; contributions
    # aggregate on dst (node-cardinality); no cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_match_blocked_equi_join(spark):
    from extractor.ops.dedup import fuzzy_match_parts

    plan = formatted_plan(fuzzy_match_parts(spark, SF))
    # blocking makes the self-join an equi-join: no cartesian product /
    # broadcast nested loop; the argmin is a struct-min aggregate (no
    # row_number window sort)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "levenshtein" in plan


def test_domain_kcore_edges_never_reshuffle(spark):
    import __spark_entry__ as e
    from extractor.ops.links import kcore

    # the op localCheckpoints its result (materialize before releasing
    # the edge cache), which hides the join plan behind an ExistingRDD
    # scan — gate the REAL lazy plan via the materialize=False seam
    df = kcore(e._layered_domain_graph(spark, SF), materialize=False)
    plan = formatted_plan(df)
    # every alive-set filter is a broadcast join against the persisted
    # edge table — the only Exchanges are the initial distinct and the
    # per-round degree aggregations (node-cardinality keys)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cogroup_merge_asof_single_copartition(spark):
    from extractor.ops.temporal import cogroup_merge_asof

    plan = formatted_plan(cogroup_merge_asof(spark, SF))
    assert "FlatMapCoGroupsInPandas" in plan
    # one hash co-partitioning per side, nothing else moves
    assert _n_exchanges(plan) == 2, plan
    assert "Join" not in plan


def test_zonemap_two_scans_map_side_aggs(spark):
    from extractor.ops.maintenance import zonemap_prune_stats

    plan = formatted_plan(zonemap_prune_stats(spark, SF))
    # one partial+final aggregate pair per layout, no joins
    assert "Join" not in plan
    assert _n_exchanges(plan) == 2, plan


def test_retention_preaggregates_distinct_users(spark):
    import __spark_entry__ as e

    plan = formatted_plan(e._retention_cohorts(spark, SF))
    # the distinct-user count must come from the (cell, user) pre-agg,
    # never an Expand-based count(distinct) over raw event rows
    assert "Expand" not in plan, plan
    assert "CartesianProduct" not in plan


def test_gdpr_cascade_broadcasts_delete_set(spark):
    from extractor.ops.relational import gdpr_delete_cascade

    plan = formatted_plan(gdpr_delete_cascade(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_referential_audit_broadcasts_parents(spark):
    from extractor.ops.relational import referential_integrity_audit

    plan = formatted_plan(referential_integrity_audit(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_split_leakage_no_cartesian(spark):
    from extractor.ops.dedup import split_leakage_audit

    plan = formatted_plan(split_leakage_audit(spark, SF))
    # bucket-local pairing + two key joins; never a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
