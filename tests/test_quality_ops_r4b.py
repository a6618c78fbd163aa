"""Semantic + plan contracts for the second round-4 latecomer batch:
ColBERT MaxSim, Wilson source ranking, Kendall-tau signal agreement,
conversation quality trend, n-gram novelty, the DQ expectation suite,
and dynamic partition pruning."""

import math

from pyspark.sql import functions as F

from extractor.ops import (
    convops,
    dedup,
    maintenance,
    relational,
    similarity,
    textops,
)
from extractor.plan_lint import formatted_plan

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------ ColBERT MaxSim

def test_colbert_query_doc_ranks_first(spark):
    """Every query token's best match against the query doc itself is
    the token's own vector (Cauchy-Schwarz on the int8 codes), so the
    query pseudo-doc must be the top result."""
    rows = similarity.colbert_maxsim_topk(spark, SF).collect()
    assert rows, "empty MaxSim result"
    assert rows[0]["doc_id"] == similarity.CB_QUERY_DOC
    assert all(r["n_qtok"] == similarity.CB_TOKS_PER_DOC for r in rows)
    # ranking is by (maxsim desc, doc_id) — verify monotone
    key = [(-r["maxsim"], r["doc_id"]) for r in rows]
    assert key == sorted(key)


def test_colbert_maxsim_dominates_single_vector(spark):
    """MaxSim per query token is >= the dot against any FIXED document
    token — pin the max semantics on the self-doc: maxsim(self) equals
    the sum of squared code norms."""
    emb = similarity._emb(spark, SF).select("vec_id", "embedding")
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    codes = emb.where(
        F.col("vec_id") < similarity.CB_TOKS_PER_DOC
    ).select(
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: F.pow(F.round(x * scale), 2).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("sq")
    )
    want = sum(r["sq"] for r in codes.collect())
    rows = similarity.colbert_maxsim_topk(spark, SF).collect()
    self_row = [r for r in rows if r["doc_id"] == similarity.CB_QUERY_DOC]
    assert self_row and self_row[0]["maxsim"] >= want
    # >= because another doc token may beat a query token's self-match;
    # but each term is at least the self dot, so the sum is bounded below


# --------------------------------------------------- Wilson ranking

def test_wilson_lb_below_pass_rate_and_exact(spark):
    rows = textops.wilson_source_ranking(spark, SF).collect()
    assert rows
    for r in rows:
        n, s = r["n_docs"], r["n_pass"]
        assert 0 <= s <= n
        lb = (s + 2 - 2 * math.sqrt(s * (n - s) / n + 1)) / (n + 4)
        assert r["wilson_lb_micro"] == round(lb * 1_000_000)
        # the bound is strictly below the point estimate (z>0 shrinks)
        assert r["wilson_lb_micro"] * n <= r["pass_ppm"] * n


def test_wilson_small_sample_shrinks_harder():
    """3/3 must NOT outrank 970/1000 under the bound — the whole point."""
    lb = lambda s, n: (s + 2 - 2 * math.sqrt(s * (n - s) / n + 1)) / (n + 4)
    assert lb(3, 3) < lb(970, 1000)


# ------------------------------------------------- Kendall-tau accord

def test_tau_tallies_partition_pairs(spark):
    rows = textops.signal_agreement_tau(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_pairs"] == r["n_docs"] * (r["n_docs"] - 1) // 2
        assert (
            r["n_concordant"] + r["n_discordant"] + r["n_tied"]
            == r["n_pairs"]
        )
        assert -10000 <= r["tau_bp"] <= 10000
        assert r["n_docs"] <= textops.TAU_GROUP_CAP
    # char length and token count are strongly concordant signals
    assert sum(r["n_concordant"] for r in rows) > sum(
        r["n_discordant"] for r in rows
    )


# --------------------------------------------- conversation trend

def test_conv_trend_matches_polyfit_sign(spark):
    rows = convops.conv_quality_trend(spark, SF).collect()
    turns = convops.derived_transcripts(spark, SF).select(
        "conv_id", "turn_idx", F.length("text").alias("y")
    ).collect()
    by_conv = {}
    for t in turns:
        by_conv.setdefault(t["conv_id"], []).append((t["turn_idx"], t["y"]))
    assert rows
    for r in rows:
        pts = by_conv[r["conv_id"]]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        assert r["n_turns"] == n
        assert r["slope_num"] == n * sxy - sx * sy
        assert r["slope_den"] == n * sxx - sx * sx
        assert r["slope_den"] > 0


# --------------------------------------------------- n-gram novelty

def test_ngram_novelty_bounds_and_split(spark):
    rows = dedup.ngram_novelty(spark, SF).collect()
    for r in rows:
        assert 0 <= r["n_seen"] <= r["n_grams"]
        want = (r["n_grams"] - r["n_seen"]) * 1_000_000 // r["n_grams"]
        assert r["novelty_ppm"] == want
    # every reported doc really is in the test split
    import hashlib

    for r in rows:
        b = int(
            hashlib.md5(f"split:{r['doc_id']}".encode()).hexdigest()[:8], 16
        ) % 1000
        assert b >= 990


# ----------------------------------------------------- DQ suite

def test_dq_expectations_rules_and_verdicts(spark):
    rows = maintenance.dq_expectations(spark, SF).collect()
    assert len(rows) == 10
    assert {r["table_name"] for r in rows} == {"documents", "events"}
    for r in rows:
        assert r["n_checked"] > 0
        assert r["pass"] == (r["n_failed"] == 0)
        assert r["fail_ppm"] == r["n_failed"] * 1_000_000 // r["n_checked"]
    by_rule = {(r["table_name"], r["rule"]): r for r in rows}
    # the synthetic tables are clean on the hard invariants
    assert by_rule[("documents", "doc_id_unique")]["pass"]
    assert by_rule[("events", "event_type_in_domain")]["pass"]


# -------------------------------------------- dynamic partition pruning

def test_dpp_pruning_subquery_reaches_fact_scan(spark):
    df = maintenance.dpp_partition_prune(spark, SF)
    plan = formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), (
        f"fact scan must carry a runtime pruning subquery:\n{plan}"
    )
    # and the join didn't degrade to a shuffle of the fact side
    assert "BroadcastHashJoin" in plan


def test_dpp_result_matches_unpartitioned_restatement(spark):
    got = {
        r["event_type"]: (r["n_rows"], r["sum_value_cents"])
        for r in maintenance.dpp_partition_prune(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").where(
        F.dayofmonth("ts") % 7 == 1
    )
    want = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("s"),
        )
        .collect()
    }
    assert got == want


# ------------------------------------------------------- DeepWalk

def test_deepwalk_walks_follow_edges(spark):
    import __spark_entry__ as e

    edges = e._layered_domain_graph(spark, SF)
    und = {
        (r["src"], r["dst"])
        for r in edges.collect()
        if r["src"] != r["dst"]
    }
    und |= {(d, s) for s, d in und}
    rows = e._deepwalk_corpus(spark, SF).collect()
    walks = {}
    for r in rows:
        walks.setdefault(r["start"], {})[r["step"]] = r["node"]
    assert walks
    for start, path in walks.items():
        assert path[0] == start
        assert set(path) == {0, 1, 2, 3, 4}, "every walk runs 4 hops"
        for s in range(1, 5):
            assert (path[s - 1], path[s]) in und, (
                f"hop {s} of walk {start} is not an edge"
            )


def test_deepwalk_deterministic(spark):
    import __spark_entry__ as e

    a = sorted(map(tuple, e._deepwalk_corpus(spark, SF).collect()))
    b = sorted(map(tuple, e._deepwalk_corpus(spark, SF).collect()))
    assert a == b


# -------------------------------------------------- hard negatives

def test_hard_negatives_cross_label_topk(spark):
    emb = {
        r["vec_id"]: r["label"]
        for r in similarity._emb(spark, SF).select("vec_id", "label").collect()
    }
    rows = similarity.hard_negative_mining(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(similarity.HN_QUERIES))
    for q, rs in by_q.items():
        assert len(rs) == similarity.HN_K
        assert sorted(r["rank"] for r in rs) == list(
            range(1, similarity.HN_K + 1)
        )
        for r in rs:
            assert emb[r["vec_id"]] != emb[q], "negative shares the label"
        dots = [r["dot_q"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert dots == sorted(dots, reverse=True)


# ------------------------------------------------ span corruption

def test_span_plan_rate_and_bounds(spark):
    from extractor.ops import tokenize as tk

    rows = tk.span_corruption_plan(spark, SF).collect()
    assert rows
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    n_tok = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("n"),
        ).collect()
    }
    per_doc = {}
    for r in rows:
        n = n_tok[r["doc_id"]]
        blk = r["sentinel_id"]
        assert r["span_len"] == tk.SPAN_LEN
        # span inside its own block, block inside the doc
        assert blk * tk.SPAN_BLOCK <= r["span_start"]
        assert r["span_start"] + tk.SPAN_LEN <= (blk + 1) * tk.SPAN_BLOCK
        assert (blk + 1) * tk.SPAN_BLOCK <= n
        per_doc.setdefault(r["doc_id"], set()).add(blk)
    for doc, blks in per_doc.items():
        # exactly one span per full block => exact 15% corruption rate
        assert blks == set(range(n_tok[doc] // tk.SPAN_BLOCK))


def test_span_plan_map_only(spark):
    from extractor.ops import tokenize as tk

    plan = formatted_plan(tk.span_corruption_plan(spark, SF))
    assert "Exchange" not in plan, f"span plan must not shuffle:\n{plan}"
    assert "Generate" in plan


# ---------------------------------------------------- k-anonymity

def test_k_anonymity_flags_exactly_the_small_cells(spark):
    from extractor.ops import relational

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type",
        F.dayofmonth("ts").alias("day"),
        F.hour("ts").alias("hour"),
        "user_id",
    ).collect()
    cells = {}
    for r in ev:
        key = (r["event_type"], r["day"], r["hour"])
        cells.setdefault(key, set()).add(r["user_id"])
    want = {k for k, users in cells.items() if len(users) < relational.K_ANON_K}
    got_rows = relational.k_anonymity_audit(spark, SF).collect()
    got = {(r["event_type"], r["day"], r["hour"]) for r in got_rows}
    assert got == want
    for r in got_rows:
        assert r["n_users"] < relational.K_ANON_K
        assert r["n_rows"] >= r["n_users"]


# -------------------------------------------------------- pass@k

def test_pass_at_k_matches_combinatorial_reference(spark):
    from math import comb

    from extractor.ops import convops as co

    rows = co.pass_at_k(spark, SF).collect()
    assert rows
    ks = {r["k"] for r in rows}
    assert ks == set(co.PASS_AT_KS)
    for r in rows:
        n, c, k = r["n_attempts"], r["n_correct"], r["k"]
        assert n >= k
        if n - c < k:
            want = 1_000_000
        else:
            want = 1_000_000 - comb(n - c, k) * 1_000_000 // comb(n, k)
        assert r["pass_ppm"] == want, (n, c, k)
    # pass@5 >= pass@1 per task (more samples can only help)
    by_task = {}
    for r in rows:
        by_task.setdefault(r["task_id"], {})[r["k"]] = r["pass_ppm"]
    for task, d in by_task.items():
        if 1 in d and 5 in d:
            assert d[5] >= d[1]


# ------------------------------------------------ survivorship policy

def test_survivorship_keeper_is_longest_member(spark):
    rows = dedup.cluster_survivorship(spark, SF).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r["is_keeper"]]
        assert len(keepers) == 1
        k = keepers[0]
        assert all(r["keeper_doc_id"] == k["doc_id"] for r in members)
        best = max(members, key=lambda r: (r["n_chars"], -r["doc_id"]))
        assert k["doc_id"] == best["doc_id"]
        assert len(members) == members[0]["cluster_size"]


# ----------------------------------------------------- BLEU-1 retry

def test_bleu1_identical_turns_score_one(spark):
    """Turns the retried view copied verbatim from the original must
    score exactly 1e6; divergent turns (kept own text) score below
    whenever the texts differ."""
    t = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in convops.derived_transcripts_retried(spark, SF).collect()
    }
    rows = convops.bleu1_retry_similarity(spark, SF).collect()
    assert rows
    for r in rows:
        cand = t[(r["conv_id"], r["turn_idx"])]
        ref = t.get((r["conv_id"] - 36, r["turn_idx"]))
        assert 0 <= r["n_clipped"] <= r["n_cand_tokens"]
        if ref == cand:
            assert r["bleu1_ppm"] == 1_000_000
        expected = r["n_clipped"] * 1_000_000 // r["n_cand_tokens"]
        assert r["bleu1_ppm"] == expected
    # the planted families are ~7/8 verbatim: most turns score 1.0
    perfect = sum(1 for r in rows if r["bleu1_ppm"] == 1_000_000)
    assert perfect > len(rows) // 2


# ------------------------------------------- streaming==batch parity

def test_stream_hourly_matches_batch(spark):
    from extractor.streaming import stream_hourly_events

    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value_cents"])
        for r in stream_hourly_events(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    want = {
        (r["ws"], r["event_type"]): (r["n"], r["s"])
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("s"),
        )
        .collect()
    }
    assert got == want
    # re-running registers a fresh memory sink — idempotent per call
    again = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value_cents"])
        for r in stream_hourly_events(spark, SF).collect()
    }
    assert again == got


# ----------------------------------------------------------- SCD2

def test_scd2_intervals_tile_and_match_stream(spark):
    from extractor.ops.temporal import scd2_user_history

    rows = scd2_user_history(spark, SF).collect()
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    streams = {}
    for r in sorted(ev, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        streams.setdefault(r["user_id"], []).append(r)
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, versions in by_user.items():
        versions.sort(key=lambda r: r["version_n"])
        # dense version numbers from 1; exactly one current (the last)
        assert [v["version_n"] for v in versions] == list(
            range(1, len(versions) + 1)
        )
        assert [v["is_current"] for v in versions] == [False] * (
            len(versions) - 1
        ) + [True]
        # intervals tile: effective_to == next effective_from
        for a, b in zip(versions, versions[1:]):
            assert a["effective_to"] == b["effective_from"]
            assert a["segment"] != b["segment"], "version without a change"
        assert versions[-1]["effective_to"] is None
        # replaying the stream through the intervals recovers every event
        idx = 0
        for e in streams[uid]:
            while (
                versions[idx]["effective_to"] is not None
                and e["ts"] >= versions[idx]["effective_to"]
            ):
                idx += 1
            assert e["event_type"] == versions[idx]["segment"]
        idx = 0  # reset not needed; loop per user


# --------------------------------------------------- JSONL ingest

def test_jsonl_corrupt_rows_contained(spark):
    from extractor.ops import maintenance as mt

    rows = {r["category"]: r["n_rows"]
            for r in mt.jsonl_corrupt_read(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    want = {}
    for d in docs:
        cat = "_corrupt" if d["doc_id"] % mt.CORRUPT_MOD == 0 else d["lang"]
        want[cat] = want.get(cat, 0) + 1
    assert rows == want
    assert rows.get("_corrupt", 0) > 0, "no corruption planted?"


# ------------------------------------------------------ Cohen's kappa

def test_kappa_chance_corrected(spark):
    rows = textops.classifier_kappa(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert 0 < r["n_agree"] <= r["n_docs"]
    assert r["po_ppm"] == r["n_agree"] * 1_000_000 // r["n_docs"]
    # kappa strictly below raw agreement whenever pe > 0 and po < 1
    if r["po_ppm"] < 1_000_000:
        assert r["kappa_ppm"] < r["po_ppm"]
    assert -1_000_000 <= r["kappa_ppm"] <= 1_000_000


def test_kappa_identity_and_degeneracy():
    # hand matrices: perfect agreement => kappa 1; one-sided marginals
    # agree often but kappa collapses toward 0
    def kappa(diag, n, pe_num):
        return (diag * n - pe_num) * 1_000_000 // (n * n - pe_num)

    # 2 labels, perfectly diagonal, balanced: D=100, N=100, P=50*50*2
    assert kappa(100, 100, 5000) == 1_000_000
    # both predict 'en' 90% independently: po=0.82, pe=0.82 => kappa 0
    # (marginals 90/10 both sides: pe_num = 90*90+10*10 = 8200, diag=82)
    assert kappa(82, 100, 8200) == 0


# ------------------------------------------------------ A/B readout

def test_ab_report_exact_identities(spark):
    import hashlib

    r = relational.ab_experiment_report(spark, SF).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.expr("CAST(round(value*100) AS BIGINT)").alias("c")
    ).collect()
    per_user = {}
    for e in ev:
        per_user[e["user_id"]] = per_user.get(e["user_id"], 0) + e["c"]
    n = [0, 0]
    s = [0, 0]
    for uid, cents in per_user.items():
        v = int(hashlib.md5(f"exp:{uid}".encode()).hexdigest()[:8], 16) % 2
        n[v] += 1
        s[v] += cents
    assert (r["n_control"], r["n_treatment"]) == (n[0], n[1])
    assert (r["sum_control_cents"], r["sum_treatment_cents"]) == (s[0], s[1])
    assert r["srm_chi2_micro"] == (n[0] - n[1]) ** 2 * 1_000_000 // (
        n[0] + n[1]
    )


# ------------------------------------------------- bandit replay

def test_bandit_replay_hand_replay(spark):
    import hashlib

    rows = {r["context"]: r
            for r in relational.bandit_replay_eval(spark, SF).collect()}
    arms = relational.BANDIT_ARMS
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_type",
        F.expr("CAST(round(value*100) AS BIGINT)").alias("c"),
    ).collect()
    acc = {}
    for e in ev:
        ctx = e["user_id"] % 10
        pick = arms[
            int(hashlib.md5(f"policy:{ctx}".encode()).hexdigest()[:8], 16)
            % len(arms)
        ]
        n, m, s = acc.get(ctx, (0, 0, 0))
        hit = e["event_type"] == pick
        acc[ctx] = (n + 1, m + hit, s + (e["c"] if hit else 0))
    assert set(rows) == set(acc)
    for ctx, (n, m, s) in acc.items():
        r = rows[ctx]
        assert (r["n_logged"], r["n_matched"], r["sum_matched_cents"]) == (
            n, m, s,
        )
        assert r["match_ppm"] == m * 1_000_000 // n


# ------------------------------------------------- uncertainty sample

def test_uncertainty_margin_semantics(spark):
    rows = textops.uncertainty_sample(spark, SF).collect()
    assert 0 < len(rows) <= textops.UNCERTAIN_K
    margins = [r["margin"] for r in rows]
    assert margins == sorted(margins)
    for r in rows:
        assert r["margin"] == r["best"] - r["second"] >= 0
    # the returned set really is the global minimum-margin set
    all_scores = textops.lang_id(spark, SF).collect()
    all_margins = sorted(
        max(s["score_en"], s["score_de"], s["score_fr"])
        - sorted([s["score_en"], s["score_de"], s["score_fr"]])[1]
        for s in all_scores
    )
    assert margins[-1] <= all_margins[len(rows) - 1] or (
        margins[-1] == all_margins[len(rows) - 1]
    )


# ------------------------------------------------ metric correlation

def test_metric_correlation_exact_and_bounded(spark):
    import math

    rows = relational.metric_correlation(spark, SF).collect()
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type",
        F.expr("CAST(round(value*100) AS BIGINT)").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    ).collect()
    acc = {}
    for e in ev:
        n, sx, sy, sxy, sxx, syy = acc.get(e["event_type"], (0,) * 6)
        acc[e["event_type"]] = (
            n + 1, sx + e["x"], sy + e["y"], sxy + e["x"] * e["y"],
            sxx + e["x"] * e["x"], syy + e["y"] * e["y"],
        )
    for r in rows:
        n, sx, sy, sxy, sxx, syy = acc[r["event_type"]]
        assert (r["n"], r["sx"], r["sy"], r["sxy"]) == (n, sx, sy, sxy)
        want = round(
            (n * sxy - sx * sy)
            / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
            * 1_000_000
        )
        assert r["corr_micro"] == want
        assert -1_000_000 <= r["corr_micro"] <= 1_000_000


# --------------------------------------------------- k-center coreset

def test_kcenter_greedy_invariants(spark):
    rows = sorted(
        similarity.kcenter_coreset(spark, SF).collect(),
        key=lambda r: r["round"],
    )
    assert len(rows) == similarity.KC_K
    assert rows[0]["vec_id"] == 0 and rows[0]["min_dist2"] == 0
    picked = [r["vec_id"] for r in rows]
    assert len(set(picked)) == len(picked), "a point chosen twice"
    # farthest-first: selection distances never increase after round 1
    dists = [r["min_dist2"] for r in rows[1:]]
    assert dists == sorted(dists, reverse=True)
    assert all(d > 0 for d in dists)


def test_kcenter_first_pick_is_true_farthest(spark):
    from pyspark.sql import functions as F

    emb = similarity._emb(spark, SF).select("vec_id", "embedding")
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    codes = {
        r["vec_id"]: r["q"]
        for r in emb.select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x * scale).cast("int")
            ).alias("q"),
        ).collect()
    }
    seed = codes[0]
    best = max(
        codes,
        key=lambda v: (
            sum((a - b) ** 2 for a, b in zip(codes[v], seed)),
            -v,
        ),
    )
    rows = {r["round"]: r for r in similarity.kcenter_coreset(spark, SF).collect()}
    assert rows[1]["vec_id"] == best
    assert rows[1]["min_dist2"] == sum(
        (a - b) ** 2 for a, b in zip(codes[best], seed)
    )


# ---------------------------------------------- epoch training order

def test_epoch_orders_differ_between_epochs(spark):
    from extractor.ops import sampling

    rows = sampling.epoch_training_order(spark, SF).collect()
    assert rows
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert len(by_epoch) >= 2, "need multi-epoch docs to test salting"
    # positions dense per (epoch, shard)
    for eps in by_epoch.values():
        per_shard = {}
        for r in eps:
            per_shard.setdefault(r["shard"], []).append(r["position"])
        for ps in per_shard.values():
            assert sorted(ps) == list(range(1, len(ps) + 1))
    # epoch salting: docs present in BOTH epoch 0 and 1 must not keep
    # the same global order — compare induced sequences
    docs0 = {r["doc_id"]: (r["shard"], r["position"]) for r in by_epoch[0]}
    docs1 = {r["doc_id"]: (r["shard"], r["position"]) for r in by_epoch.get(1, [])}
    both = sorted(set(docs0) & set(docs1))
    assert len(both) >= 10
    seq0 = sorted(both, key=lambda d: docs0[d])
    seq1 = sorted(both, key=lambda d: docs1[d])
    assert seq0 != seq1, "epochs replayed the identical order"


# --------------------------------------------------- late-data audit

def test_late_data_audit_replay(spark):
    import hashlib

    from extractor.ops import temporal as tp

    rows = {r["event_type"]: r
            for r in tp.late_data_audit(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ)) DIV 1000000")
        .alias("ets"),
    ).collect()
    acc = {}
    for e in ev:
        d = int(
            hashlib.md5(f"delay:{e['event_id']}".encode()).hexdigest()[:8],
            16,
        ) % tp.LATE_MAX_DELAY_S
        acc.setdefault(e["event_type"], []).append(
            (e["ets"] + d, e["event_id"], e["ets"])
        )
    for et, arrivals in acc.items():
        arrivals.sort()
        hi, n_late, max_late = None, 0, None
        for _, _, ets in arrivals:
            # exact mirror of the op: empty preceding window -> 0 - ets
            lateness = (hi if hi is not None else 0) - ets
            if lateness > tp.LATE_WATERMARK_S:
                n_late += 1
            max_late = lateness if max_late is None else max(max_late, lateness)
            hi = ets if hi is None else max(hi, ets)
        r = rows[et]
        assert r["n_late"] == n_late, et
        assert r["max_lateness_s"] == max_late, et
        assert r["late_ppm"] == n_late * 1_000_000 // r["n_rows"]
