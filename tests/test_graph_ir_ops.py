"""Late-round-4 operators: degree-ordered triangle census
(extractor/ops/links.py), IR inverted index + NFC normalization
(extractor/ops/textops.py), and the broadcast-bloom decontamination
prefilter (extractor/ops/dedup.py).

All four also carry DuckDB oracles in ``__spark_entry__``; these tests pin
the hand-checkable semantics (known tiny graphs, brute-force recompute,
unicodedata parity, bloom ≡ exact) and the plan shapes the oracles can't
see.
"""
import collections
import re

import pytest
from pyspark.sql import functions as F

from extractor.ops import dedup, textops
from extractor.ops.links import triangle_count
from extractor.plan_lint import formatted_plan

SF = "/root/testdata/sf0.001"


def _tri(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return triangle_count(df).collect()[0]


def test_triangle_count_hand_graph(spark):
    # und = {1-2, 2-3, 1-3, 3-4, 1-4}; triangles {1,2,3} and {1,3,4};
    # the self-loop (2,2) and reversed duplicate (2,1) must be cleaned
    r = _tri(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 1), (2, 2), (2, 1)])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 5, 2)


def test_triangle_count_complete_k5(spark):
    edges = [(a, b) for a in range(5) for b in range(5) if a != b]
    r = _tri(spark, edges)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (5, 10, 10)


def test_triangle_count_triangle_free(spark):
    # path graph: plenty of wedges, zero closures
    r = _tri(spark, [(i, i + 1) for i in range(6)])
    assert r["n_triangles"] == 0 and r["n_edges"] == 6


def test_triangle_count_skewed_hub(spark):
    # star hub 0 with 6 spokes has wedges at the hub but no triangle until
    # a spoke-spoke edge closes one; the degree orientation must count it
    # exactly once (the hub is the HIGH-degree endpoint, so neither hub
    # wedge arm originates at the hub — the skew-safety property)
    star = [(0, i) for i in range(1, 7)]
    assert _tri(spark, star)["n_triangles"] == 0
    assert _tri(spark, star + [(1, 2)])["n_triangles"] == 1


def test_triangle_count_plan_all_equi_joins(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    plan = formatted_plan(triangle_count(df))
    # the wedge and closing joins must be equi joins; the only non-equi
    # nodes allowed are the final three 1-row aggregate cross joins
    assert "CartesianProduct" not in plan, plan


def _brute_force_index(max_postings=16):
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    df_c = collections.Counter()
    tf_c = collections.Counter()
    posts = collections.defaultdict(list)
    for doc_id, text in sorted(zip(docs["doc_id"], docs["text"])):
        if text is None:
            continue
        toks = [t for t in re.split("[ \t\r\n\f\v]+", text.lower()) if t]
        cnt = collections.Counter(toks)
        for tok, n in cnt.items():
            df_c[tok] += 1
            tf_c[tok] += n
            if len(posts[tok]) < max_postings:
                posts[tok].append(int(doc_id))
    return df_c, tf_c, posts


def test_inverted_index_matches_brute_force(spark):
    out = textops.inverted_index(spark, SF).toPandas()
    df_c, tf_c, posts = _brute_force_index()
    assert set(out["tok"]) == set(df_c)
    for row in out.itertuples(index=False):
        assert row.df == df_c[row.tok], row.tok
        assert row.tf_total == tf_c[row.tok], row.tok
        assert row.postings == ",".join(str(d) for d in posts[row.tok]), row.tok


def test_inverted_index_posting_cap_exercised(spark):
    # the cap is the whole point (stop-word OOM guard): the corpus must
    # actually contain a token with df > 16, and its posting list must be
    # exactly the 16 smallest doc_ids
    out = textops.inverted_index(spark, SF).toPandas()
    hot = out[out["df"] > 16]
    assert len(hot) > 0, "fixture corpus has no token with df > 16"
    for row in hot.itertuples(index=False):
        assert row.postings.count(",") == 15, row.tok


def test_inverted_index_two_shuffles(spark):
    # (tok, doc_id) agg shuffle + tok shuffle shared by the window and the
    # final agg (the window's hashpartitioning(tok) satisfies the groupBy)
    plan = formatted_plan(textops.inverted_index(spark, SF))
    assert plan.count("Exchange (") <= 2, plan


def test_nfc_matches_unicodedata(spark):
    import hashlib
    import unicodedata

    import pyarrow.parquet as pq

    out = (
        textops.nfc_normalize_stats(spark, SF)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    n = 0
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if text is None:
            continue
        s = text + "é" * (int(doc_id) % 3 + 1) + "Å"
        norm = unicodedata.normalize("NFC", s)
        row = out.loc[int(doc_id)]
        assert row["len_raw"] == len(s)
        assert row["len_nfc"] == len(norm)
        assert row["nfc_md5"] == hashlib.md5(norm.encode("utf-8")).hexdigest()
        # composition demonstrably fired: é/Å composed to single points
        assert row["len_nfc"] < row["len_raw"]
        n += 1
    assert n == len(out)


def test_nfc_is_map_only(spark):
    plan = formatted_plan(textops.nfc_normalize_stats(spark, SF))
    assert "Exchange" not in plan, f"NFC kernel must not shuffle:\n{plan}"


def test_bloom_words_bit_packing():
    # signed-int64 conversion: bit 63 set -> negative long (Spark LongType)
    words = dedup._bloom_words([0, 63, 64, dedup.BLOOM_BITS - 1])
    assert words[0] == (1 | (1 << 63)) - (1 << 64)  # bits 0 and 63
    assert words[1] == 1  # bit 64 -> word 1 bit 0
    assert words[-1] == -(1 << 63)  # last bit -> sign bit of last word
    assert len(words) == dedup.BLOOM_BITS // 64
    assert all(-(1 << 63) <= w < (1 << 63) for w in words)


def test_decontaminate_bloom_equals_exact(spark):
    # bloom prefilter + exact verify must be OUTPUT-IDENTICAL to the
    # exact semi-join path (no false negatives by construction; false
    # positives killed by the verify join)
    exact = sorted(
        map(tuple, dedup.decontaminate(spark, SF).collect())
    )
    bloom = sorted(
        map(tuple, dedup.decontaminate_bloom(spark, SF).collect())
    )
    assert exact == bloom
    assert any(r[2] for r in exact), "fixture corpus flags no documents"


def test_decontaminate_bloom_filter_is_join_free(spark):
    # the gram-stream prefilter must be a codegen'd Filter (bit_get over a
    # literal array), NOT a join: exactly the exact path's join count
    t, bench, doc_grams = dedup._decon_frames(spark, SF)
    exact_plan = formatted_plan(dedup.decontaminate(spark, SF))
    bloom_plan = formatted_plan(dedup.decontaminate_bloom(spark, SF))
    assert bloom_plan.count("Join") == exact_plan.count("Join"), bloom_plan
    assert "bit_get" in bloom_plan


def _brute_force_substring_profile():
    import hashlib

    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    win = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if text is None:
            continue
        hs = [
            hashlib.md5(text[p:p + 32].encode("utf-8")).hexdigest()
            for p in range(0, len(text) - 31, 16)
        ]
        win[int(doc_id)] = hs
    owners = collections.defaultdict(set)
    for d, hs in win.items():
        for h in hs:
            owners[h].add(d)
    out = {}
    for d, hs in win.items():
        n_dup = sum(1 for h in hs if len(owners[h]) > 1)
        frac = round(n_dup / len(hs), 6) if hs else 0.0
        out[d] = (len(hs), n_dup, frac)
    return out


def test_substring_dup_profile_matches_brute_force(spark):
    rows = dedup.substring_dup_profile(spark, SF).collect()
    expect = _brute_force_substring_profile()
    assert {r["doc_id"] for r in rows} == set(expect)
    for r in rows:
        e = expect[r["doc_id"]]
        assert (r["n_windows"], r["n_dup_windows"]) == e[:2], r
        assert abs(r["dup_fraction"] - e[2]) < 1e-9, r
    # the corpus must actually exercise the duplicate path
    assert any(r["n_dup_windows"] > 0 for r in rows)


def test_substring_dup_profile_plan_no_expand_no_python(spark):
    # two-level distinct-then-count (no count(distinct) Expand pass) and
    # fully JVM-side window generation (no Python/Arrow stage)
    plan = formatted_plan(dedup.substring_dup_profile(spark, SF))
    assert "Expand" not in plan, plan
    assert "Python" not in plan, plan


def test_incremental_ingest_dedup_precedence(spark, tmp_path):
    """Verdict precedence on a hand-built snapshot split: corpus-dup
    beats batch-dup, first in-batch occurrence survives as novel."""
    import hashlib

    import pandas as pd

    from extractor.ops.dedup import incremental_ingest_dedup

    # choose incoming ids (%5==0) whose planted-text bucket is 2 so the
    # synthesis keeps each doc's own text and the fixture controls dups
    def bucket(i):
        return int(hashlib.md5(f"ing:{i}".encode()).hexdigest()[:8], 16) % 3

    ids = [i for i in range(0, 400, 5) if bucket(i) == 2][:4]
    assert len(ids) == 4
    rows = [
        # corpus doc + an incoming copy of it -> dup_of_corpus
        {"doc_id": 1, "text": "shared corpus text"},
        {"doc_id": ids[0], "text": "shared corpus text"},
        # two incoming copies of a NEW text -> novel (first), dup_in_batch
        {"doc_id": ids[1], "text": "batch only text"},
        {"doc_id": ids[2], "text": "batch only text"},
        # plain novel
        {"doc_id": ids[3], "text": "unique new text"},
    ]
    pd.DataFrame(
        [
            {**r, "lang": "en", "source": "s", "n_chars": len(r["text"])}
            for r in rows
        ]
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_ingest_dedup(spark, str(tmp_path)).collect()
    }
    assert out[ids[0]] == "dup_of_corpus"
    first, second = sorted([ids[1], ids[2]])
    assert out[first] == "novel" and out[second] == "dup_in_batch"
    assert out[ids[3]] == "novel"


def test_winnowing_shared_substring_guarantee(spark, tmp_path):
    """Schleimer et al.'s theorem: any shared substring of length
    >= k + w - 1 (= 11 here) yields at least one shared fingerprint."""
    import pandas as pd

    from extractor.ops.dedup import winnowing_fingerprints

    shared = "the quick brown fox jumps"  # 25 chars >> 11
    rows = [
        {"doc_id": 0, "text": "AAAA " + shared + " BBBB"},
        {"doc_id": 1, "text": "CCCCCC " + shared + " DDDD"},
        {"doc_id": 2, "text": "totally unrelated content here zzz"},
    ]
    pd.DataFrame(
        [{**r, "lang": "en", "source": "s", "n_chars": len(r["text"])}
         for r in rows]
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    out = {r["doc_id"]: r
           for r in winnowing_fingerprints(spark, str(tmp_path)).collect()}
    assert out[0]["n_shared_fps"] >= 1 and out[1]["n_shared_fps"] >= 1
    assert out[2]["n_shared_fps"] == 0
    # density: winnowing keeps a strict subset of the k-gram hashes
    for r in out.values():
        assert 1 <= r["n_fps"] <= len("x") * 200  # bounded
        assert 0 <= r["shared_bp"] <= 10000


def test_winnowing_containment_detects_planted_pairs(spark):
    """Docs in md5('win:'||id)%5==0 append 80 chars of doc_id+1's text;
    those (id, id+1) pairs must surface with substantial containment."""
    import hashlib

    from extractor.ops.dedup import winnowing_containment_pairs

    out = winnowing_containment_pairs(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}

    def bucket(i):
        return int(hashlib.md5(f"win:{i}".encode()).hexdigest()[:8], 16) % 5

    planted = [(i, i + 1) for i in range(0, 499) if bucket(i) == 0]
    found = [p for p in planted if p in pairs]
    # the 80-char planted passage guarantees shared fingerprints well
    # above the min_shared=5 verdict for the large majority of plants
    # (a plant can only be missed if the passage's winnowed mins all
    # collide with hot corpus-wide fingerprints)
    assert len(found) >= len(planted) * 0.8, (len(found), len(planted))
    for p in found[:10]:
        assert pairs[p]["shared_fps"] >= 5
        assert 0 < pairs[p]["containment_bp"] <= 10000


def test_dhash_groups_buckets_identical_profiles(spark):
    from extractor.ops.multimodal import dhash_groups

    rows = [
        (1, [0.9, 0.1, 0.8, 0.2, 0.7, 0.3, 0.6, 0.4, 0.5]),
        (2, [0.8, 0.2, 0.7, 0.3, 0.6, 0.4, 0.5, 0.3, 0.4]),  # same gradient signs
        (3, [0.1, 0.9, 0.2, 0.8, 0.3, 0.7, 0.4, 0.6, 0.5]),  # inverted
        (4, None),  # contained
    ]
    df = spark.createDataFrame(rows, "media_id long, features array<float>")
    out = dhash_groups(df)
    groups = out.collect()
    assert len(groups) == 1
    g = groups[0]
    assert (g["n_media"], g["min_media_id"], g["max_media_id"]) == (2, 1, 2)
