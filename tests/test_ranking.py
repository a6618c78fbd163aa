"""Okapi BM25 ranked retrieval (extractor/ops/textops.py::bm25_topk).

A third, pure-Python implementation of the same formula pins the
semantics (the DuckDB oracle in __spark_entry__ is the second); plan
gates pin the top-k and broadcast shapes the 100 TB posture depends on.
"""
import collections
import math
import re

from extractor.ops import textops
from extractor.plan_lint import formatted_plan

SF = "/root/testdata/sf0.001"


def _brute_force_bm25(k=50):
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    tf = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if text is None:
            continue
        toks = [t for t in re.split("[ \t\r\n\f\v]+", text.lower()) if t]
        tf[int(doc_id)] = collections.Counter(toks)
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n_docs = len(dl)
    avgdl = float(sum(dl.values())) / n_docs
    cnt = collections.Counter()
    df_c = collections.Counter()
    for c in tf.values():
        for tok, n in c.items():
            cnt[tok] += n
            df_c[tok] += 1
    ranked = sorted(cnt, key=lambda t: (-cnt[t], t))
    query = [ranked[r - 1] for r in textops.BM25_QUERY_RANKS]
    k1, b = textops.BM25_K1, textops.BM25_B
    scores = collections.Counter()
    n_terms = collections.Counter()
    for d, c in tf.items():
        for tok in query:
            if tok not in c:
                continue
            idf = math.log(
                (n_docs - df_c[tok] + 0.5) / (df_c[tok] + 0.5) + 1.0
            )
            part = (
                idf
                * (c[tok] * (k1 + 1.0))
                / (c[tok] + k1 * (1.0 - b + b * dl[d] / avgdl))
            )
            scores[d] += int(round(part * 1_000_000))
            n_terms[d] += 1
    top = sorted(scores, key=lambda d: (-scores[d], d))[:k]
    return [(d, n_terms[d], scores[d]) for d in top]


def test_bm25_matches_pure_python(spark):
    out = [
        (r["doc_id"], r["n_terms"], r["bm25_micro"])
        for r in textops.bm25_topk(spark, SF).collect()
    ]
    expect = _brute_force_bm25()
    assert len(out) == len(expect)
    # integer micro-unit scores must agree exactly; Python round() is
    # banker's vs Spark HALF_UP, so allow 1 micro-unit per matched term
    # ONLY on the score (ordering mismatches would still fail the zip)
    for (d1, t1, s1), (d2, t2, s2) in zip(out, expect):
        assert d1 == d2 and t1 == t2, (out[:5], expect[:5])
        assert abs(s1 - s2) <= t1, (d1, s1, s2)


def test_bm25_scores_positive_and_bounded(spark):
    rows = textops.bm25_topk(spark, SF).collect()
    assert 0 < len(rows) <= 50
    assert all(r["bm25_micro"] > 0 for r in rows)
    assert all(1 <= r["n_terms"] <= len(textops.BM25_QUERY_RANKS) for r in rows)
    # descending by score with doc_id tie-break
    keys = [(-r["bm25_micro"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_bm25_plan_topk_and_broadcast(spark):
    plan = formatted_plan(textops.bm25_topk(spark, SF))
    # final top-k must be TakeOrderedAndProject (no materialized global
    # sort) and the 3-row query-term join must be a broadcast
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _brute_force_pmi(min_count=5, k=100):
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["text"]
    ).to_pandas()
    c12 = collections.Counter()
    for text in docs["text"]:
        if text is None:
            continue
        toks = [t for t in re.split("[ \t\r\n\f\v]+", text.lower()) if t]
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] += 1
    cw1 = collections.Counter()
    cw2 = collections.Counter()
    for (a, b), n in c12.items():
        cw1[a] += n
        cw2[b] += n
    n_bg = sum(c12.values())
    rows = []
    for (a, b), n in c12.items():
        if n < min_count:
            continue
        pmi = (
            math.log(float(n)) + math.log(float(n_bg))
            - math.log(float(cw1[a])) - math.log(float(cw2[b]))
        )
        rows.append((a, b, n, int(round(pmi * 1_000_000))))
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    return rows[:k]


def test_collocations_pmi_matches_pure_python(spark):
    got = [
        (r["w1"], r["w2"], r["c12"], r["pmi_micro"])
        for r in textops.collocations_pmi(spark, SF).collect()
    ]
    expect = _brute_force_pmi()
    assert len(got) == len(expect)
    for g, e in zip(got, expect):
        assert g[:3] == e[:3], (g, e)
        assert abs(g[3] - e[3]) <= 1, (g, e)  # banker's vs HALF_UP rounding


def test_collocations_pmi_plan_topk_no_global_sort(spark):
    plan = formatted_plan(textops.collocations_pmi(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


# ------------------------------------------------------------- hybrid RRF


def test_rrf_fuse_arithmetic_and_missing_list(spark):
    from extractor.ops.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank_lex long"
    )
    sem = spark.createDataFrame(
        [(20, 1), (40, 2)], "vec_id long, rank_sem long"
    )
    rows = {r["doc_id"]: r for r in rrf_fuse(lex, sem).collect()}
    # doc 20 is in both lists: floor(1e9/62) + floor(1e9/61)
    assert rows[20]["rrf_nano"] == 10**9 // 62 + 10**9 // 61
    # doc 10 only lexical: floor(1e9/61), sem rank reported as 0
    assert rows[10]["rrf_nano"] == 10**9 // 61
    assert rows[10]["rank_sem"] == 0
    # doc 40 only semantic
    assert rows[40]["rrf_nano"] == 10**9 // 62
    assert rows[40]["rank_lex"] == 0
    # fused order: 20 first (two contributions)
    ordered = rrf_fuse(lex, sem).collect()
    assert ordered[0]["doc_id"] == 20


def test_quantized_dot_ranking_self_top_and_integer(spark):
    from extractor.ops.similarity import quantized_dot_ranking

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = quantized_dot_ranking(emb).collect()
    # the query vector's own quantized self-dot is maximal for itself;
    # rank 1 must be vec 0 unless another vector ties-and-beats it,
    # which int8 self-dot (sum of squares of the largest codes) makes
    # effectively impossible on real data — pin it.
    assert out[0]["vec_id"] == 0 and out[0]["rank_sem"] == 1
    assert all(isinstance(r["dot_q"], int) for r in out)
    # descending, tie-broken by vec_id
    dots = [(r["dot_q"], r["vec_id"]) for r in out]
    assert dots == sorted(dots, key=lambda t: (-t[0], t[1]))


def test_hybrid_rrf_plan_no_corpus_window(spark):
    """The fusion stage must not sort the corpus: the only window sorts
    are over the two top-50 lists (single-partition over <=50 rows),
    and the semantic scan must keep the query broadcast."""
    from extractor.ops.similarity import hybrid_rrf

    df = hybrid_rrf(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert all(r["rrf_nano"] > 0 for r in rows)


def test_unigram_neg_sampling_smoothing_and_exactness(spark):
    import math

    from extractor.ops.textops import unigram_neg_sampling_weights

    rows = unigram_neg_sampling_weights(spark, SF).collect()
    assert 0 < len(rows) <= 50  # sf0.001's vocab is ~31 tokens
    # ordered by raw count desc
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    for r in rows:
        x = r["cnt"]
        assert r["w_micro"] == round(math.sqrt(x * math.sqrt(x)) * 1_000_000)
    # smoothing: sampling share of the top token is LESS than its raw
    # count share within the top-50 slice (0.75 < 1 flattens)
    w_tot = sum(r["w_micro"] for r in rows)
    c_tot = sum(cnts)
    assert rows[0]["w_micro"] / w_tot < rows[0]["cnt"] / c_tot
