"""Semantic + plan contracts for the round-4 latecomer trio:

- ``tokenize.unigram_lm_em`` (SentencePiece-style unigram LM, rows-only):
  Viterbi reconstruction, corpus mass conservation, multi-char
  concentration, determinism
- ``sampling.mixture_epochs`` (fractional-epoch corpus mixing): exact
  copy counts per the ppm recipe, keyed stability under corpus growth,
  map-only plan (no Exchange)
- ``dedup.homoglyph_dedup`` (confusable-skeleton dedup): every planted
  evasion twin is caught, clean docs aren't, single-shuffle plan
"""

import re

from pyspark.sql import functions as F

from extractor.ops import dedup, md5_bucket, sampling, tokenize
from extractor.ops.tokenize import _viterbi_segment
from extractor.plan_lint import formatted_plan

SF = "/root/testdata/sf0.001"


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


# ---------------------------------------------------------- unigram LM

def test_viterbi_reconstructs_word():
    logp = {"un": -1.0, "i": -2.0, "gram": -1.5, "u": -3.0, "n": -3.0,
            "g": -3.0, "r": -3.0, "a": -3.0, "m": -3.0}
    pieces = _viterbi_segment("unigram", logp, 4)
    assert "".join(pieces) == "unigram"
    # the high-prob long pieces win over char-by-char
    assert pieces == ["un", "i", "gram"]


def test_viterbi_prefers_higher_score_not_greedy_length():
    # greedy-longest would take 'ab' then be stuck with low-prob 'c';
    # Viterbi picks the globally best split
    logp = {"ab": -5.0, "a": -1.0, "bc": -1.0, "c": -10.0, "b": -10.0}
    assert _viterbi_segment("abc", logp, 2) == ["a", "bc"]


def test_unigram_em_mass_conservation(spark, monkeypatch):
    """With ULM_TOP_K large enough to return every surviving piece, the
    total character mass of segmented pieces equals the character mass
    of the capped word table — every word is segmented exactly, no
    characters created or lost (the E-step's reconstruction identity)."""
    monkeypatch.setattr(tokenize, "ULM_ROUNDS", 1)
    monkeypatch.setattr(tokenize, "ULM_MAX_WORDS", 300)
    monkeypatch.setattr(tokenize, "ULM_MAX_VOCAB", 100)
    monkeypatch.setattr(tokenize, "ULM_TOP_K", 100000)
    out = tokenize.unigram_lm_em(spark, SF).collect()
    piece_mass = sum(len(r["piece"]) * r["n_uses"] for r in out)
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"[ \t\r\n\f\v]+"),
                    lambda x: x != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(300)
        .select(F.sum(F.length("word") * F.col("n")).alias("mass"))
        .collect()[0]["mass"]
    )
    assert piece_mass == words


def test_unigram_em_learns_multichar_pieces(spark):
    rows = tokenize.unigram_lm_em(spark, SF).collect()
    assert 0 < len(rows) <= 50
    # a trained unigram LM concentrates mass on multi-char pieces: the
    # top-10 must contain at least one piece of length > 1
    assert any(len(r["piece"]) > 1 for r in rows[:10])
    # output is usage-ranked, ties lexicographic — pure function of model
    key = [(-r["n_uses"], r["piece"]) for r in rows]
    assert key == sorted(key)
    assert all(r["prob_ppm"] > 0 for r in rows)


def test_unigram_em_deterministic(spark):
    a = tokenize.unigram_lm_em(spark, SF).collect()
    b = tokenize.unigram_lm_em(spark, SF).collect()
    assert a == b


# ------------------------------------------------------ mixture epochs

def test_mixture_epochs_exact_copy_counts(spark):
    """Every doc appears floor(e) or floor(e)+1 times, epochs dense from
    0, and the extra copy is exactly the md5 gate's verdict."""
    out = sampling.mixture_epochs(spark, SF)
    per_doc = (
        out.groupBy("doc_id", "source")
        .agg(F.count("*").alias("n"), F.max("epoch").alias("mx"),
             F.min("epoch").alias("mn"))
        .collect()
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        "source",
        (F.lit(500000) + F.lit(250000)
         * (F.regexp_extract("source", r"([0-9]+)$", 1).cast("long") % 8)
         ).alias("eppm"),
        (md5_bucket("epoch:", "doc_id", mod=1000000)).alias("draw"),
    ).collect()
    spec = {r["doc_id"]: r for r in docs}
    assert {r["doc_id"] for r in per_doc} <= set(spec)
    seen = set()
    for r in per_doc:
        s = spec[r["doc_id"]]
        want = s["eppm"] // 1000000 + (1 if s["draw"] < s["eppm"] % 1000000 else 0)
        assert r["n"] == want and r["mn"] == 0 and r["mx"] == want - 1
        seen.add(r["doc_id"])
    # docs absent from the output are exactly the sub-1-epoch losers
    for d, s in spec.items():
        if d not in seen:
            assert s["eppm"] < 1000000 and s["draw"] >= s["eppm"] % 1000000


def test_mixture_epochs_stable_under_growth(spark):
    """Keyed gate: a doc's copy count never changes when the corpus
    grows — restrict the input and the decisions are identical."""
    full = {
        (r["doc_id"], r["epoch"])
        for r in sampling.mixture_epochs(spark, SF).collect()
        if r["doc_id"] < 200
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("doc_id") < 200
    )
    num = F.regexp_extract("source", r"([0-9]+)$", 1).cast("long")
    d = docs.select(
        "doc_id",
        (F.lit(500000) + F.lit(250000) * (num % 8)).alias("eppm"),
        md5_bucket("epoch:", "doc_id", mod=1000000).alias("draw"),
    )
    sub = {
        (r["doc_id"], e)
        for r in d.collect()
        for e in range(
            r["eppm"] // 1000000
            + (1 if r["draw"] < r["eppm"] % 1000000 else 0)
        )
    }
    assert full == sub


def test_mixture_epochs_map_only_plan(spark):
    plan = formatted_plan(sampling.mixture_epochs(spark, SF))
    assert "Exchange" not in plan, f"epoch explode must not shuffle:\n{plan}"
    assert "Generate" in plan  # the sequence/explode node


# ---------------------------------------------------- homoglyph dedup

def test_homoglyph_catches_all_planted_twins(spark):
    out = dedup.homoglyph_dedup(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    planted = {
        r["doc_id"] for r in docs.where(F.col("doc_id") % 37 == 0).collect()
    }
    # every planted original must sit in a >1 group whose max is its twin
    caught = {r["min_doc_id"]: r for r in out}
    for d in planted:
        assert d in caught, f"evasion twin of doc {d} missed"
        assert caught[d]["max_doc_id"] == d + 10_000_000
        assert caught[d]["n_docs"] >= 2
    # and nothing else collides (the synthetic corpus has no byte dups)
    assert len(out) == len(planted)


def test_homoglyph_skeleton_is_fold_invariant(spark):
    """Byte-exact dedup misses these pairs; the skeleton catches them —
    pin the mechanism itself on a two-row frame."""
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "sаme text here")],  # Cyrillic а
        "doc_id long, text string",
    )
    exact = df.groupBy(F.md5("text")).count().where("count > 1").count()
    skel = (
        df.groupBy(F.md5(F.translate("text", "аеο", "aeo")))
        .count()
        .where("count > 1")
        .count()
    )
    assert exact == 0 and skel == 1


def test_homoglyph_single_shuffle_plan(spark):
    plan = formatted_plan(dedup.homoglyph_dedup(spark, SF))
    # one md5-keyed aggregate => exactly one Exchange, partial agg below it
    assert _n_exchanges(plan) == 1, plan
    assert plan.count("HashAggregate") >= 2  # map-side combine
