"""Semantic contracts for the sampling / corpus-mixing / training-order
suite (extractor/ops/sampling.py) beyond the DuckDB oracle equality that
test_entry_contract already enforces:

- decisions are keyed (stable under corpus growth): a document's fate never
  changes when other documents are added
- corpus mixing actually moves the token distribution toward the target
- training order is a permutation (every doc exactly once, positions dense)
"""

import pytest
from pyspark.sql import functions as F

from extractor.ops import md5_bucket, sampling

SF = "/root/testdata/sf0.001"


def test_stratified_sample_stability_under_growth(spark):
    """Keyed sampling: restricting the input to half the corpus yields
    exactly the full run's decisions for those docs — the property rand()
    sampling lacks and the reason every op keys on md5(doc_id)."""
    full = {
        r["doc_id"]
        for r in sampling.stratified_sample(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("doc_id") < 250
    )
    rate = F.lit(sampling.DEFAULT_RATE_BP)
    for lang, bp in sampling.STRATA_RATES_BP.items():
        rate = F.when(F.col("lang") == lang, bp).otherwise(rate)
    bucket = md5_bucket("strat:", "doc_id", mod=10000)
    sub = {r["doc_id"] for r in docs.where(bucket < rate).collect()}
    assert sub == {d for d in full if d < 250}


def test_md5_bucket_matches_duckdb_twin(spark):
    """``md5_bucket`` and the oracles' ``_dd_md5_bucket`` agree bit for bit:
    int key, non-ASCII string key, multi-part key, the empty salt with the
    1 << 62 modulus, and NULL keys (NULL on both sides)."""
    import duckdb
    import pyarrow as pa

    from __spark_entry__ import _dd_md5_bucket

    cols = {
        "rid": [0, 1, 2, 3],
        "doc_id": [7, 987654321, None, 0],
        "tok": ["naïve", "日本語テキスト", None, ""],
        "epoch": [0, 3, 1, None],
        "text": ["abcdefgh", "Ünïcödé—text", None, "x"],
    }
    schema = "rid long, doc_id long, tok string, epoch long, text string"
    multi_key = "CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"
    cases = [
        (
            md5_bucket("split:", "doc_id", mod=1000),
            _dd_md5_bucket("split:", 1000),
        ),
        (
            md5_bucket("dsir:", F.col("tok"), mod=256),
            _dd_md5_bucket("dsir:", 256, "tok"),
        ),
        (
            md5_bucket("eshard:", "epoch", F.lit(":"), "doc_id", mod=16),
            _dd_md5_bucket("eshard:", 16, multi_key),
        ),
        (
            md5_bucket("", F.col("text"), mod=1 << 62),
            _dd_md5_bucket("", 1 << 62, "text"),
        ),
    ]
    sdf = spark.createDataFrame(list(zip(*cols.values())), schema)
    got = sdf.select(
        "rid", *[c.alias(f"c{i}") for i, (c, _) in enumerate(cases)]
    ).collect()
    con = duckdb.connect()
    con.register("t", pa.table(cols))
    sql = ", ".join(f"{dd} AS c{i}" for i, (_, dd) in enumerate(cases))
    want = con.execute(f"SELECT rid, {sql} FROM t ORDER BY rid").fetchall()
    assert sorted(tuple(r) for r in got) == want
    # row 2 has every key NULL; row 3's multi-part key has a NULL epoch
    assert want[2][1:] == (None,) * len(cases)
    assert want[3][3] is None and None not in want[0][1:]


def test_stratified_rates_approached(spark):
    """Each stratum's keep-rate lands near its configured basis points
    (md5 is uniform; fixture strata are small so the tolerance is loose)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {
        r["lang"]: r["n"]
        for r in sampling.stratified_sample(spark, SF)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, bp in sampling.STRATA_RATES_BP.items():
        if totals.get(lang, 0) < 30:
            continue
        observed = kept.get(lang, 0) / totals[lang]
        assert abs(observed - bp / 10000) < 0.25, (lang, observed, bp)


def test_corpus_mix_moves_toward_target(spark):
    """After mixing, each stratum's token share must sit closer to its
    target than before (or already be under target and fully kept)."""
    out = sampling.corpus_mix_sample(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    n_toks = F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""))
    before = {
        r["lang"]: r["t"]
        for r in docs.select("lang", n_toks.alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("t"))
        .collect()
    }
    after = {
        r["lang"]: r["t"]
        for r in out.groupBy("lang").agg(F.sum("n_toks").alias("t")).collect()
    }
    tot_before = sum(before.values())
    tot_after = sum(after.values())
    for lang, (n, d) in sampling.MIX_TARGETS.items():
        target = n / d
        share_before = before.get(lang, 0) / tot_before
        share_after = after.get(lang, 0) / tot_after
        if share_before <= target:
            # under-target strata are kept whole (rate capped at 1)
            assert after.get(lang, 0) == before.get(lang, 0), lang
        else:
            assert abs(share_after - target) <= abs(share_before - target), (
                lang, share_before, share_after, target,
            )


def test_training_order_is_permutation(spark):
    out = sampling.training_order(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(out) == docs
    assert len({r["doc_id"] for r in out}) == docs
    # positions dense per shard: 1..n_s
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # and it is actually shuffled: ordering by (shard, position) must not
    # reproduce doc_id order
    ordered = [r["doc_id"] for r in sorted(out, key=lambda r: (r["shard"], r["position"]))]
    assert ordered != sorted(ordered)


def test_sketch_profile_bounds(spark):
    """Sketch aggregates stay within their published error bounds against
    exact aggregation: HLL++ distinct within ~3x rsd (2%), approx p50
    inside the exact [p25, p75] value range."""
    from extractor.ops import textops

    prof = {r["source"]: r for r in textops.sketch_profile(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    rows = docs.select("source", "n_chars", F.md5("text").alias("h")).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        exact_distinct = len({r["h"] for r in rs})
        got = prof[src]
        assert got["n_docs"] == len(rs)
        assert abs(got["approx_distinct"] - exact_distinct) <= max(
            2, 0.06 * exact_distinct
        ), (src, got["approx_distinct"], exact_distinct)
        chars = sorted(r["n_chars"] for r in rs)
        lo = chars[int(0.25 * (len(chars) - 1))]
        hi = chars[int(0.75 * (len(chars) - 1))]
        assert lo <= got["p50_chars"] <= hi, (src, got["p50_chars"], lo, hi)
        assert got["max_chars"] == chars[-1]


def test_per_stratum_topk_exact_k(spark):
    out = sampling.per_stratum_topk_sample(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sizes = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], 0)
        by_src[r["source"]] += 1
    for src, n in sizes.items():
        assert by_src.get(src, 0) == min(5, n), src


def test_weighted_bottomk_sample(spark, tmp_path, monkeypatch):
    import pandas as pd

    # one heavy doc (500 tokens), many light docs (1 token each)
    texts = ["w " * 500] + ["x"] * 30
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    from extractor.ops import sampling
    from extractor.ops.sampling import weighted_bottomk_sample

    monkeypatch.setattr(sampling, "WBK_K", 5)
    out = weighted_bottomk_sample(spark, str(tmp_path)).collect()
    assert len(out) == 5
    rows = {r["doc_id"]: r for r in out}
    # weight = 1 + tokens // 5: heavy doc 101 tickets, light docs 1
    weights = {r["doc_id"]: r["weight"] for r in out}
    if 0 in rows:
        assert weights[0] == 101
    for d, w in weights.items():
        if d != 0:
            assert w == 1
    # with 101 of 131 tickets, the heavy doc is essentially always in
    assert 0 in rows
    # deterministic across runs
    again = weighted_bottomk_sample(spark, str(tmp_path)).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(rows)
    # min_ticket is an md5 hex string
    assert all(len(r["min_ticket"]) == 32 for r in out)


# -------------------------------------------- temperature rebalancing


def test_lang_temperature_upweights_low_resource(spark):
    from extractor.ops.sampling import lang_temperature_weights

    rows = lang_temperature_weights(spark, "/root/testdata/sf0.001").collect()
    by_lang = {r["lang"]: r for r in rows}
    hi = max(rows, key=lambda r: r["n_docs"])
    lo = min(rows, key=lambda r: r["n_docs"])
    if hi["n_docs"] > lo["n_docs"]:
        # temperature sampling narrows the gap: the high-resource
        # language's sampling share drops below its corpus share, the
        # low-resource one's rises above it
        assert hi["samp_ppm"] < hi["share_ppm"]
        assert lo["samp_ppm"] > lo["share_ppm"]
    # probabilities are a near-partition of 1e6 (floor-division slack
    # of at most one ppm per language)
    total = sum(r["samp_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= total <= 1_000_000
    assert by_lang  # non-degenerate


def test_lang_temperature_sqrt_weights_exact(spark):
    import math

    from extractor.ops.sampling import lang_temperature_weights

    rows = lang_temperature_weights(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        assert r["w_micro"] == round(math.sqrt(r["n_docs"]) * 1_000_000)
