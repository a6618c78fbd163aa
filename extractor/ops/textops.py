"""Text-analysis operators over the ``documents`` table: the SQL-expressible
extraction sub-operator (T10 cleanup) plus the training-data-pipeline text
suite (token counting, quality scoring, language-ID heuristic,
fingerprinting).  All JVM-side (`pyspark.sql.functions` only — codegen'd,
no Python in the hot path); each has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from extractor.fanout import fan_out_scan
from extractor.ops import md5_bucket
from extractor.session import arrow_stage

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")

# Marker-word lists for the n-gram/keyword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "les"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def t10_markdown_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The T10 cleanup regex chain (html_processor.py:482-509) verbatim, as
    chained regexp_replace — the reference core transform with a clean SQL
    oracle.  A newline-/indent-heavy column is synthesized from the document
    text first so every rule actually fires."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    messy = F.concat(
        F.lit("> "),
        F.substring("text", 1, 40),
        F.lit("\n\n\n\n\n\t\t"),
        F.substring("text", 41, 30),
        F.lit("\n    indented tail\n\n\n<table>t</table>\n\n\n<math>m</math>\n\n\ndone"),
    )
    cleaned = messy
    for pattern, repl in (
        (r"(?m)^>\s*", ""),
        (r"(?m)^\t+", ""),
        (r"(?m)^    ", ""),
        (r"\n{4,}", "\n\n\n"),
        (r"\n{3}(?=\n)", "\n\n"),
        (r"\n+(<table)", "\n$1"),
        (r"(</table>)\n+", "$1\n\n"),
        (r"\n+(<math)", "\n$1"),
        (r"(</math>)\n+", "$1\n"),
    ):
        cleaned = F.regexp_replace(cleaned, pattern, repl)
    return docs.select("doc_id", F.trim(cleaned).alias("cleaned"))


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (word pieces and standalone punctuation).  Scan fan-out: the
    regexp_extract_all token pass is CPU-bound and the single-split
    corpus otherwise pins it to one task (extractor/fanout.py)."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    docs = fan_out_scan(spark, docs, docs)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
        ).alias("bpe_ish_tokens"),
        F.length("text").alias("chars"),
    )


def _quality_pass():
    """The ``passes_quality`` verdict as an unresolved column over
    ``text`` — shared by :func:`quality_score` and the fused
    :func:`curation_report` scan."""
    tokens = F.split(F.trim("text"), r"\s+")
    n_tokens = F.size(tokens)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    mean_wl = F.length(F.regexp_replace("text", r"\s+", "")) / n_tokens
    return (n_tokens >= 10) & (n_stop / n_tokens >= 0.0) & (mean_wl < 15)


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean word length, stopword ratio,
    punctuation density — the jusText/C4-style heuristic family.
    Scan fan-out: tokenize + regex passes, same rationale as
    :func:`token_stats`."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    docs = fan_out_scan(spark, docs, docs)
    tokens = F.split(F.trim("text"), r"\s+")
    n_tokens = F.size(tokens)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0))
    mean_wl = F.length(F.regexp_replace("text", r"\s+", "")) / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.round(n_punct / F.length("text"), 4).alias("punct_density"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        _quality_pass().alias("passes_quality"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-marker language-ID heuristic: per-language marker hit counts,
    argmax via a deterministic greatest/CASE chain."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # tokenize + three marker-filter passes per row: fan out the scan
    docs = fan_out_scan(spark, docs, docs)
    tokens = F.split(F.lower("text"), r"\s+")

    def _contains(arr):  # single-arg lambda: F.filter treats 2-arg as (x, i)
        return lambda t: F.array_contains(arr, t)

    scores = {
        lang: F.size(
            F.filter(tokens, _contains(F.array(*[F.lit(x) for x in markers])))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    en, de, fr = scores["en"], scores["de"], scores["fr"]
    pred = (
        F.when((en >= de) & (en >= fr) & (en > 0), "en")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )
    return docs.select(
        "doc_id",
        en.alias("score_en"),
        de.alias("score_de"),
        fr.alias("score_fr"),
        pred.alias("pred_lang"),
    )


CHARGRAM_TOP_N = 20  # char-grams kept per language profile



def lang_id_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language ID — the n-gram-profile method (Cavnar &
    Trenkle 1994, public) that works where word markers can't (Chinese has
    no spaces, so ``lang_id``'s marker words never fire).

    Self-trained on the corpus's own labels: each language's profile is
    its ``CHARGRAM_TOP_N`` most frequent char bigrams; a document's score per
    language is how many of its bigram OCCURRENCES fall in that profile,
    and the prediction is the integer-deterministic argmax (hit count
    desc, language asc — all hits share the doc's denominator, so ordering
    by hits equals ordering by rate).

    Plan at scale: profile building is a map-side-combined (lang, bigram)
    count + top-n window over |langs|·|bigrams| rows; the tiny profile
    table broadcasts onto the exploded doc bigrams (LeftSemi-style inner
    join, no bigram shuffle); scoring is one groupBy(doc) partial agg.

    Note: the sandbox corpus draws every language's text from the same
    synthetic vocabulary, so label-recovery accuracy is not a meaningful
    metric here — the DuckDB oracle verifies the computation (profiles,
    hits, argmax) bit-for-bit, which is the testable contract."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # per-char split + bigram transform + explode: fan out the starved scan
    docs = fan_out_scan(spark, docs, docs)
    chars = F.split(F.regexp_replace(F.lower("text"), r"\s+", " "), "")
    bigrams = F.expr(
        "filter(transform(sequence(0, greatest(size(bgc) - 2, 0)), "
        "i -> concat(bgc[i], bgc[i + 1])), x -> length(x) = 2)"
    )
    # NOTE: the >=2-bigram gate is pushed back into the scan stage, but
    # anchoring it post-exchange (post_shuffle_filter) measured 2.5x
    # SLOWER for this query (4.2 s -> 10.8 s at sf0.1, repeats=3), unlike
    # corpus_curation where the same barrier wins 3.5x: here the explode
    # stage dominates and the scan-stage split pass is the cheaper side.
    d = docs.select("doc_id", "lang", chars.alias("bgc")).where(
        F.size("bgc") >= 2
    )
    doc_bg = d.select("doc_id", "lang", F.explode(bigrams).alias("bg"))
    w = Window.partitionBy("plang").orderBy(F.desc("c"), F.asc("bg"))
    profiles = (
        doc_bg.groupBy(F.col("lang").alias("plang"), "bg")
        .agg(F.count("*").alias("c"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= CHARGRAM_TOP_N)
        .select("plang", "bg")
    )
    scored = (
        doc_bg.join(F.broadcast(profiles), "bg")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("hits"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("hits"), F.asc("plang")
    )
    totals = doc_bg.groupBy("doc_id").agg(F.count("*").alias("total_bigrams"))
    best = (
        scored.withColumn("rk", F.row_number().over(w_doc))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("plang").alias("pred_lang"), "hits")
    )
    return (
        d.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .join(totals, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            "total_bigrams",
        )
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercase text
    (stable across engines), plus a coarse length bucket."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    normalized = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        (F.floor(F.length(normalized) / 100) * 100).cast("long").alias("len_bucket"),
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for a training-data pipeline: regex redaction of
    emails / phone numbers / IPv4 addresses with per-kind counts.

    The prose corpus carries no PII, so a deterministic PII suffix is
    synthesized from ``doc_id`` first (both engines rebuild it exactly);
    the scrub itself is the generic production pattern: JVM-side
    ``regexp_extract_all`` counting + chained ``regexp_replace`` — one
    map-only stage, no shuffle, 100 TB-safe.  Patterns stay inside the
    RE2 ∩ Java-regex common subset so the DuckDB oracle runs them verbatim.
    """
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    did = F.col("doc_id").cast("string")
    payload = F.concat(
        F.substring("text", 1, 50),
        F.lit(" mail user"), did, F.lit("@example.com"),
        F.lit(" ip 10.0."), F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".1 call +1 555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+\d{1,2} \d{3}-\d{4}"
    ip = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(payload, email, "[EMAIL]"), ip, "[IP]"
        ),
        phone,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(payload, F.lit(email), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(payload, F.lit(ip), 0))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(payload, F.lit(phone), 0))
        .cast("long")
        .alias("n_phones"),
        redacted.alias("redacted"),
    )


def _tok_arr():
    """Shared corpus tokenizer: lowercase, split on explicit ASCII
    whitespace (RE2 ∩ Java \\s common subset), drop empties."""
    return F.filter(
        F.split(F.lower(F.trim("text")), r"[ \t\r\n\f\v]+"), lambda x: x != ""
    )


def vocab_topk(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k tokens by occurrence count, determinstic
    tie-break on the token itself.  explode → count → top-k; the aggregate
    is map-side combined (partial_count before the shuffle carries one row
    per distinct token per partition) and the top-k is TakeOrderedAndProject
    — no global sort materializes, so the plan is a 100 TB plan."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = docs.select(F.explode(_tok_arr()).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(k)
    )


TFIDF_K = 3  # top terms per document



def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF.

    The ranking key is (term frequency DESC, token ASC) — all-integer, so
    the selected rows are engine-exact; the reported tf_idf value
    (tf · ln((N+1)/(df+1)), smoothed) is rounded to 4 decimals.

    Plan: ONE corpus scan — (doc, tok) counts (map-side combined), then
    document frequency as a count window over the tok partitioning and
    per-doc totals + rank over the doc partitioning, all on the same
    aggregated relation (three keyed exchanges of the distinct-pair
    table, never a rescan, never a vocabulary join); the top-k filter
    applies after ranking so only k·N rows survive."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    per_tok = (
        docs.select("doc_id", F.explode(_tok_arr()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    w_tok = Window.partitionBy("tok")
    w_doc = Window.partitionBy("doc_id")
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("tok"))
    ranked = (
        per_tok.withColumn("df", F.count("*").over(w_tok))
        .select(
            "doc_id",
            "tok",
            "c",
            "df",
            F.sum("c").over(w_doc).alias("doc_toks"),
            F.row_number().over(w_rank).alias("rk"),
        )
        .where(F.col("rk") <= TFIDF_K)
    )
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    return ranked.crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "tok",
        F.col("c").cast("long").alias("c"),
        F.col("rk").cast("int").alias("rk"),
        F.round(
            (F.col("c") / F.col("doc_toks"))
            * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
            4,
        ).alias("tf_idf"),
    )


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring — the in-corpus analogue of the
    KenLM-perplexity quality filter (CCNet/Gopher, public): train add-one-
    smoothed bigram counts on the corpus itself, then score each document
    by its mean negative log-likelihood.  High score = improbable token
    sequences = candidate junk.

    nll(w1,w2) = ln(c(w1)+V) − ln(c(w1,w2)+1), rounded to 6 decimals
    per bigram before averaging (pins engine float agreement), doc score
    rounded to 3.

    Plan (shuffle-lean): bigram extraction is array-native (zip of the
    token array with its tail — map-only, no posexplode self-join); raw
    occurrences immediately collapse to per-doc DISTINCT bigram counts
    (doc_id, w1, w2, k) — one map-side-combined shuffle — and everything
    downstream (the c2/c1 count tables, the model join, the per-doc
    weighted mean Σk·nll/Σk) moves distinct pairs, never occurrences.
    At 100 TB the per-doc pair table and the c2/c1 count model are
    materialized once (persist/write) and reused across the three
    consumers — inline here so the DuckDB oracle can rebuild the whole
    computation from the corpus.  The w1-keyed join is Zipf-skewed
    (stopword heads dominate); AQE skew-join splitting handles it at
    runtime (enabled in session defaults), and the count-model sides are
    one row per key so the split partitions stay join-correct."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    t = docs.select("doc_id", _tok_arr().alias("toks")).where(F.size("toks") >= 2)
    bigram_arr = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
    )
    bg = t.select("doc_id", F.explode(bigram_arr).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    per_doc = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("k"))
    c2 = per_doc.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    c1 = per_doc.groupBy("w1").agg(F.sum("k").alias("c1"))
    vocab = (
        docs.select(F.explode(_tok_arr()).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    nll = F.round(
        F.log(F.col("c1") + F.col("v")) - F.log(F.col("c2") + 1), 6
    )
    return (
        per_doc.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "k", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("k") * F.col("nll")) / F.sum("k"), 3).alias(
                "lm_score"
            ),
        )
    )


def sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch corpus profile per source: HyperLogLog++ distinct
    text estimate (``approx_count_distinct``) and GK-sketch quantiles of
    document length (``percentile_approx``) next to the exact count.

    This is the 100 TB profiling path: both sketches are constant-size,
    mergeable partial aggregates — the shuffle carries one sketch per
    (partition, source), never raw values, so profiling cost is one scan
    regardless of corpus size.  Approximate by design → no SQL oracle;
    the error-bound contract (HLL rsd 2%, quantile rank error 1/accuracy)
    is pinned by ``tests/test_sampling.py::test_sketch_profile_bounds``
    against exact aggregation."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.approx_count_distinct(F.md5("text"), rsd=0.02).alias("approx_distinct"),
        F.percentile_approx("n_chars", 0.5, 10000).alias("p50_chars"),
        F.percentile_approx("n_chars", 0.9, 10000).alias("p90_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public):
    duplicate-token fraction and top-token fraction per document — the
    standard "is this document degenerate repetition?" filter.

    Plan shape at scale: explode → ``groupBy(doc_id, tok)`` →
    ``groupBy(doc_id)``.  Two shuffles, but both are map-side combined, so
    neither moves raw tokens: shuffle 1 carries distinct (doc, token)
    pairs, shuffle 2 carries the per-partition partial (sum, count, max)
    per doc.  The alternative single-shuffle plan (repartition raw tokens
    by doc_id first) moves strictly more data — token occurrences instead
    of distinct pairs — so two light shuffles is the right 100 TB plan."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"[ \t\r\n\f\v]+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "top_count",
            F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 4).alias(
                "dup_fraction"
            ),
            F.round(F.col("top_count") / F.col("n_tokens"), 4).alias(
                "top_fraction"
            ),
        )
    )


MAX_POSTINGS = 16  # doc_ids listed per term



def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the IR-side companion to ``vocab_topk``:
    one row per distinct token with its document frequency, total term
    frequency, and a CAPPED ascending posting list (first ``MAX_POSTINGS``
    doc_ids, comma-joined so the oracle hash is string-exact).

    Scale shape: (tok, doc_id) term frequencies are one map-side-combined
    agg shuffle; the posting cap is applied with a row_number window over
    the SAME tok partitioning BEFORE the final collect_list, so a
    stop-word token ("the": ~every doc on the open web) contributes at
    most ``MAX_POSTINGS`` elements to any in-memory list — an UNCAPPED
    collect_list per token is the classic inverted-index OOM at web
    scale.  df/tf still aggregate over the full relation, exactly."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    per = (
        docs.select("doc_id", F.explode(_tok_arr()).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("tok").orderBy("doc_id")
    capped = per.withColumn("rn", F.row_number().over(w))
    return capped.groupBy("tok").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") <= MAX_POSTINGS, F.col("doc_id"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


def nfc_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization over the corpus — the canonicalization
    step every multilingual training pipeline runs before dedup/hashing
    (composed vs decomposed accents otherwise defeat exact-hash dedup).

    Spark has no built-in normalizer, so this is an ``arrow_stage``
    kernel (batched, zero per-row Python round-trips) over
    ``unicodedata.normalize("NFC", ...)``; a deterministic DECOMPOSED
    suffix (combining acute/ring repeated ``doc_id % 3 + 1`` times) is
    appended first so composition demonstrably fires on every row.  The
    oracle recomputes with DuckDB's ICU ``nfc_normalize`` — two
    independent conformant implementations of UAX #15 must agree on
    length and md5 per document.  Map-only: no shuffle, no join."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )

    def kernel(batch):
        import hashlib
        import unicodedata

        raw_len, nfc_len, digest = [], [], []
        for doc_id, text in zip(
            batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()
        ):
            s = text + "é" * (doc_id % 3 + 1) + "Å"
            n = unicodedata.normalize("NFC", s)
            raw_len.append(len(s))
            nfc_len.append(len(n))
            digest.append(hashlib.md5(n.encode("utf-8")).hexdigest())
        return batch.column("doc_id"), raw_len, nfc_len, digest

    return arrow_stage(
        docs, kernel, "doc_id long, len_raw long, len_nfc long, nfc_md5 string"
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_RANKS = (5, 10, 15)  # global vocab ranks used as the query terms


def bm25_topk(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck Jones; the Okapi BM25
    formula every production search stack runs) — the retrieval capstone
    on the :func:`inverted_index` family: score every document against a
    deterministic query (the tokens at global vocabulary ranks 5/10/15 by
    total count, tie-broken on the token) and return the top-*k* by score.

    EXACT-INTEGER oracle trick (same family as the integer PageRank):
    each per-(doc, term) partial score is computed in float64 from a
    per-row-deterministic expression — no float ever crosses an
    order-sensitive aggregate — then rounded to integer MICRO-units
    before the per-doc sum, so the sum is exact long arithmetic and the
    result hash-matches an independent engine bit-for-bit.  ``avgdl`` is
    built as sum/count explicitly (not ``avg``) so both engines produce
    the identical float64.

    Scale shape (100 TB): tf is the one big (doc_id, tok) agg shuffle
    (map-side combined); dl reuses tf (no second explode pass); the
    global top-15 vocabulary probe is TakeOrderedAndProject (no global
    sort); query terms (3 rows) and the 1-row corpus stats broadcast onto
    the tf stream map-side; only the tf rows matching a query term reach
    the doc-level join+sum; the final top-k is again
    TakeOrderedAndProject.  Nothing collects more than 15 rows."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    tf = (
        docs.select("doc_id", F.explode(_tok_arr()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    vocab = tf.groupBy("tok").agg(
        F.sum("tf").alias("cnt"), F.count("*").cast("long").alias("df")
    )
    top = vocab.orderBy(F.desc("cnt"), "tok").limit(max(BM25_QUERY_RANKS))
    from pyspark.sql.window import Window

    q = (
        top.withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "tok")),
        )
        .where(F.col("r").isin(*BM25_QUERY_RANKS))
        .select("tok", "df")
    )
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    matched = tf.join(F.broadcast(q), "tok").join(dl, "doc_id").crossJoin(
        F.broadcast(stats)
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    part = (
        idf
        * (F.col("tf") * (k1 + F.lit(1.0)))
        / (
            F.col("tf")
            + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        matched.select(
            "doc_id",
            F.round(part * F.lit(1_000_000)).cast("long").alias("s_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("s_micro").cast("long").alias("bm25_micro"),
        )
        .orderBy(F.desc("bm25_micro"), "doc_id")
        .limit(k)
    )


PMI_MIN_COUNT = 5  # collocation support floor
PMI_TOPK = 100


def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token pairs (Church & Hanks) — the corpus-analysis staple for
    multiword-expression discovery.  ``pmi = ln c12 + ln N − ln cw1 −
    ln cw2`` (sum-of-logs, NOT ln of the ratio: ``c12 · N`` overflows
    int64 once N reaches web scale, and every term here stays a
    per-row-deterministic float64 of a single bigint), rounded to integer
    micro-units (the BM25/PageRank exact-integer oracle pattern), support
    floor ``c12 ≥ 5``, top-100 by (pmi, w1, w2).

    Scale shape (100 TB): bigrams are built map-side
    (``transform(sequence)``) and reduced by ONE map-side-combined agg
    shuffle; the w1/w2 margins are re-aggregations of the (much smaller)
    distinct-pair relation, joined back unhinted — AQE broadcasts them at
    test scale and degrades to (skew-split) shuffle joins on a Zipf web
    vocabulary; N is a 1-row aggregate cross-joined as a broadcast; the
    final top-k is TakeOrderedAndProject, no global sort."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    t = docs.select(_tok_arr().alias("toks")).where(F.size("toks") >= 2)
    bigram_arr = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
    )
    c12 = (
        t.select(F.explode(bigram_arr).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    cw1 = c12.groupBy("w1").agg(F.sum("c12").alias("cw1"))
    cw2 = c12.groupBy("w2").agg(F.sum("c12").alias("cw2"))
    n = c12.agg(F.sum("c12").cast("long").alias("n_bigrams"))
    pmi = (
        F.log(F.col("c12").cast("double"))
        + F.log(F.col("n_bigrams").cast("double"))
        - F.log(F.col("cw1").cast("double"))
        - F.log(F.col("cw2").cast("double"))
    )
    return (
        c12.where(F.col("c12") >= PMI_MIN_COUNT)
        .join(cw1, "w1")
        .join(cw2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(pmi * F.lit(1_000_000)).cast("long").alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(PMI_TOPK)
    )


BPE_PAIR_K = 200  # most frequent pairs returned



def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent character-pair counts — the distributed
    counting kernel of one byte-pair-encoding merge step (Sennrich et
    al. 2016: each BPE round merges the corpus's most frequent adjacent
    symbol pair; tokenizer training is this count iterated).  Output:
    the top-``BPE_PAIR_K`` pairs as ``(pair, n)``, total-ordered by
    (n DESC, pair ASC) so the cut is engine-exact.

    Plan: a map-only pair generation — ``transform(sequence(...))`` +
    ``explode``, all whole-stage-codegen'd JVM expressions, no Python —
    followed by ONE hash aggregate whose shuffle carries only the
    distinct-pair partials (map-side combine collapses the per-char
    explosion to |alphabet|² rows per task: a few KB), and a
    TakeOrderedAndProject top-k — no global sort.  The transient
    per-document pair array is bounded by the max document length (the
    same bound as holding the text cell itself); for multi-GB cells
    switch the generation to an ``arrow_stage`` kernel emitting pre-counted
    (pair, n) partials — the aggregate topology is unchanged."""
    docs = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length("text") >= 2)
    )
    pairs = docs.select(
        F.explode(
            F.expr("transform(sequence(1, length(text) - 1),"
                   " i -> substr(text, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_PAIR_K)
    )


DSIR_BUCKETS = 256
DSIR_SCALE = 1_000_000


def _ln_micro(c):
    """round(ln(x) · 10^6) as int64, x a single bigint — per-row
    deterministic on every engine (one libm call on one exact integer,
    no float accumulation), the module's shared exact-log primitive
    (same pattern as ``collocations_pmi`` / BM25)."""
    return F.round(F.log(c.cast("double")) * DSIR_SCALE).cast("long")


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by the log-likelihood ratio of a TARGET distribution
    (here: the English subcorpus) vs the RAW corpus distribution over
    hashed token features — the published recipe for selecting
    web-scale pretraining data that "looks like" a curated target set.
    Features are md5-hashed unigram buckets (``hash(tok) % 256``, the
    engine's shared keyed-uniform primitive); both distributions are
    add-one smoothed.

    Exactness: every log is ``_ln_micro`` of a single bigint count,
    rounded to integer micro-units BEFORE the per-document summation —
    so the sum is an int64 sum (order-independent, unlike float sums)
    and a SQL oracle reproduces it bit-for-bit.  Output:
    ``(doc_id, n_toks, dsir_micro)`` where dsir_micro =
    Σ_tok [ln(ct_b+1) − ln(cr_b+1)] + n_toks·[ln(nr+B) − ln(nt+B)],
    all in micro-units.

    Scale shape (100 TB): ONE token-level agg shuffle builds the
    (≤256-row) bucket count table with target and raw counts in the
    same pass (conditional agg, not two scans); the LLR table and the
    1-row totals broadcast back onto the token stream, and the
    per-document sum is one doc-keyed agg — the same partitioning the
    extraction pipeline already uses."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = docs.select("doc_id", "lang", F.explode(_tok_arr()).alias("tok"))
    bucket = md5_bucket("dsir:", F.col("tok"), mod=DSIR_BUCKETS)
    tb = toks.select("doc_id", "lang", bucket.alias("b"))
    counts = tb.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ct"),
    )
    llr = counts.select(
        "b",
        (_ln_micro(F.col("ct") + 1) - _ln_micro(F.col("cr") + 1)).alias(
            "llr_micro"
        ),
    )
    totals = counts.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cr").cast("long").alias("nr"),
    )
    return (
        tb.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("llr_micro").cast("long").alias("s"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "n_toks",
            (
                F.col("s")
                + F.col("n_toks")
                * (
                    _ln_micro(F.lit(DSIR_BUCKETS) + F.col("nr"))
                    - _ln_micro(F.lit(DSIR_BUCKETS) + F.col("nt"))
                )
            ).alias("dsir_micro"),
        )
    )


def doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy (micro-nats)
    — the classic gibberish/compression-artifact quality signal (very
    low entropy = repeated filler, very high = base64/binary spill).
    ``H = Σ_c (cnt_c/len)·ln(len/cnt_c)``, computed as
    ``Σ_c cnt_c·[ln_micro(len) − ln_micro(cnt_c)] / len``: the inner
    sum is pure int64 (order-independent), and the single closing
    division is one deterministic double op on two exact integers —
    engine-reproducible to the output's integer micro-unit.

    Plan: map-only char explode → one (doc, char) hash agg (map-side
    combined to ≤|alphabet| rows per doc per task) → the per-doc length
    as a doc-partitioned window on the SAME aggregated relation (no
    rescan) → one doc-keyed agg.  Output: (doc_id, n_chars,
    entropy_micro)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length("text") >= 1)
    )
    # per-char explode multiplies rows len(text)-fold; spread the scan first
    docs = fan_out_scan(spark, docs, docs)
    chars = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text)),"
                   " i -> substr(text, i, 1))")
        ).alias("ch"),
    )
    cc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id")
    cc = cc.withColumn("len", F.sum("cnt").over(w))
    term = F.col("cnt") * (_ln_micro(F.col("len")) - _ln_micro(F.col("cnt")))
    return (
        cc.groupBy("doc_id")
        .agg(
            F.max("len").cast("long").alias("n_chars"),
            F.sum(term).cast("long").alias("s"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.round(F.col("s").cast("double") / F.col("n_chars"))
            .cast("long")
            .alias("entropy_micro"),
        )
    )


NEG_SAMPLE_TOPK = 200


def unigram_neg_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling distribution (Mikolov et al.):
    token drawn proportionally to ``count^0.75`` — the smoothing every
    contrastive text-embedding trainer uses to keep frequent tokens
    from dominating negatives.  ENGINE-EXACT exponent trick:
    ``x^0.75 = sqrt(x · sqrt(x))`` — two IEEE-correctly-rounded sqrts
    and one exact product, bit-identical everywhere, where a libm
    ``pow(x, 0.75)`` is not guaranteed to be.  Weights round to integer
    micro-units before the normalizing sum (the PMI/BM25 pattern);
    probabilities are integer floor-division in parts-per-million.

    Output: top-``NEG_SAMPLE_TOPK`` tokens by count (tok tiebreak):
    ``(tok, cnt, w_micro, samp_ppm)``.

    Scale shape: the token count is the corpus's one big map-side-
    combined agg shuffle; the top-k is TakeOrderedAndProject; the
    normalizer sums over the FULL vocabulary (vocab-cardinality rows,
    exact bigints) and broadcasts as one row."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    cnt = (
        docs.select(F.explode(_tok_arr()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = cnt.withColumn(
        "w_micro",
        F.round(
            F.sqrt(F.col("cnt") * F.sqrt(F.col("cnt"))) * F.lit(1_000_000)
        ).cast("long"),
    )
    tot = w.agg(F.sum("w_micro").alias("w_total"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "cnt",
            "w_micro",
            F.expr("CAST(w_micro * 1000000 DIV w_total AS BIGINT)").alias(
                "samp_ppm"
            ),
        )
        .orderBy(F.desc("cnt"), "tok")
        .limit(NEG_SAMPLE_TOPK)
    )


def pii_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated PII audit: candidate 16-digit account numbers
    are verified with the Luhn checksum before they count as PII — the
    production guard against regex over-redaction (most 16-digit hits
    in web text are order ids/hashes, and scrubbing them destroys
    training signal for nothing).  Complements :func:`pii_redact`
    (regex-only) with the validation stage.

    The corpus carries no digits, so the candidate is synthesized
    deterministically from ``doc_id`` (same planted-payload pattern as
    pii_redact — both engines rebuild it exactly); the Luhn evaluation
    itself is the real production kernel: a codegen'd bounded
    ``aggregate(sequence(1,16))`` of doubled-digit terms — map-only,
    no Python, no shuffle.

    Output: ``(doc_id, card_masked, luhn_sum, is_valid)`` — masked to
    the last four digits, sum and verdict exact integers."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    card = F.lpad(
        ((F.col("doc_id") * 48271 + 12345) % 10_000_000_000_000_000)
        .cast("string"),
        16,
        "0",
    )
    luhn = F.expr(
        "aggregate(sequence(1, 16), 0, (acc, i) -> acc +"
        " CASE WHEN i % 2 = 1 THEN"
        "   IF(CAST(substr(card, CAST(i AS INT), 1) AS INT) * 2 > 9,"
        "      CAST(substr(card, CAST(i AS INT), 1) AS INT) * 2 - 9,"
        "      CAST(substr(card, CAST(i AS INT), 1) AS INT) * 2)"
        " ELSE CAST(substr(card, CAST(i AS INT), 1) AS INT) END)"
    )
    return (
        docs.select("doc_id", card.alias("card"))
        .select(
            "doc_id",
            F.concat(F.lit("************"), F.substring("card", 13, 4))
            .alias("card_masked"),
            luhn.cast("long").alias("luhn_sum"),
            (luhn % 10 == 0).cast("int").alias("is_valid"),
        )
    )


FT_BUCKETS = 4096  # hashed feature space (the fastText hashing trick)


def _ft_weight(feat):
    """Synthetic linear-model weight for a feature string: feature →
    hashed bucket (collisions intended — the hashing trick means NO
    vocabulary table exists anywhere) → deterministic weight in
    [-1000, 1000] derived from the bucket id.  Both hops are the
    engine's shared md5 keyed-uniform primitive, so a SQL oracle
    reproduces every weight bit-for-bit."""
    bucket = md5_bucket("ftb:", feat, mod=FT_BUCKETS)
    return md5_bucket("ftw:", bucket.cast("string"), mod=2001) - 1000


def hashed_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier INFERENCE as a map-only
    stage: score = Σ w[h(unigram)] + Σ w[h(bigram)] over hashed feature
    buckets (Joulin et al. 2016's hashing trick) — the shape of every
    production quality/toxicity classifier sweep over a pretraining
    corpus.  The weights here are synthesized deterministically from the
    bucket id (no training in-sandbox), but the inference path is the
    real one: per-row HOF ``transform`` + ``aggregate`` over the token
    array, ZERO shuffle, zero Python, and — because buckets hash from
    the feature itself — no vocabulary broadcast either.  At 100 TB
    this scores every document in one codegen'd scan.

    Output: ``(doc_id, n_feats, score, label)`` — all-integer, exact."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    d = docs.select("doc_id", _tok_arr().alias("toks"))
    uni_sum = F.aggregate(
        F.transform(F.col("toks"), _ft_weight),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, CAST(i AS INT)), '_',"
            " element_at(toks, CAST(i + 1 AS INT))))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    big_sum = F.aggregate(
        F.transform(bigrams, _ft_weight),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    score = (uni_sum + big_sum).alias("score")
    return d.select(
        "doc_id",
        (F.size("toks") + F.greatest(F.size("toks") - 1, F.lit(0)))
        .cast("long")
        .alias("n_feats"),
        score,
        (F.col("score") > 0).cast("int").alias("label"),
    ).select("doc_id", "n_feats", "score", "label")


PARA_W = 40  # synthesized paragraph width (chars)


def paragraph_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's within-document duplicate-PARAGRAPH metrics (Rae et al.
    2021 Table A1): fraction of paragraphs that are duplicates of
    another paragraph in the SAME document, and fraction of characters
    inside such paragraphs — the repetition signals
    :func:`repetition_quality` (token-level) doesn't see.

    The corpus is single-block prose, so a paragraph structure is
    synthesized deterministically: fixed 40-char windows, with the
    first window re-appended for doc_id buckets ≡0 (mod 3) and the
    first two re-appended for ≡1 — planted duplicates both engines
    rebuild exactly, so every branch of the metric fires.

    Scale shape: paragraph hashing/counting keys on (doc_id, para) and
    the rollup on doc_id — the extraction pipeline's own partitioning;
    both aggs map-side combine, nothing global.  Output fractions in
    exact basis points."""
    docs = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull() & (F.length("text") >= 1))
        .select("doc_id", "text")
    )
    n_win = (F.floor((F.length("text") - 1) / PARA_W) + 1).cast("int")
    base = F.expr(
        f"transform(sequence(0, CAST(floor((length(text) - 1) / {PARA_W}) AS INT)),"
        f" i -> substr(text, CAST(i * {PARA_W} + 1 AS INT), {PARA_W}))"
    )
    bucket = md5_bucket("pdup:", "doc_id", mod=3)
    paras = (
        F.when(bucket == 0, F.concat(base, F.slice(base, 1, 1)))
        .when((bucket == 1) & (n_win >= 2), F.concat(base, F.slice(base, 1, 2)))
        .otherwise(base)
    )
    per_para = (
        docs.select("doc_id", F.explode(paras).alias("para"))
        .groupBy("doc_id", "para")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_para.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_paras"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_dup_paras"),
            F.sum(F.col("cnt") * F.length("para")).cast("long").alias("chars"),
            F.sum(
                F.when(
                    F.col("cnt") > 1, F.col("cnt") * F.length("para")
                ).otherwise(0)
            )
            .cast("long")
            .alias("dup_chars"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dup_paras",
            F.expr("CAST(n_dup_paras * 10000 DIV n_paras AS BIGINT)").alias(
                "dup_para_bp"
            ),
            F.expr("CAST(dup_chars * 10000 DIV chars AS BIGINT)").alias(
                "dup_char_bp"
            ),
        )
    )


CMS_D = 4  # count–min sketch depth (hash rows)
CMS_W = 128  # count–min sketch width (buckets per row; sized so the
# synthetic corpus vocabulary actually collides and the upward bias shows)


CMS_K = 20  # heavy hitters returned



def cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    the mergeable frequency sketch every streaming/telemetry pipeline
    uses where exact per-key counts don't fit.  The sketch is BUILT
    distributed — d×w = 4×128 bounded cells regardless of corpus size —
    and every distinct token is then estimated as min_j cms[j][h_j(tok)]
    (upward-biased by construction; the output carries the exact count
    alongside so the overestimate is visible and the oracle can check
    the sketch content itself, since CMS is deterministic given its
    hash family — here the engine's shared md5 primitive).

    Scale shape: one map-side-combined token agg (vocab-sized), one
    constant-size sketch agg, estimates via a BROADCAST of the ≤512-row
    sketch back onto the vocab relation, top-k by TakeOrderedAndProject.
    Output: ``(tok, est, exact_n, overcount)`` — all-integer."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    tc = (
        docs.select(F.explode(_tok_arr()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    jb = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"),
                md5_bucket(f"cms{j}:", F.col("tok"), mod=CMS_W).alias("bucket"),
            )
            for j in range(CMS_D)
        ]
    )
    tcb = tc.select("tok", "n", F.explode(jb).alias("jb")).select(
        "tok", "n", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )
    cms = tcb.groupBy("j", "bucket").agg(F.sum("n").cast("long").alias("cell"))
    return (
        tcb.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("tok")
        .agg(
            F.min("cell").cast("long").alias("est"),
            F.min("n").cast("long").alias("exact_n"),
        )
        .select(
            "tok",
            "est",
            "exact_n",
            (F.col("est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("est"), F.asc("tok"))
        .limit(CMS_K)
    )


KN_K = 30  # words returned



def kn_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney continuation counts — the lower-order distribution of
    the best-performing classical n-gram smoother (Kneser & Ney 1995;
    Chen & Goodman 1999): a word's unigram weight is the number of
    DISTINCT left contexts it completes (``N1+(•w)``), not its raw
    frequency ("francisco" is frequent but only follows "san", so it
    gets almost no continuation mass).  Training these count tables
    over a web corpus is a classic large-scale MapReduce job (Brants
    et al. 2007); this is its Spark shape.

    Scale shape: the distinct-(prev, w) relation is built by ONE
    map-side-combined agg (never a count-distinct Expand); per-word
    continuation/total counts are a second agg over that already-
    distinct relation, and the global N1+(••) normalizer is a 1-row
    broadcast.  Top-k via TakeOrderedAndProject.  Output ppm values by
    integer floor-division — engine-exact."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    d = docs.select(_tok_arr().alias("toks")).where(F.size("toks") >= 2)
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, CAST(i AS INT)) AS prev,"
                " element_at(toks, CAST(i + 1 AS INT)) AS w))"
            )
        ).alias("bg")
    ).select("bg.prev", "bg.w")
    pc = pairs.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c"))
    per_w = pc.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("cont_types"),
        F.sum("c").cast("long").alias("total_count"),
    )
    n_types = pc.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    return (
        per_w.crossJoin(F.broadcast(n_types))
        .select(
            "w",
            "cont_types",
            "total_count",
            F.expr("CAST(cont_types * 1000000 DIV n_types AS BIGINT)").alias(
                "p_cont_ppm"
            ),
        )
        .orderBy(F.desc("cont_types"), F.asc("w"))
        .limit(KN_K)
    )


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020): within each
    language, rank documents by LM score and split into head / middle /
    tail thirds — the published recipe for grading Common Crawl by a
    KenLM trained on Wikipedia (head ≈ clean, tail ≈ junk), and the
    knob curated corpora (CCNet, RedPajama, CCMatrix) actually ship.
    The LM here is the corpus-trained add-one bigram model of
    :func:`bigram_lm_score` (its oracle-exact mean-NLL output), making
    this the composed quality-pipeline entry: score → per-language
    exact-rank thirds.

    Ranking is (lm_score, doc_id) — the score is already rounded to 3
    decimals per document, so ordering and the integer cut-points
    ``rn·3 ≤ n`` / ``rn·3 ≤ 2n`` are engine-exact.  Scale shape: the
    scoring plan is unchanged (see bigram_lm_score); bucketing adds one
    language-partitioned window over the per-DOC score relation (rows =
    docs, never tokens) — ``ntile``'s global sort never happens."""
    from pyspark.sql.window import Window

    scores = bigram_lm_score(spark, sf_dir)
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("lm_score", "doc_id")
    wc = Window.partitionBy("lang")
    ranked = scores.join(langs, "doc_id").select(
        "doc_id",
        "lang",
        "lm_score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return ranked.select(
        "doc_id",
        "lang",
        "lm_score",
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring (Flesch 1948; Kincaid et al. 1975) —
    the classical readability quality signal (simple-wiki filtering,
    kids-content selection, curriculum ordering all gate on it):
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)``.

    Syllables are the standard vowel-group approximation
    (``[aeiouy]+`` runs, vowel-less words count 1); the corpus carries
    no sentence punctuation, so a sentenced view is synthesized
    deterministically (a period every 7th token) and sentence counting
    then runs the REAL detection path (regexp over the text) on it.

    Exactness: the score is reported in milli-units with each ratio
    term floor-divided as integers (``(1015·W) DIV S``,
    ``(84600·Y) DIV W``) — no float division crosses engines.  Scale
    shape: map-only codegen'd projection, zero shuffle, zero Python."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    d = docs.select("doc_id", "text", _tok_arr().alias("toks")).where(
        F.size("toks") >= 1
    )
    sent_text = F.array_join(
        F.transform(
            F.col("toks"),
            lambda t, i: F.concat(
                t, F.when((i + 1) % 7 == 0, ".").otherwise("")
            ),
        ),
        " ",
    )
    n_words = F.size("toks").cast("long")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(sent_text, F.lit(r"\."), 0)).cast("long"),
        F.lit(1).cast("long"),
    )
    vowel_groups = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    no_vowel_words = F.size(
        F.filter(F.col("toks"), lambda t: ~t.rlike("[aeiouy]"))
    ).cast("long")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        (vowel_groups + no_vowel_words).alias("n_syllables"),
    ).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(206835)
            - F.expr("(1015 * n_words) DIV n_sentences")
            - F.expr("(84600 * n_syllables) DIV n_words")
        )
        .cast("long")
        .alias("flesch_milli"),
    )


def _c4_lines():
    """The synthesized 6-line page as an unresolved array column over
    (doc_id, text) — shared by :func:`c4_page_filter` and the fused
    :func:`curation_report` scan."""
    did = F.col("doc_id")
    return F.array(
        F.concat(F.substring("text", 1, 60), F.lit(".")),
        F.lit("Click here to subscribe"),
        F.when(did % 7 == 0, F.lit("function() { return 0; }")).otherwise(
            F.lit("plain footer line without punctuation at all")
        ),
        F.when(
            did % 5 == 1,
            F.lit("enable the javascript snippet to view this content today."),
        ).otherwise(F.concat(F.substring("text", 61, 60), F.lit("."))),
        F.when(did % 11 == 3, F.lit("lorem ipsum dolor sit amet.")).otherwise(
            F.concat(F.substring("text", 121, 60), F.lit("!"))
        ),
        F.when(did % 3 == 0, F.lit("Too short.")).otherwise(
            F.concat(F.substring("text", 181, 60), F.lit("?"))
        ),
    )


def _c4_line_kept(ln):
    return (
        F.substring(ln, -1, 1).isin(".", "!", "?", '"')
        & (F.size(F.split(ln, " ")) >= 5)
        & ~F.contains(F.lower(ln), F.lit("javascript"))
    )


def _c4_reason(page, kept):
    return (
        F.when(F.contains(page, F.lit("{")), "curly_brace")
        .when(F.contains(F.lower(page), F.lit("lorem ipsum")), "lorem_ipsum")
        .when(F.size(kept) < 3, "too_few_lines")
        .otherwise("kept")
    )


def c4_page_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic page cleaning (Raffel et al. 2020 §2.2) — the classic
    line/page filter every web-scale pretraining corpus starts from.

    Line rules: keep a line only if it ends in terminal punctuation
    (``. ! ? "``), has >= 5 space-separated words, and does not mention
    "javascript".  Page rules: drop the whole page on any curly brace or
    on the phrase "lorem ipsum"; otherwise drop it when fewer than 3
    lines survive.  The prose corpus has no line structure, so a 6-line
    page is synthesized deterministically from each doc (real text
    chunks + planted junk lines exercising every rule on a known subset
    — the ``pii_redact`` planted-payload pattern); the filter itself is
    the generic production shape: array HOFs (``filter``/``aggregate``)
    over a split page, one map-only codegen stage, zero shuffle — at
    100 TB this runs at scan speed with no exchange.  The DuckDB oracle
    rebuilds page, rules, and kept-text md5 bit for bit.

    Reference parity: the reference's filter stage is a path/extension
    gate (``app/core/file_filter.py:12-44``); this is its content-level
    analogue for the extraction tier.
    """
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    d = docs.select(
        "doc_id",
        F.array_join(_c4_lines(), "\n").alias("page"),
        F.filter(_c4_lines(), _c4_line_kept).alias("kept"),
    )
    n_kept = F.size("kept")
    reason = _c4_reason(F.col("page"), F.col("kept"))
    return d.select(
        "doc_id",
        n_kept.cast("long").alias("n_kept_lines"),
        F.aggregate(
            "kept",
            F.lit(0).cast("long"),
            lambda acc, ln: acc + F.size(F.split(ln, " ")).cast("long"),
        ).alias("kept_words"),
        reason.alias("drop_reason"),
        F.when(reason == "kept", F.md5(F.array_join("kept", "\n"))).alias(
            "kept_md5"
        ),
    )


# Mojibake model: UTF-8 bytes re-read as Latin-1.  The escaped
# literals below ARE that damage (e.g. \u00e2\u0080\u0099 is the
# three-byte UTF-8 encoding of '\u2019' seen as Latin-1 chars).
_MOJIBAKE_SUFFIX_A = " caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9 na\u00c3\u00afve co\u00c3\u00b6rdinate"
_MOJIBAKE_SUFFIX_B = " don\u00e2\u0080\u0099t use \u00e2\u0080\u009csmart\u00e2\u0080\u009d quotes \u00c2\u00a75"
_MOJIBAKE_REPAIRS = (
    ("\u00e2\u0080\u0099", "\u2019"),
    ("\u00e2\u0080\u009c", "\u201c"),
    ("\u00e2\u0080\u009d", "\u201d"),
    ("\u00c3\u00a9", "\u00e9"),
    ("\u00c3\u00af", "\u00ef"),
    ("\u00c3\u00b6", "\u00f6"),
    ("\u00c2\u00a7", "\u00a7"),
)
_MOJIBAKE_MARKERS = ("\u00c3", "\u00e2\u0080", "\u00c2")

def _mojibake_payload():
    """The planted-damage payload as an unresolved column over
    (doc_id, text) — shared by :func:`mojibake_stats` and the fused
    :func:`curation_report` scan."""
    did = F.col("doc_id")
    return F.concat(
        F.substring("text", 1, 40),
        F.when(did % 4 == 2, F.lit(_MOJIBAKE_SUFFIX_A))
        .when(did % 4 == 3, F.lit(_MOJIBAKE_SUFFIX_B))
        .otherwise(F.lit("")),
    )


def _mojibake_n(payload):
    def _occ(marker):
        return (
            F.length(payload) - F.length(F.replace(payload, F.lit(marker)))
        ) / len(marker)

    return sum(_occ(m) for m in _MOJIBAKE_MARKERS).cast("long")


def mojibake_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit + repair for a web-crawl corpus: detect
    UTF-8-decoded-as-Latin-1 mojibake ("cafÃ©", "donâ€™t") by its three
    classic marker characters and repair the known sequences back.

    A mojibake suffix is planted deterministically on two doc_id
    residue classes (the corpus itself is clean ASCII); detection
    counts literal marker occurrences via the length-difference trick
    (no regex, pure codegen) and repair is a fixed longest-first
    ``replace`` chain — one map-only stage, no shuffle, scan-speed at
    100 TB.  The DuckDB oracle replays markers, counts, and the
    repaired-text md5 exactly.
    """
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    payload = _mojibake_payload()
    repaired = payload
    for bad, good in _MOJIBAKE_REPAIRS:
        repaired = F.replace(repaired, F.lit(bad), F.lit(good))
    n_mojibake = _mojibake_n(payload)
    return docs.select(
        "doc_id",
        n_mojibake.alias("n_mojibake"),
        (n_mojibake > 0).alias("is_mojibake"),
        F.md5(repaired).alias("repaired_md5"),
    )


def classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer ROC AUC of the hashed quality classifier against a
    deterministic ground-truth label — the calibration step every
    classifier-gated corpus (FineWeb-Edu, DCLM) runs before trusting a
    score threshold.  AUC is computed as the Mann-Whitney pair count,
    entirely in BIGINT: ``auc = (2*pairs_won + ties) / (2*n_pos*n_neg)``
    reported in micro-units via floor division.

    Scale topology (100 TB): ranks are NEVER assigned to raw rows (a
    global row sort).  Scores aggregate to one (p, q) row per DISTINCT
    score (one map-side-combined shuffle); the cumulative-negatives
    window then runs over the distinct-score relation only — bounded by
    score cardinality, the same histogram-window shape as
    ``length_curriculum``.  Ground truth is an md5 bit of doc_id
    (hex digit 2, decorrelated from every other planted md5 use).
    """
    s = hashed_classifier_score(spark, sf_dir).select("doc_id", "score")
    y = F.expr(
        "substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 2, 1) < '8'"
    )
    per = (
        s.select("score", y.alias("y"))
        .groupBy("score")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("p"),
            F.sum(F.when(~F.col("y"), 1).otherwise(0)).cast("long").alias("q"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = per.withColumn(
        "cumq", F.coalesce(F.sum("q").over(w), F.lit(0)).cast("long")
    )
    return c.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("q").cast("long").alias("n_neg"),
        F.sum(F.col("p") * F.col("cumq")).cast("long").alias("pairs_won"),
        F.sum(F.col("p") * F.col("q")).cast("long").alias("ties"),
    ).select(
        "n_pos",
        "n_neg",
        "pairs_won",
        "ties",
        F.expr(
            "(2 * pairs_won + ties) * 1000000 DIV (2 * n_pos * n_neg)"
        )
        .cast("long")
        .alias("auc_micro"),
    )


def curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel: how many documents pass the C4 page
    filter, the heuristic quality gate, and the encoding audit — and
    how many pass ALL three — the acceptance dashboard a corpus team
    reads before a training run.

    Scale topology (100 TB): this is the reason the three filters
    expose column helpers — all three verdicts are computed in ONE
    fused scan (zero joins, no re-read), followed by a single
    map-side-combined agg keyed by ≤ |sources| groups.  Composing the
    per-op DataFrames with joins would re-read the table 4× and
    shuffle 3×; composing the EXPRESSIONS is free.
    """
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    reason = _c4_reason(
        F.array_join(_c4_lines(), "\n"), F.filter(_c4_lines(), _c4_line_kept)
    )
    p_c4 = (reason == "kept").alias("p_c4")
    p_q = _quality_pass().alias("p_q")
    p_enc = (_mojibake_n(_mojibake_payload()) == 0).alias("p_enc")
    flags = docs.select("source", p_c4, p_q, p_enc)
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("p_c4").cast("long")).cast("long").alias("n_pass_c4"),
            F.sum(F.col("p_q").cast("long")).cast("long").alias(
                "n_pass_quality"
            ),
            F.sum(F.col("p_enc").cast("long")).cast("long").alias(
                "n_clean_encoding"
            ),
            F.sum(
                (F.col("p_c4") & F.col("p_q") & F.col("p_enc")).cast("long")
            )
            .cast("long")
            .alias("n_pass_all"),
        )
    )


def calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer calibration (reliability-diagram) audit of the
    hashed quality classifier — the companion to :func:`classifier_auc`:
    AUC says the ranking is right, calibration says the SCORES can be
    trusted as probabilities before a corpus gate thresholds on them.

    Confidence is the mid-rank fraction of each distinct score in
    micro-units (``(2*cum_below + n_at) * 500000 DIV N`` — rank-based
    calibration, exactly integer), bucketed into 10 equal-width bins;
    per bin the audit reports observed accuracy vs mean confidence and
    their absolute gap (the per-bin ECE term), all in BIGINT
    micro-units so the oracle matches bit-for-bit.

    Scale topology (100 TB): identical to ``classifier_auc`` — scores
    collapse to one row per DISTINCT score first (one map-side-combined
    shuffle), and every window (cumulative count, grand total) runs over
    that bounded histogram relation, never over raw rows; the final
    10-row bin aggregate is a second tiny shuffle.

    Output: ``(bin, n, acc_micro, conf_micro, gap_micro)``."""
    s = hashed_classifier_score(spark, sf_dir).select("doc_id", "score")
    y = F.expr(
        "substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 2, 1) < '8'"
    )
    per = (
        s.select("score", y.alias("y"))
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("p"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = (
        per.withColumn(
            "cumb", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
        )
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
        .withColumn("phat", F.expr("(2 * cumb + n) * 500000 DIV tot"))
        .withColumn(
            "bin",
            F.least(F.expr("phat DIV 100000"), F.lit(9)).cast("long"),
        )
    )
    b = c.groupBy("bin").agg(
        F.sum("n").cast("long").alias("nb"),
        F.sum("p").cast("long").alias("pb"),
        F.sum(F.expr("n * phat")).cast("long").alias("confsum"),
    )
    return b.select(
        "bin",
        F.col("nb").alias("n"),
        F.expr("pb * 1000000 DIV nb").cast("long").alias("acc_micro"),
        F.expr("confsum DIV nb").cast("long").alias("conf_micro"),
        F.abs(
            F.expr("pb * 1000000 DIV nb") - F.expr("confsum DIV nb")
        )
        .cast("long")
        .alias("gap_micro"),
    )


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-agreement confusion matrix between the engine's two
    language classifiers (word-marker vs character-bigram) — the
    disagreement-mining audit run before trusting either as a corpus
    gate: cells off the diagonal are exactly the documents to sample
    for relabeling, and a diagonal-heavy matrix licenses the cheaper
    model.  Each cell carries its count and the smallest doc_id as a
    deterministic audit sample.

    Scale shape: both classifiers are independent model sweeps whose
    prediction tables would be persisted anyway; the matrix is ONE
    equi-join of the two prediction tables on doc_id (co-partitioned,
    AQE-planned) followed by a |langs|²-key aggregate.  Nothing here
    is quadratic in the corpus.

    Output: ``(marker_lang, chargram_lang, n_docs, sample_doc)``."""
    a = lang_id(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("marker_lang")
    )
    b = lang_id_chargram(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("chargram_lang")
    )
    return (
        a.join(b, "doc_id")
        .groupBy("marker_lang", "chargram_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("sample_doc"),
        )
    )


OOV_VOCAB_K = 50


def oov_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit — the tokenizer-eval step between
    vocabulary training and committing to it: against the corpus's own
    top-``k`` token vocabulary, what fraction of each source's token
    OCCURRENCES falls out of vocabulary?  High-OOV sources either need
    vocab budget or signal noise (mojibake, code, another language) —
    the per-source number is what decides.

    Scale shape: the vocabulary is k rows → BROADCAST onto the exploded
    token stream (map-side left join, no token shuffle); the rollup is
    one per-source aggregate.  ppm in BIGINT floor division, oracle-
    exact.

    Output: ``(source, n_tokens, n_oov, oov_ppm)``."""
    vocab = vocab_topk(spark, sf_dir, OOV_VOCAB_K).select(
        "tok", F.lit(1).alias("_in")
    )
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = docs.select("source", F.explode(_tok_arr()).alias("tok"))
    j = toks.join(F.broadcast(vocab), "tok", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (F.count(F.lit(1)) - F.count("_in")).cast("long").alias("n_oov"),
    ).select(
        "source",
        "n_tokens",
        "n_oov",
        F.expr("n_oov * 1000000 DIV n_tokens").cast("long").alias("oov_ppm"),
    )


CHI2_POS_LANG = "en"  # the positive class
CHI2_K = 25  # terms returned
CHI2_MIN_DF = 5  # document-frequency floor



def term_chi2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection of vocabulary terms against a binary
    document label (here ``lang == CHI2_POS_LANG``) — the term-selection step
    of a fastText-style quality/domain classifier (pick the terms whose
    presence is most dependent on the label, then hash only those).

    Document-frequency contingency per term: a = labeled docs containing
    the term, b = unlabeled docs containing it, with the 2×2 completed
    from the corpus totals.  All-integer scoring in micro-units::

        chi2_micro = N * (a*Neg - b*P)^2 * 10^6  DIV  df*(N-df)*P*Neg

    (the standard N(ad-bc)²/((a+b)(c+d)(a+c)(b+d)) with the margins
    substituted) — engine-exact, no float sums.  |a*Neg - b*P| ≤ N²/4,
    so the worst-case numerator is N⁵/16·10⁶: past ~6e3 docs that
    exceeds int64 (found live at sf0.1 — ~5e4 docs — by the sf0.1
    oracle sweep), so both products run in 128-bit integer space —
    DECIMAL(38,0) here, HUGEINT in the DuckDB oracle — and only the
    final quotient (≤ N·10⁶) returns to BIGINT.  The 128-bit bound
    N⁵/16·10⁶ ≤ 10³⁸ holds to N ≈ 4.4e6 docs (DECIMAL(38,0) is the
    binding constraint; HUGEINT's ~1.7e38 gives ~4.9e6), and past it
    the engines FAIL DIFFERENTLY (Spark non-ANSI decimal overflow →
    NULL rows silently dropped from the top-k; DuckDB HUGEINT → raise),
    so the op fails fast at the bound instead of diverging: drop the
    score to basis points (10⁴ → N ≈ 1.1e7) or normalize per-shard
    first (documented tradeoff, not reachable at any bench SF).

    Plan shape: one corpus scan → per-doc distinct terms exploded (the
    label rides along as a 0/1 column, no join) → ONE map-side-combined
    (term) aggregate carrying both counts → scalar totals via a 1-row
    aggregate (bounded driver read, same contract as the centroid /
    bucket-list collects) → map-only scoring → TakeOrderedAndProject
    top-k.  The ``CHI2_MIN_DF`` gate prunes the hapax tail before scoring.

    Output: ``(tok, df, pos_df, chi2_micro)`` top-k by score."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    totals = docs.agg(
        F.count("*").alias("n"),
        F.sum((F.col("lang") == CHI2_POS_LANG).cast("long")).alias("p"),
    ).first()
    n_docs, n_pos = int(totals["n"]), int(totals["p"])
    n_neg = n_docs - n_pos
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            f"term_chi2_topk needs both classes present: lang={CHI2_POS_LANG!r} "
            f"labels {n_pos} of {n_docs} docs"
        )
    # 128-bit safety bound (see docstring): worst-case numerator
    # N^5/16*10^6 must fit DECIMAL(38,0) / HUGEINT.  Past it Spark
    # silently NULLs overflowed rows while DuckDB raises — fail fast
    # identically on both engines instead.
    if n_docs > 4_400_000:
        raise ValueError(
            f"term_chi2_topk: {n_docs} docs exceeds the 128-bit exact-"
            "integer bound (~4.4e6); score in basis points or normalize "
            "per shard (see docstring)"
        )
    per_term = (
        docs.select(
            (F.col("lang") == CHI2_POS_LANG).cast("long").alias("pos"),
            F.explode(F.array_distinct(_tok_arr())).alias("tok"),
        )
        .groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("pos").cast("long").alias("pos_df"),
        )
        .where(F.col("df") >= CHI2_MIN_DF)
    )
    num = F.col("pos_df") * F.lit(n_neg) - (
        F.col("df") - F.col("pos_df")
    ) * F.lit(n_pos)
    return (
        per_term.withColumn("num", num.cast("decimal(38,0)"))
        .withColumn(
            "den",
            F.col("df").cast("decimal(38,0)")
            * (F.lit(n_docs) - F.col("df"))
            * F.lit(n_pos)
            * F.lit(n_neg),
        )
        .select(
            "tok",
            "df",
            "pos_df",
            # 128-bit integral arithmetic: DECIMAL(38,0) products, exact
            # integral quotient via DIV, final value <= N*10^6 -> BIGINT
            F.expr(
                f"CAST({n_docs} AS DECIMAL(38,0)) * num * num * 1000000"
                " DIV den"
            )
            .cast("long")
            .alias("chi2_micro"),
        )
        .orderBy(F.desc("chi2_micro"), F.asc("tok"))
        .limit(CHI2_K)
    )


def wilson_source_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank corpus sources by quality pass-rate with the Wilson lower
    confidence bound (z = 2) instead of the raw proportion — the
    standard fix for "3/3 passed" beating "970/1000 passed" when
    deciding which crawl sources to trust / up-sample.

    Engine-exactness follows the ``lang_temperature_weights`` recipe:
    with z = 2 the bound is ``(s + 2 − 2·√(s·(n−s)/n + 1)) / (n + 4)``
    — one IEEE division, one correctly-rounded sqrt, and a final
    micro-unit round, every step bit-identical across engines (no
    libm pow anywhere).  Counts are exact bigints.

    Scale shape: ONE map-side-combined aggregate to source cardinality
    (the ``passes_quality`` verdict rides the scan as a codegen'd
    column); everything after operates on ≤ |sources| rows.

    Output: ``(source, n_docs, n_pass, pass_ppm, wilson_lb_micro)``."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    agg = docs.select(
        "source", _quality_pass().cast("long").alias("p")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("p").cast("long").alias("n_pass"),
    )
    lb = (
        (F.col("n_pass") + 2)
        - 2 * F.sqrt(
            F.col("n_pass") * (F.col("n_docs") - F.col("n_pass"))
            / F.col("n_docs")
            + 1
        )
    ) / (F.col("n_docs") + 4)
    return agg.select(
        "source",
        "n_docs",
        "n_pass",
        F.expr("n_pass * 1000000 DIV n_docs").cast("long").alias("pass_ppm"),
        F.round(lb * F.lit(1_000_000)).cast("long").alias("wilson_lb_micro"),
    )


TAU_GROUP_CAP = 30  # docs per source entering the pairwise stage


def signal_agreement_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall-τ agreement between two quality signals (char length vs
    whitespace token count) per source — the ranking-eval primitive
    used to decide whether a cheap signal can replace an expensive one
    (or whether a reward model agrees with human ranks).  Exact
    integers end to end: concordant/discordant/tie pair counts and
    τ-b's squared numerator/denominator comparison avoided entirely by
    reporting ``tau_bp`` from the simple τ-a over untied-pair counts
    plus the raw pair tallies (auditable downstream).

    Pairwise τ is inherently O(m²) per group, so the group is CAPPED
    first: the ``TAU_GROUP_CAP`` lowest doc_ids per source enter the
    pair join (WindowGroupLimit — no global sort), bounding the blow-up
    to cap²/2 per source at ANY corpus size — the same m² guard as the
    LSH hot-bucket cap.  The pair join is source-keyed (never a
    cartesian across sources).

    Output: ``(source, n_docs, n_pairs, n_concordant, n_discordant,
    n_tied, tau_bp)`` — τ·10⁴ by exact integer floor division."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    sig = docs.select(
        "source",
        "doc_id",
        F.length("text").cast("long").alias("x"),
        F.size(
            F.filter(
                F.split(F.trim("text"), r"[ \t\r\n\f\v]+"),
                lambda t: t != "",
            )
        ).cast("long").alias("y"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    capped = (
        sig.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TAU_GROUP_CAP)
        .drop("rn")
    )
    a = capped.select(
        "source",
        F.col("doc_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = capped.select(
        "source",
        F.col("doc_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(b, "source").where(F.col("id_a") < F.col("id_b"))
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    tallies = pairs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((sgn > 0).cast("long")).cast("long").alias("n_concordant"),
        F.sum((sgn < 0).cast("long")).cast("long").alias("n_discordant"),
        F.sum((sgn == 0).cast("long")).cast("long").alias("n_tied"),
    )
    n_docs = capped.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return n_docs.join(tallies, "source").select(
        "source",
        "n_docs",
        "n_pairs",
        "n_concordant",
        "n_discordant",
        "n_tied",
        F.expr(
            "(n_concordant - n_discordant) * 10000 DIV n_pairs"
        ).cast("long").alias("tau_bp"),
    )


def classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the two language classifiers — the chance-
    corrected agreement statistic behind "do two annotators/models
    agree beyond luck": raw agreement p_o overstates reliability when
    the label marginals are skewed (both models predicting 'en' for
    everything agree constantly and mean nothing).  The eval every
    LLM-judge / weak-supervision pipeline runs before trusting a
    cheap labeler.

    Exact integers end to end: with N docs, diagonal D, and marginal
    products P = Σ_ℓ row_ℓ·col_ℓ, κ = (p_o − p_e)/(1 − p_e)
    = (D·N − P) / (N² − P) — two bigint products and one ppm floor
    division; p_o and p_e are reported in exact ppm alongside.

    Scale shape: composes the same two prediction sweeps as
    ``lang_confusion`` (one doc_id equi-join), then everything runs on
    the |langs|²-row matrix — constant-size beyond the join.

    Output: one row ``(n_docs, n_agree, po_ppm, pe_ppm, kappa_ppm)``."""
    a = lang_id(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("la")
    )
    b = lang_id_chargram(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("lb")
    )
    cells = (
        a.join(b, "doc_id")
        .groupBy("la", "lb")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = cells.groupBy("la").agg(F.sum("n").alias("row_n"))
    cols = cells.groupBy("lb").agg(F.sum("n").alias("col_n"))
    marg = rows.join(cols, rows["la"] == cols["lb"], "full").select(
        F.coalesce("row_n", F.lit(0)).alias("row_n"),
        F.coalesce("col_n", F.lit(0)).alias("col_n"),
    )
    totals = cells.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    pe_num = marg.agg(
        F.sum(F.col("row_n") * F.col("col_n")).cast("long").alias("pe_num")
    )
    return totals.crossJoin(F.broadcast(pe_num)).select(
        "n_docs",
        "n_agree",
        F.expr("n_agree * 1000000 DIV n_docs").cast("long").alias("po_ppm"),
        F.expr("pe_num * 1000000 DIV (n_docs * n_docs)").cast("long").alias(
            "pe_ppm"
        ),
        # kappa is 0/0-undefined when chance agreement is total
        # (pe_num == n_docs²); pin it to 0 on BOTH engines — Spark DIV
        # would return NULL here while DuckDB // raises div-by-zero
        F.expr(
            "CASE WHEN n_docs * n_docs = pe_num THEN 0"
            " ELSE (n_agree * n_docs - pe_num) * 1000000"
            " DIV (n_docs * n_docs - pe_num) END"
        ).cast("long").alias("kappa_ppm"),
    )


UNCERTAIN_K = 20  # most-uncertain docs returned


def uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based uncertainty sampling — the active-learning loop's
    acquisition step: the documents the classifier is LEAST sure about
    (smallest gap between its best and second-best class scores) are
    the ones worth human labels.  Runs over the word-marker language
    classifier's per-class scores; for three classes the runner-up is
    ``greatest(least(a,b), least(a,c), least(b,c))`` — a pure codegen
    expression, no sort over classes.

    Exact integers throughout (marker hit counts), so the selection is
    engine-reproducible — the property a sampled-for-labeling batch
    needs for audit.

    Scale shape: the scores ride the classifier's one scan; selection
    is TakeOrderedAndProject on (margin asc, doc_id) — never a global
    sort.

    Output: top-*k* ``(doc_id, best, second, margin)``."""
    s = lang_id(spark, sf_dir)
    best = F.greatest("score_en", "score_de", "score_fr")
    second = F.greatest(
        F.least("score_en", "score_de"),
        F.least("score_en", "score_fr"),
        F.least("score_de", "score_fr"),
    )
    return (
        s.select(
            "doc_id",
            best.cast("long").alias("best"),
            second.cast("long").alias("second"),
            (best - second).cast("long").alias("margin"),
        )
        .orderBy("margin", "doc_id")
        .limit(UNCERTAIN_K)
    )
