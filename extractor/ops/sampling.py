"""Deterministic sampling / corpus-mixing / training-order operators over the
``documents`` table — the selection stage of a training-data pipeline (what
runs between curation and packing).

Every op keys its randomness on ``md5(salt || doc_id)`` rather than
``rand()``: a document's fate is a pure function of its id, so samples are
stable under re-partitioning, re-runs, retries, and corpus growth (adding
documents never flips the decision for existing ones).  md5 is also the one
hash both engines share, so each op has a bit-exact DuckDB oracle.

Scale posture (100 TB): the per-doc decisions are map-only (hash + integer
compare, codegen'd, no shuffle); ``corpus_mix_sample`` adds one tiny
per-stratum aggregate that is broadcast back onto the unshuffled corpus;
``training_order`` shuffles once on the shard key — parallelism = ORDER_SHARDS,
so pick ORDER_SHARDS ≈ a few × executor count at scale (16 here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from extractor.ops import md5_bucket

# Per-language sampling rates in basis points (integer — no float compare).
STRATA_RATES_BP = {"en": 10000, "de": 5000, "fr": 5000, "es": 2500, "zh": 2500}
DEFAULT_RATE_BP = 1000

# corpus_mix_sample targets: desired share of total whitespace tokens per
# language, as exact integer ratios (num/denom) — keeps the acceptance-rate
# arithmetic in BIGINT end to end.
MIX_TARGETS = {"en": (2, 5), "de": (1, 5), "fr": (1, 5), "es": (1, 10), "zh": (1, 10)}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum (language) keyed sampling at fixed rates: keep a document
    iff its hash bucket falls under the stratum's basis-point rate.  The
    standard "downsample web, keep all wiki" corpus knob.  Map-only: the
    rate lookup is a literal CASE chain, the decision an integer compare —
    no shuffle, no join, survives any scale."""
    docs = _docs(spark, sf_dir)
    rate = F.lit(DEFAULT_RATE_BP)
    for lang, bp in STRATA_RATES_BP.items():
        rate = F.when(F.col("lang") == lang, bp).otherwise(rate)
    bucket = md5_bucket("strat:", "doc_id", mod=10000)
    return docs.select(
        "doc_id",
        "lang",
        "source",
        bucket.alias("sample_bucket"),
        rate.cast("long").alias("rate_bp"),
    ).where(bucket < rate)


def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: resample each language stratum so its share of total
    whitespace tokens approaches a target distribution (MIX_TARGETS), the
    way pre-training mixes weight web/code/wiki sources.

    acceptance ppm for stratum s = min(1e6, (1e6 · num_s · total_tokens)
    DIV (denom_s · tokens_s)) — all-BIGINT arithmetic (exact, engine-
    independent), then keep doc iff hash_ppm < rate_ppm.

    Plan: per-lang token totals are a map-side-combined aggregate producing
    ≤ |langs| rows; the grand total joins in via a cross join of a 1-row
    aggregate; both tiny sides broadcast back onto the corpus scan, which
    never shuffles.  At 100 TB this is one pass + two broadcasts."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    n_toks = F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""))
    with_tok = docs.select("doc_id", "lang", n_toks.cast("long").alias("n_toks"))
    per_lang = with_tok.groupBy("lang").agg(F.sum("n_toks").alias("lang_toks"))
    total = with_tok.agg(F.sum("n_toks").alias("total_toks"))

    num = F.lit(0)
    denom = F.lit(1)
    for lang, (n, d) in MIX_TARGETS.items():
        num = F.when(F.col("lang") == lang, n).otherwise(num)
        denom = F.when(F.col("lang") == lang, d).otherwise(denom)
    rates = (
        per_lang.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "lang_toks",
            "total_toks",
            num.cast("long").alias("num"),
            denom.cast("long").alias("denom"),
        )
        .select(
            "lang",
            "lang_toks",
            F.least(
                F.lit(1000000).cast("long"),
                F.expr("CAST(1000000 AS BIGINT) * num * total_toks DIV (denom * lang_toks)"),
            ).alias("rate_ppm"),
        )
    )
    bucket = md5_bucket("mix:", "doc_id", mod=1000000)
    return (
        with_tok.withColumn("mix_bucket", bucket)
        .join(F.broadcast(rates), "lang")
        .where(F.col("mix_bucket") < F.col("rate_ppm"))
        .select("doc_id", "lang", "n_toks", "mix_bucket", "rate_ppm")
    )


ORDER_SHARDS = 16  # shard streams of a training order



def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    shard and a position inside it, both pure functions of doc_id.  Readers
    stream shard 0..n-1 in position order and see a fixed pseudo-random
    permutation of the corpus — reproducible across runs and engines.

    One shuffle (on shard), per-shard sort inside the window; no global
    sort, no driver collect.  ORDER_SHARDS bounds parallelism — use a few ×
    executor count at real scale."""
    docs = _docs(spark, sf_dir)
    okey = F.md5(F.concat(F.lit("order:"), F.col("doc_id").cast("string")))
    shard = md5_bucket("shard:", "doc_id", mod=ORDER_SHARDS)
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (
        docs.select(
            "doc_id", shard.cast("int").alias("shard"), okey.alias("order_key")
        )
        .withColumn("position", F.row_number().over(w))
        .select("doc_id", "shard", "position")
    )


EXACT_K = 100  # corpus-wide sample size



def global_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k corpus-wide keyed sample: rank every document by its md5
    key and keep the first k — the deterministic replacement for
    ``df.sample()`` when the output size must be exact (eval sets, human
    review batches).  The plan is TakeOrderedAndProject over the scan
    (per-partition top-k then a k-row merge on the driver side of the
    exchange) — no global sort ever materializes, so it is one cheap pass
    at any corpus size."""
    docs = _docs(spark, sf_dir)
    okey = F.md5(F.concat(F.lit("gsample:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "lang", "source", okey.alias("sample_key"))
        .orderBy("sample_key", "doc_id")
        .limit(EXACT_K)
    )


STRATUM_K = 5  # sample size per source



def per_stratum_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size keyed sample per stratum (k docs per source) — the
    deterministic analogue of per-group reservoir sampling: rank documents
    inside each source by their hash key and keep the first k.  One shuffle
    on source; ties impossible (md5 keyed by distinct doc_id, doc_id
    tie-break)."""
    docs = _docs(spark, sf_dir)
    okey = F.md5(F.concat(F.lit("resv:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("sample_key", "doc_id")
    return (
        docs.select("doc_id", "source", okey.alias("sample_key"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STRATUM_K)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
    )


WBK_K = 50
WBK_TOKENS_PER_TICKET = 5


def weighted_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement via a bottom-k
    ticket sketch (Cohen's bottom-k framework; the exact-integer
    alternative to Efraimidis–Spirakis priorities, whose −ln(u)/w keys
    are floats and therefore not engine-exact): every document buys
    ``w = 1 + tokens // 5`` lottery tickets, each ticket's key is
    ``md5(doc_id || ticket_index)``; a document's key is its MINIMUM
    ticket, and the sample is the k smallest keys corpus-wide.  More
    tickets → stochastically smaller minimum → inclusion probability
    increases with weight, and every compared quantity is an exact md5
    string, so the selected SET is bit-reproducible on any engine and
    partitioning (same md5-keyed-decision contract as the rest of this
    module).

    Output: ``(doc_id, weight, min_ticket)`` for the k winners.

    Scale shape: ticket generation is a codegen'd
    ``array_min(transform(sequence(...)))`` — per-row, NO explode, no
    shuffle (the same shuffle-free-signature trick as
    ``dedup.minhash_lsh_buckets``); the winner cut is
    TakeOrderedAndProject, so nothing global materializes.  Cost is
    O(total weight) hash calls, map-side."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # token count via the module's shared tokenizer semantics (split on
    # ASCII whitespace, drop empties).  NOTE: the pattern must go through
    # F.split (Python-side), not an F.expr SQL literal — Spark's SQL
    # lexer drops the backslash of unknown escapes, turning '\v' into a
    # literal 'v' inside the class.
    toks = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"[ \t\r\n\f\v]+"),
            lambda x: x != "",
        )
    )
    w = F.lit(1) + F.floor(toks.cast("long") / F.lit(WBK_TOKENS_PER_TICKET))
    ticketed = (
        docs.select("doc_id", w.alias("weight"))
        .withColumn(
            "min_ticket",
            F.expr(
                "array_min(transform(sequence(1, weight), "
                "i -> md5(concat('wbk:', CAST(doc_id AS STRING), ':', "
                "CAST(i AS STRING)))))"
            ),
        )
    )
    return ticketed.orderBy("min_ticket").limit(WBK_K)


def length_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum bucketing: every document is assigned its
    exact decile of ``n_chars`` (bucket 1 = shortest tenth → trained
    first in an easy-to-hard curriculum; also the batch-shape signal
    dynamic-batching packs by), profiled per bucket.  Buckets come from
    value cutoffs, NOT ``ntile`` — ``ntile`` needs a global row sort
    (single-partition window over the corpus), while value cutoffs need
    only a value-domain histogram (:func:`maintenance.decile_cutoffs`)
    plus a map-only broadcast assignment: the 100 TB formulation.

    Output: ``(bucket, n_docs, min_chars, max_chars, total_chars)`` —
    ≤ 10 rows, all integer.  Bucket populations are near-equal but not
    exactly n/10 when ties straddle a cutoff (documents sharing one
    length land in one bucket) — the deterministic, engine-reproducible
    choice."""
    from extractor.ops.maintenance import bucket_by_cutoffs, decile_cutoffs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    cuts = decile_cutoffs(docs, "n_chars")
    b = bucket_by_cutoffs(docs.select("doc_id", "n_chars"), "n_chars", cuts)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def lang_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the mT5/XLM-R multilingual
    sampling rule): sample language ℓ proportionally to ``n_ℓ^α`` so
    low-resource languages are up-weighted relative to their corpus
    share.  α = 0.5 here — and that choice is what makes the op
    ENGINE-EXACT: ``n^0.5 = sqrt(n)`` and IEEE-754 requires sqrt to be
    correctly rounded, so both engines produce the bit-identical
    double where a libm ``pow(n, 0.3)`` could differ in ULPs.  The
    per-language weight rounds to integer micro-units BEFORE the
    normalizing sum (bigint-exact, order-independent), and the final
    probability is integer floor-division — no float ever crosses an
    aggregate or the output boundary.

    Output: ``(lang, n_docs, share_ppm, w_micro, samp_ppm)`` — corpus
    share and temperature-sampling probability, both in parts-per-
    million.

    Scale shape: ONE map-side-combined aggregate to language
    cardinality (a handful of rows), then a broadcast 1-row total.
    Nothing else moves."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.withColumn(
        "w_micro",
        F.round(F.sqrt(F.col("n_docs")) * F.lit(1_000_000)).cast("long"),
    )
    tot = w.agg(
        F.sum("n_docs").alias("n_total"), F.sum("w_micro").alias("w_total")
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr("CAST(n_docs * 1000000 DIV n_total AS BIGINT)").alias(
            "share_ppm"
        ),
        "w_micro",
        F.expr("CAST(w_micro * 1000000 DIV w_total AS BIGINT)").alias(
            "samp_ppm"
        ),
    )


def mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch corpus mixing (DoReMi / Llama-style data
    recipes): each source gets a repeat factor in exact ppm —
    ``epochs_ppm = 500000 + 250000 * (source_num % 8)`` here, spanning
    sub-sampling (0.5 epochs), exactly-once (1.0), and 2.25 epochs — and
    the op MATERIALIZES the epoched corpus: ``floor(epochs)`` full
    copies of every document plus one extra copy gated by the md5-keyed
    uniform draw (``< frac_ppm``), the same stable-under-growth decision
    primitive as the rest of the sampling family (a new snapshot never
    flips an existing document's extra-copy decision).

    Scale shape: map-only — the repeat factor is a pure column function
    of ``source`` (a real recipe table would be a broadcast join), the
    copies come from one ``sequence``/``posexplode`` bounded by
    ``ceil(max epochs)``, and the fractional gate is a filter; NO
    shuffle anywhere (plan-gated in pytest).  Downstream packing /
    shuffling consumes this with its own keyed order (``training_order``).

    Output: ``(doc_id, source, epoch)`` — epoch 0..floor(e) per doc."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    # try_cast + coalesce: a source with no trailing digits extracts ''
    # which must mean repeat-factor bucket 0, not a silent null-eppm drop
    # (the oracle uses the same TRY_CAST so both engines agree)
    num = F.coalesce(
        F.expr(
            "try_cast(regexp_extract(source, '([0-9]+)$', 1) AS bigint)"
        ),
        F.lit(0),
    )
    d = (
        docs.withColumn(
            "eppm", F.lit(500000) + F.lit(250000) * (num % 8)
        )
        .select(
            "doc_id",
            "source",
            F.expr("eppm DIV 1000000").alias("full"),
            (F.col("eppm") % 1000000).alias("frac"),
            md5_bucket("epoch:", "doc_id", mod=1000000).alias("draw"),
        )
    )
    return (
        d.select(
            "doc_id",
            "source",
            "full",
            "frac",
            "draw",
            F.explode(F.sequence(F.lit(0), F.col("full"))).alias("epoch"),
        )
        .where(
            (F.col("epoch") < F.col("full"))
            | ((F.col("epoch") == F.col("full")) & (F.col("draw") < F.col("frac")))
        )
        .select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))
    )


def epoch_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch training order over the MATERIALIZED fractional-epoch
    mixture — the composition practitioners get wrong: each epoch must
    see a DIFFERENT pseudo-random permutation (salting the order key
    with the epoch), or every epoch replays the identical batch
    sequence and the optimizer sees correlated noise.  Composes
    :func:`mixture_epochs` (which copies docs per the ppm recipe) with
    the :func:`training_order` shuffle, epoch in the salt.

    Scale shape: the mixture stage is map-only; ordering is one shuffle
    on (epoch, shard) and a per-shard window — identical cost profile
    to ``training_order``, with the epoch axis widening the shard key
    space (better parallelism, not worse).

    Output: ``(doc_id, epoch, shard, position)`` — position dense from
    1 within (epoch, shard)."""
    epochs = mixture_epochs(spark, sf_dir).select("doc_id", "epoch")
    okey = F.md5(
        F.concat(
            F.lit("eorder:"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    shard = md5_bucket("eshard:", "epoch", F.lit(":"), "doc_id", mod=ORDER_SHARDS)
    w = Window.partitionBy("epoch", "shard").orderBy("order_key", "doc_id")
    return (
        epochs.select(
            "doc_id",
            "epoch",
            shard.cast("int").alias("shard"),
            okey.alias("order_key"),
        )
        .withColumn("position", F.row_number().over(w))
        .select(
            "doc_id",
            "epoch",
            F.col("shard").cast("long").alias("shard"),
            F.col("position").cast("long").alias("position"),
        )
    )
