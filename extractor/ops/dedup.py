"""Deduplication operators over ``documents`` — the training-data staples.

- exact: hash-groupBy (one shuffle on the hash, arbitrary scale)
- minhash_lsh: shingle → per-seed min-hash → banded buckets → bucket join.
  The hash is ``md5(seed || token)`` with the *string* min as the signature
  component — deliberately chosen because md5 is identical in Spark and
  DuckDB, making even MinHash fully oracle-checkable.
- ngram_jaccard: token-set Jaccard between adjacent doc pairs (the linear
  oracle-able variant; the quadratic candidate generation is what minhash_lsh
  replaces at scale)
- simhash: 64-bit sign-aggregated token-hash fingerprint via an Arrow
  kernel (numpy bit math; md5-derived token hashes, so even this is
  oracle-checkable — DuckDB rebuilds the fingerprint with HUGEINT bit math)

Scale: exact/minhash/simhash are all linear with one-or-two shuffles;
candidate verification joins happen only within LSH buckets (skew-safe via
AQE; a pathological bucket can be salted like any hot key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from extractor.fanout import fan_out_scan, post_shuffle_filter
from extractor.ops import fixpoint, md5_bucket
from extractor.session import arrow_stage

N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 hashes


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: keeper = min(doc_id) per hash group."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_copies") >= 1)
    )


def _tokens(col):
    return F.array_distinct(F.split(F.lower(F.trim(col)), r"\s+"))


MH_MOD = 1 << 32  # Kirsch–Mitzenmacher hash lane width


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id + minhash_0..N-1 (BIGINT) columns, entirely JVM-side per
    row: NO explode and NO shuffle (the naive explode→groupBy
    formulation shuffles |tokens|×N_HASHES rows; this one shuffles
    nothing and measured ~20x faster at sf0.1).

    Hash family: Kirsch–Mitzenmacher double hashing — ONE md5 per token
    yields two 32-bit lanes ``(h1, h2)`` (hex digits 1-8 / 9-16, h2
    forced odd for a full-period stride), and the i-th hash is
    ``(h1 + i·h2) mod 2^32``; k simulated hash functions for the price
    of one (Kirsch & Mitzenmacher 2006, the standard Bloom/MinHash
    trick).  The previous family spent N_HASHES=8 md5 calls per token
    (``md5('seed{i}:'||tok)``) and dominated the operator's scan cost;
    this computes the (h1, h2) pair array in its OWN projection so the
    md5 pass runs once, and the 8 mins are cheap integer transforms
    over it (CollapseProject keeps the expensive multi-referenced alias
    in a separate project, so the md5 array is not re-inlined 8×)."""
    toks = _tokens(F.col("text"))
    pair = F.transform(
        F.transform(toks, lambda t: F.md5(t)),
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10)
            .cast("long")
            .alias("a"),
            F.conv(F.substring(h, 9, 8), 16, 10)
            .cast("long")
            .bitwiseOR(F.lit(1))
            .alias("b"),
        ),
    )
    def _lane(i: int):
        # factory: a 2-arg lambda would be read as (element, index) by
        # the HOF machinery, clobbering the lane number
        return lambda s: (s["a"] + F.lit(i) * s["b"]) % F.lit(MH_MOD)

    staged = docs.select("doc_id", pair.alias("_hp"))
    return staged.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("_hp"), _lane(i)))
            .cast("long")
            .alias(f"mh_{i}")
            for i in range(N_HASHES)
        ],
    )


def _banded_explode(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows from a signature frame: each band's
    bucket is the md5 of its BAND_SIZE signature components.  Band
    structs explode from one array (no self-union), so banding is
    shuffle-free — the ONE definition shared by the bucket rollup, the
    Jaccard estimator, and the split-leakage audit (a band/bucket-hash
    change can't silently desynchronize them)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh_{b * BAND_SIZE + j}")
                            for j in range(BAND_SIZE)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(N_HASHES // BAND_SIZE)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH over minhash signatures: near-dup candidate buckets.
    Returns (band, bucket, n_docs, min_doc_id) for buckets with >= 2 docs.
    One pass: band structs are exploded from an array (no self-union), so
    the only data shuffle is the final (band, bucket) aggregation (plus a
    guarded fan-out of the starved single-split scan — the per-token md5
    projection is the most CPU-heavy expression in the suite and runs
    single-task otherwise; see extractor/fanout.py)."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    docs = fan_out_scan(spark, docs, docs)
    exploded = _banded_explode(minhash_signatures(docs))
    return (
        exploded.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


def _bucket_pairs(exploded: DataFrame, max_bucket: int) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from exploded
    (doc_id, band, bucket) rows, hot buckets (> max_bucket docs)
    excluded — the shared bucket-local pairing step of the estimator
    and the split-leakage audit (the m² trap stays handled in ONE
    place).  The self-join keys on (band, bucket), so pair cost tracks
    Σ bucket_size², never corpus²."""
    from pyspark.sql.window import Window

    small = exploded.withColumn(
        "bsize",
        F.count("*").over(Window.partitionBy("band", "bucket")),
    ).where(F.col("bsize") <= max_bucket)
    return (
        small.alias("x")
        .join(small.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )


LSH_MAX_BUCKET = 20  # hot-bucket guard: larger buckets are not paired


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash estimator itself, closed end-to-end: for every LSH
    candidate pair, the fraction of agreeing signature components is an
    unbiased estimate of token-set Jaccard (the property the whole
    MinHash+LSH stack rests on).  Emitted next to the exact Jaccard so
    the estimate is auditable row by row; the pytest bounds the mean
    absolute error against the binomial std for N_HASHES components,
    and pins the estimator's near-zero bias on UNCONDITIONED pairs vs
    the positive selection bias on this candidate set (conditioning on
    a band match inflates agreement — the reason production pipelines
    re-verify candidates with exact Jaccard rather than trusting the
    estimate).

    Plan: candidate pairs come from the banded buckets (same single
    aggregation shuffle as ``minhash_lsh_buckets`` + one self-join keyed
    on (band, bucket) — bucket-local, never all-pairs); signatures ride
    along from the scan, so agreement counting is a map over the joined
    rows.  The exact-Jaccard audit column joins token arrays only for
    candidate rows (≪ corpus) — at production scale this IS the LSH
    verify stage.

    Hot-bucket containment (the LSH quadratic trap): a bucket holding m
    docs yields m(m−1)/2 pairs, and boilerplate-heavy corpora produce
    mega-buckets (this corpus: one bucket → ~90k pairs from 500 docs).
    Buckets over ``LSH_MAX_BUCKET`` docs are EXCLUDED from pairing — standard
    web-scale practice (such buckets are exact-dup/boilerplate clusters,
    already handled by exact dedup and line dedup; pairwise verification
    inside them is pure waste)."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    docs = fan_out_scan(spark, docs, docs)
    sig = minhash_signatures(docs)
    pairs = _bucket_pairs(_banded_explode(sig), LSH_MAX_BUCKET)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    ta = docs.select(F.col("doc_id").alias("doc_a"), _tokens(F.col("text")).alias("ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), _tokens(F.col("text")).alias("tb"))
    exact = F.size(F.array_intersect("ta", "tb")) / F.size(
        F.array_union("ta", "tb")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            matches.cast("int").alias("matching_components"),
            F.round(matches / F.lit(N_HASHES), 4).alias("est_jaccard"),
            F.round(exact, 4).alias("exact_jaccard"),
        )
    )


def ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard for (doc_id, doc_id+1) pairs — linear verification
    path; at scale the pair source is the LSH candidate buckets instead."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    a = docs.select(F.col("doc_id").alias("doc_a"), _tokens(F.col("text")).alias("ta"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        _tokens(F.col("text")).alias("tb"),
    )
    joined = a.join(b, "doc_a")
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size(F.array_union("ta", "tb"))
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(inter / union, 4).alias("jaccard"),
        (inter / union >= 0.8).alias("is_near_dup"),
    )


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document via a vectorized Arrow kernel: token hash
    bits sign-summed with numpy (no per-row Python from Spark's side).
    Deterministic (hash = first 8 bytes of md5(token), big-endian) — and
    therefore hash-checkable against a DuckDB oracle that rebuilds the same
    fingerprint with HUGEINT bit arithmetic (see ``oracle_sql``)."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    docs = fan_out_scan(spark, docs, docs)

    def kernel(batch):
        import hashlib

        import numpy as np

        bit_idx = np.arange(64, dtype=np.uint64)
        out_hashes = []
        for text in batch.column("text").to_pylist():
            toks = set(str(text).lower().split())
            if toks:
                # one md5 per token stays (hash identity is the oracle
                # contract); the per-token numpy bit math is batched
                # into a single (n_tok, 64) matrix op — same integer
                # arithmetic, ~10x less per-token Python overhead
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(t.encode()).digest()[:8], "big"
                        )
                        for t in toks
                    ),
                    dtype=np.uint64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> bit_idx) & np.uint64(1)
                acc = np.where(bits.astype(bool), 1, -1).sum(
                    axis=0, dtype=np.int64
                )
            else:
                acc = np.zeros(64, dtype=np.int64)
            sig = int(((acc > 0).astype(np.uint64) << bit_idx).sum())
            # store as signed 64-bit
            out_hashes.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
        return batch.column("doc_id"), out_hashes

    return arrow_stage(docs.select("doc_id", "text"), kernel, _SIMHASH_SCHEMA)


SIMHASH_BANDS = 4  # 16 bits each; near-dups (hamming<=3) collide in >=1 band
SIMHASH_RADIUS = 3  # recall contract: pigeonhole-complete at this radius


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: band the 64-bit fingerprint into
    4x16-bit keys, self-join within band buckets only, verify with
    bit_count(xor) — the classic Manku/Jain/Sarma web-dedup topology, all
    JVM-side after the fingerprint kernel.

    Recall contract: the emitted set is COMPLETE for hamming <= SIMHASH_RADIUS
    (= 3): with 4 bands a pair differing in <= 3 bits must agree on at least
    one whole band (pigeonhole), so it is guaranteed to collide.  The output
    threshold equals the guarantee — pairs at hamming 4+ are deliberately NOT
    emitted (they would only appear when they happen to share a band, i.e.
    silently incomplete recall).  For a wider radius, add rotated band
    tables (Manku §3) rather than raising this filter.
    Completeness at the radius is pytest-asserted against an all-pairs scan
    (tests/test_pipeline_spark.py)."""
    sig = simhash(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    left = bands.select(
        "band", "key",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
    )
    right = bands.select(
        "band", "key",
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
    )
    pairs = (
        left.join(right, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= SIMHASH_RADIUS)


DECON_N = 8  # n-gram length for test-set decontamination


def _decon_frames(spark: SparkSession, sf_dir: str):
    """Shared decontamination inputs: ``t`` (doc_id, lang, toks), the
    distinct benchmark-gram hashes ``bench`` (g), and the exploded
    per-document gram stream ``doc_grams`` (doc_id, g).  Grams are md5
    over the space-joined token window — fully oracle-checkable."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
    )
    t = docs.select("doc_id", "lang", toks.alias("toks"))

    def gram_at(i):
        # md5 of toks[i .. i+N-1], 1-based slice
        return F.md5(F.concat_ws(" ", F.slice("toks", i, DECON_N)))

    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - (DECON_N - 1), F.lit(0))),
        gram_at,
    )
    bench = (
        t.where((F.col("doc_id") % 50 == 0) & (F.size("toks") >= DECON_N))
        .select(gram_at(F.lit(1)).alias("g"))
        .distinct()
    )
    doc_grams = (
        t.where(F.size("toks") >= DECON_N)
        .select("doc_id", F.explode(grams).alias("g"))
    )
    return t, bench, doc_grams


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training documents sharing any
    8-gram with a benchmark set (here: the leading 8-gram of every 50th
    document — the sources themselves flag, as they should when the eval
    set was drawn from the corpus).  The pre-training staple alongside
    dedup; hash = md5 over the space-joined gram, so fully oracle-checkable.

    Plan (100 TB posture): the benchmark gram set is tiny → broadcast; doc
    grams are exploded but hit the broadcast LeftSemi immediately — a
    map-side filter, NO shuffle of the gram stream (at extreme gram
    cardinality swap in a bloom filter built from the same hashes, same
    topology).  The final flag join is left unhinted: hits are usually
    ≪ corpus (AQE broadcast-promotes them at runtime) but nothing bounds
    a pathological contamination rate, so the plan must degrade to a
    shuffle join rather than force a corpus-order broadcast."""
    t, bench, doc_grams = _decon_frames(spark, sf_dir)
    hits = (
        doc_grams.join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        t.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("hit"), F.lit(False)).alias("is_contaminated"),
        )
    )


BLOOM_BITS = 1 << 16  # bitmap width; 1,024 int64 words broadcast as a literal
BLOOM_K = 5  # hash functions per gram


def _bloom_words(positions) -> list[int]:
    """Pack set-bit positions into signed-int64 words (Spark LongType)."""
    words = [0] * (BLOOM_BITS // 64)
    for p in positions:
        words[p >> 6] |= 1 << (p & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _bloom_positions(g_col):
    """The BLOOM_K bit positions for one gram hash: pmod(xxhash64(i, g), m).
    Seeds vary by prepending the hash index as a first xxhash64 column."""
    return [
        F.pmod(F.xxhash64(F.lit(i), g_col), F.lit(BLOOM_BITS))
        for i in range(BLOOM_K)
    ]


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination with a BROADCAST BLOOM PREFILTER — same
    output as :func:`decontaminate` (bit-for-bit; they share one oracle
    SQL), different 100 TB topology for the regime where the benchmark
    gram set is itself too large to broadcast as a set.

    Plan: the benchmark grams are folded into a fixed-width bloom bitmap
    (BLOOM_K xxhash64 probes into BLOOM_BITS bits) — a bounded driver
    collect of at most BLOOM_BITS distinct positions, shipped to every
    task as ONE constant-size array<bigint> literal regardless of
    benchmark cardinality (at a 1B-gram benchmark, size m for the target
    false-positive rate: m = 2^33 bits ≈ 1 GiB still broadcasts; the
    exact gram set would not).  Every document gram is then tested
    map-side with ``bit_get`` — JVM-side, codegen'd, NO join, NO shuffle
    of the gram stream — and only the bloom survivors (true hits + the
    FPR·|grams| false positives) reach the exact verify semi-join that
    restores exactness.  Bloom filters never yield false NEGATIVES, so
    prefilter + exact verify ≡ exact semi-join.

    The shuffle-facing volume drops from |doc grams| to |survivors|; at
    FPR ≈ 2% that is a ~50× reduction of the stage-boundary traffic for
    an uncontaminated corpus."""
    t, bench, doc_grams = _decon_frames(spark, sf_dir)

    # bounded collect: ≤ BLOOM_BITS distinct positions, independent of corpus
    positions = [
        r[0]
        for r in bench.select(
            F.explode(F.array(*_bloom_positions(F.col("g")))).alias("p")
        )
        .distinct()
        .collect()
    ]
    bits = F.lit(_bloom_words(positions))  # constant array<bigint> literal

    def might_contain(g_col):
        cond = F.lit(True)
        for h in _bloom_positions(g_col):
            word = F.get(bits, F.floor(h / F.lit(64)).cast("int"))
            cond = cond & (F.bit_get(word, (h % 64).cast("int")) == 1)
        return cond

    survivors = doc_grams.where(might_contain(F.col("g")))  # map-side, no join
    hits = (
        survivors.join(F.broadcast(bench), "g", "left_semi")  # kills FPs
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        t.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("hit"), F.lit(False)).alias("is_contaminated"),
        )
    )


def duplicate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate-relation graph's edge list: exact duplicates star-link
    to their group keeper (min doc_id per content hash — a star is enough
    for connectivity and is the cheapest spanning structure), plus the
    simhash near-dup pairs at the pigeonhole radius.  Directed (a < b)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    w = Window.partitionBy(F.md5("text"))
    exact = (
        docs.select(
            F.min("doc_id").over(w).alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    near = simhash_neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return exact.unionByName(near).distinct()


CC_MAX_ITERS = 20  # connected-components round budget


def neardup_clusters(
    spark: SparkSession,
    sf_dir: str,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Duplicate-cluster formation: connected components over the
    duplicate-relation graph, cluster_id = min doc_id in the component —
    the step that turns pairwise dedup signals into keep/drop groups.

    Algorithm: iterative min-label propagation over the undirected edge
    list.  Each round is ONE shuffle (join labels onto edges + min-agg per
    node); the loop runs until no label changes, bounded by ``CC_MAX_ITERS``.
    Convergence needs rounds = graph diameter; duplicate clusters are
    shallow (stars + short chains), so this terminates in a handful of
    rounds.  At web scale swap the propagation step for the
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds on any
    topology with the same join/agg shape.  Rounds run through
    :func:`extractor.ops.fixpoint`: labels only fall over a fixed node
    set, so ``sum(cluster_id)``, observed on each round's checkpoint
    job, stops changing exactly when no label does.

    Output: (doc_id, cluster_id, cluster_size) for every node in the
    graph, cluster_size > 1 by construction.

    ``algorithm="two_phase"`` runs the large-star/small-star alternation
    instead (see ``_cc_two_phase``) — identical output, O(log² n) rounds
    on any topology (pytest asserts equality of the two)."""
    from pyspark.sql.window import Window as _W

    edges = duplicate_edges(spark, sf_dir)
    if algorithm == "two_phase":
        non_roots = _cc_two_phase(
            edges.select(
                F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
            )
        )
        roots = non_roots.select(
            F.col("cluster_id").alias("doc_id"),
            F.col("cluster_id").alias("cluster_id"),
        ).distinct()
        labels = non_roots.unionByName(roots)
        return labels.select(
            "doc_id",
            "cluster_id",
            F.count("*").over(_W.partitionBy("cluster_id")).alias(
                "cluster_size"
            ),
        )
    und = edges.unionByName(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint()
    labels0 = (
        und.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )

    def propagate(labels: DataFrame, _r: int) -> DataFrame:
        neighbor_min = (
            und.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("cluster_id").alias("nbr_label"),
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nbr_label").alias("nbr_min"))
            .select(F.col("doc_a").alias("doc_id"), "nbr_min")
        )
        return labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                "cluster_id", F.coalesce("nbr_min", "cluster_id")
            ).alias("cluster_id"),
        )

    labels, converged = fixpoint(
        labels0,
        propagate,
        [F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("label_sum")],
        CC_MAX_ITERS,
    )
    if not converged:
        # never silently return a non-converged labeling: wrong cluster
        # assignments with no signal are worse than a loud failure
        raise RuntimeError(
            f"label propagation did not converge within {CC_MAX_ITERS} rounds"
            " (graph diameter exceeds the round budget; use"
            " algorithm='two_phase')"
        )
    # cluster_size via a window, not agg+broadcast-join: the size table has
    # one row per CLUSTER, which at web scale is corpus-order (most dup
    # clusters are pairs) — never a broadcast side.  One shuffle on
    # cluster_id either way; the window skips the join entirely.
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(_W.partitionBy("cluster_id")).alias("cluster_size"),
    )


def _cc_two_phase(und: DataFrame) -> DataFrame:
    """Connected components via large-star / small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public): O(log² n) rounds on ANY topology, vs label
    propagation's diameter-bound rounds.  This is the documented web-scale
    swap for ``neardup_clusters``; both produce cluster_id = component min.

    Each phase is one window-min + filter over the (symmetric) edge list —
    a single shuffle on the center node:

    - large-star(u):  for m = min(Γ(u) ∪ {u}), emit (v, m) for v ∈ Γ(u),
      v > u   (strictly-larger neighbors re-hang under the local min)
    - small-star(u):  over edges with v ≤ u only, emit (v, m) ∪ (u, m)
      for the same local min m

    Convergence: the rounds run through :func:`extractor.ops.fixpoint`
    and stop when the edge multiset stops changing, compared by the
    ``checkpoint.fingerprint_aggs`` (count, xxhash64 sum) pair that each
    round's own ``localCheckpoint`` job observes; converged state is a
    star from every node to its component min."""
    from pyspark.sql.window import Window

    from extractor.checkpoint import fingerprint_aggs

    def star(edges: DataFrame, large: bool) -> DataFrame:
        # symmetric neighborhoods of the center column "u"
        sym = edges.select("u", "v").unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        if not large:
            sym = sym.where(F.col("v") <= F.col("u"))
        w = Window.partitionBy("u")
        m = F.least(F.min("v").over(w), F.col("u")).alias("m")
        nbr = sym.select("u", "v", m)
        if large:
            out = nbr.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = nbr.select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).unionByName(
                nbr.select("u", F.col("m").alias("v"))
            )
        return out.where(F.col("u") != F.col("v")).distinct()

    edges, converged = fixpoint(
        und.select("u", "v").where(F.col("u") != F.col("v")).distinct(),
        lambda edges, _r: star(star(edges, large=True), large=False),
        fingerprint_aggs(["u", "v"]),
        CC_MAX_ITERS,
    )
    if not converged:
        raise RuntimeError(
            f"large-star/small-star did not converge within {CC_MAX_ITERS}"
            " rounds — O(log^2 n) bound exceeded"
        )
    # converged: every edge is (node, component_min)
    return edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap — the tokenize-and-window
    step every training pipeline runs between extraction and packing.
    Pure ``pyspark.sql.functions`` (split → sequence of chunk starts →
    explode → slice/join): codegen'd, map-only, zero Python.

    Chunk starts step by (chunk_tokens - overlap); the final partial chunk
    is kept iff it adds at least one new token (start < n_tokens)."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return chunk_df(docs)


def chunk_df(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """Chunking over any (doc_id, text) DataFrame — the composable form
    (see ``chunk_documents`` for semantics)."""
    step = chunk_tokens - overlap
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    t = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") > 0)
    # last start = floor((n-1)/step)*step — every start contributes >=1
    # new token, so the trailing partial chunk is kept exactly when needed
    last_start = (
        ((F.size("toks") - F.lit(1)) / F.lit(step)).cast("int") * F.lit(step)
    )
    starts = F.sequence(F.lit(0), last_start, F.lit(step))
    chunks = t.select(
        "doc_id",
        F.size("toks").alias("doc_tokens"),
        F.posexplode(starts).alias("chunk_idx", "start"),
        F.col("toks"),
    ).where(F.col("start") < F.size("toks"))
    chunk_arr = F.slice(
        "toks", F.col("start") + 1, F.lit(chunk_tokens)
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "doc_tokens",
        F.size(chunk_arr).alias("chunk_len"),
        F.concat_ws(" ", chunk_arr).alias("chunk_text"),
    )


def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (98/1/1): bucket
    = first 8 md5 hex digits of a salted key, mod 1000.  Stable under
    re-partitioning, re-runs, and corpus growth (a doc's split never
    changes when other docs arrive) — the property random() sampling lacks.
    md5-based so DuckDB reproduces it bit-for-bit."""
    docs = _docs(spark, sf_dir)
    bucket = md5_bucket("split:", "doc_id", mod=1000)
    return docs.select(
        "doc_id",
        bucket.alias("split_bucket"),
        F.when(bucket < 980, "train")
        .when(bucket < 990, "val")
        .otherwise("test")
        .alias("split"),
    )


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply exact dedup: keep the lowest doc_id per content hash (the
    keeper policy of exact_dedup), returning the surviving documents —
    window row_number, one shuffle on the content hash."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style curation pipeline composed end-to-end: dedup keeper ∘
    quality gate (token count, mean word length) ∘ size filter — the
    standard pre-training corpus pass, one declarative plan.  The scan
    fan-out parallelizes the tokenize/regex gate expressions (single-split
    input otherwise pins them to one task) and keys the repartition on the
    keeper window's own partition expression, so the window reuses that
    exchange instead of adding a second one (opt guide §2.4: two
    operations keyed the same way share one exchange)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(
        F.col("text").isNotNull()
        & (F.col("n_chars") >= 100)
        & (F.col("n_chars") <= 50 * 1024 * 1024)
    )
    docs = fan_out_scan(spark, docs, docs, key=F.md5("text"))
    toks = F.split(F.trim("text"), r"\s+")
    n_tokens = F.size(toks)
    mean_wl = F.length(F.regexp_replace("text", r"\s+", "")) / n_tokens
    # Cheap column gates above stay pushable into the scan; the regex
    # gates are anchored POST-exchange so they run on every core instead
    # of being pushed back into the single-split scan stage (the ~0.7 s
    # residual documented in round 6's first pass).
    gated = post_shuffle_filter(docs, (n_tokens >= 20) & (mean_wl < 15))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


def pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-corpus preparation DAG composed as ONE
    declarative plan: quality gates → exact-dedup keeper → deterministic
    train split → token chunking.  Every stage also exists (and is
    oracle-checked) standalone; the point of this entry is composition —
    no materialization barrier anywhere, so Catalyst pushes the gates into
    the scan and pipelines the keeper window, the hash split, and the
    chunk explode into a plan with exactly ONE data shuffle (the
    content-hash keeper window; split + chunking are map-only on its
    output)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = F.split(F.trim("text"), r"\s+")
    n_tokens = F.size(toks)
    mean_wl = F.length(F.regexp_replace("text", r"\s+", "")) / n_tokens
    gated = docs.where(
        (F.col("n_chars") >= 100)
        & (F.col("n_chars") <= 50 * 1024 * 1024)
        & (n_tokens >= 20)
        & (mean_wl < 15)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    bucket = md5_bucket("split:", "doc_id", mod=1000)
    train = kept.where(bucket < 980)
    return chunk_df(train)


LINE_WINDOW_WORDS = 8  # words per line window
LINE_DUP_THRESHOLD = 5  # a window seen this often is dropped


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-line removal (Falcon/Dolma-style): lines
    that recur across the corpus — license headers, nav chrome, templated
    footers — are dropped from every document; the document text is
    rebuilt from the surviving lines in order.

    The prose corpus has no natural line structure, so lines are
    synthesized deterministically: one injected boilerplate header (two
    variants, so both recur far above threshold) + non-overlapping
    ``LINE_WINDOW_WORDS``-word windows of the text.  Both engines build the
    identical lines, so the whole operator — global line counts, the
    threshold drop, and the ordered text rebuild — is hash-checked.

    Scale shape: explode → ``groupBy(line_hash)`` count (one shuffle of
    distinct lines, map-side combined) → equi join counts back onto the
    exploded lines (shuffle join on the hash; at extreme corpus sizes the
    over-threshold hash set is small enough to collect into a broadcast /
    bloom filter instead — documented tradeoff) → ``groupBy(doc_id)``
    ordered rebuild.  A right join against the document spine reinstates
    docs whose every line was boilerplate (cleaned_text = '')."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    header = F.concat(
        F.lit("common license header variant "),
        F.pmod(F.col("doc_id"), F.lit(2)).cast("string"),
    )
    last_w = ((F.size("toks") - F.lit(1)) / F.lit(LINE_WINDOW_WORDS)).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), last_w),
        lambda i: F.array_join(
            F.slice(F.col("toks"), i * LINE_WINDOW_WORDS + 1, LINE_WINDOW_WORDS), " "
        ),
    )
    lines = docs.select(
        "doc_id", toks.alias("toks"), header.alias("header")
    ).where(F.size("toks") > 0).select(
        "doc_id",
        F.posexplode(F.concat(F.array("header"), windows)).alias("pos", "line"),
    ).select(
        "doc_id", "pos", "line", F.md5("line").alias("line_hash")
    )
    counts = lines.groupBy("line_hash").agg(F.count("*").alias("n_occur"))
    kept = (
        lines.join(counts, "line_hash")
        .where(F.col("n_occur") < LINE_DUP_THRESHOLD)
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("cleaned_text"),
    )
    spine = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    return (
        spine.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dup_lines"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


SEQ_TOKENS = 256  # tokens per packed training sequence
PACK_BUCKET_WIDTH = 64  # doc_ids per prefix-sum bucket
PACK_L2_WIDTH = 8  # buckets per second-level bucket


def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    two_level: bool = False,
) -> DataFrame:
    """GPT-style sequence packing: documents are laid end-to-end in
    ``doc_id`` order and cut into fixed ``SEQ_TOKENS`` training sequences;
    each document learns which sequence it starts in, its offset there,
    and whether it crosses a sequence boundary.

    The global running token offset is a distributed prefix sum — NOT a
    single-partition global window (the classic scale trap): documents get
    a monotone bucket ``floor(doc_id / PACK_BUCKET_WIDTH)``; bucket subtotals
    get an exclusive running sum in a tiny window; subtotal offsets
    broadcast-join back; the within-bucket window runs partitioned and
    parallel.  Equivalent by construction to the flat cumsum the DuckDB
    oracle runs, because the bucket key is monotone in ``doc_id``.

    Sizing rule at scale: the subtotal window and the broadcast both see
    ``n_docs / PACK_BUCKET_WIDTH`` rows, so choose ``PACK_BUCKET_WIDTH ≈ n_docs /
    10^6`` (one cheap ``count()`` if unknown) to cap that side at ~10^6
    rows regardless of corpus size; within-bucket windows then hold
    ``PACK_BUCKET_WIDTH`` rows each — both sides bounded.  ``two_level=True``
    IS the nested construction for truly unbounded corpora: bucket
    subtotals are themselves bucketed (``PACK_L2_WIDTH``) and prefix-summed the
    same way, so the only single-partition window sees
    ``n_docs / (PACK_BUCKET_WIDTH · PACK_L2_WIDTH)`` rows — identical output
    (pytest-asserted), one extra tiny shuffle.  The default width (64)
    is sized for the test corpora."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    n_tok = F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""))
    d = docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tok"),
        F.floor(F.col("doc_id") / PACK_BUCKET_WIDTH).alias("bucket"),
    ).where(F.col("n_tok") > 0)
    totals = d.groupBy("bucket").agg(F.sum("n_tok").alias("bucket_tok"))
    if two_level:
        totals = totals.withColumn("b2", F.floor(F.col("bucket") / PACK_L2_WIDTH))
        t2 = totals.groupBy("b2").agg(F.sum("bucket_tok").alias("b2_tok"))
        w2 = Window.orderBy("b2").rowsBetween(Window.unboundedPreceding, -1)
        off2 = t2.select(
            "b2",
            F.coalesce(F.sum("b2_tok").over(w2), F.lit(0)).alias("b2_off"),
        )
        w_in2 = (
            Window.partitionBy("b2")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = (
            totals.join(F.broadcast(off2), "b2")
            .select(
                "bucket",
                (
                    F.col("b2_off")
                    + F.coalesce(F.sum("bucket_tok").over(w_in2), F.lit(0))
                ).alias("bucket_off"),
            )
        )
    else:
        w_b = (
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            "bucket",
            F.coalesce(F.sum("bucket_tok").over(w_b), F.lit(0)).alias(
                "bucket_off"
            ),
        )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        d.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tok",
            (
                F.col("bucket_off")
                + F.coalesce(F.sum("n_tok").over(w_in), F.lit(0))
            ).alias("start"),
        )
    )
    seq_id = F.floor(F.col("start") / SEQ_TOKENS)
    end_seq = F.floor((F.col("start") + F.col("n_tok") - 1) / SEQ_TOKENS)
    return placed.select(
        "doc_id",
        "n_tok",
        "start",
        seq_id.alias("seq_id"),
        F.pmod(F.col("start"), F.lit(SEQ_TOKENS)).cast("long").alias(
            "offset_in_seq"
        ),
        (end_seq - seq_id + 1).alias("n_seqs_spanned"),
        (end_seq > seq_id).alias("crosses_boundary"),
    )


SUBSTR_W = 32  # duplicated-substring window width (chars)
SUBSTR_STRIDE = 16  # window stride


def substring_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity duplication profile — the windowed-hash
    approximation of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better": exact
    long-substring matches matter even when whole documents differ).
    Every document is cut into 32-char windows on a 16-char stride; a
    window is DUPLICATED if its hash occurs in more than one document.
    Output per document: ``n_windows``, ``n_dup_windows``,
    ``dup_fraction`` (rounded 6) — the signal a curation pass thresholds
    on before the expensive span-splitting rewrite.

    Scale shape (100 TB): windows are generated JVM-side
    (``transform(sequence(...))`` + ``Column.substr`` — no Python, no
    UDF) and exploded map-side; the duplicate set is the standard
    two-level distinct-then-count aggregate (each level map-side
    combined, one shuffle each on the hash key — never a
    count(distinct) holding per-group sets); the flag join is LEFT SEMI
    on the hash, unhinted so AQE picks broadcast when the dup set is
    small and degrades to shuffle when a template-heavy corpus makes it
    large.  Per-doc rollup is one final agg shuffle on doc_id."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    L = F.length("text")
    n_win = F.when(
        L >= SUBSTR_W,
        ((L - F.lit(SUBSTR_W)) / F.lit(SUBSTR_STRIDE)).cast("long") + 1,
    ).otherwise(F.lit(0))
    d = docs.select("doc_id", "text", n_win.alias("n_windows"))
    w = d.where(F.col("n_windows") > 0).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_windows") - 1),
                lambda i: F.md5(
                    F.col("text").substr(
                        i * SUBSTR_STRIDE + F.lit(1), F.lit(SUBSTR_W)
                    )
                ),
            )
        ).alias("h"),
    )
    dup = (
        w.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    dup_per_doc = (
        w.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        d.join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.when(F.col("n_windows") > 0,
                   F.round(
                       F.coalesce("n_dup_windows", F.lit(0))
                       .cast("double") / F.col("n_windows"),
                       6,
                   ))
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


CDC_K = 8          # rolling k-gram width
CDC_DIVISOR = 64   # boundary probability 1/64 → expected ~64-char chunks


def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup profile (the storage-dedup
    technique of LBFS/restic/borg applied to corpus text): split every
    document at positions where the hash of the trailing ``CDC_K``-gram is
    ≡ 0 (mod ``CDC_DIVISOR``), then measure chunk-level duplication across
    the WHOLE corpus.  Because boundaries depend only on local content,
    they survive insertions/deletions — shifted copies of a passage
    still produce identical chunks, which fixed-width shingling (see
    ``substring_dup_profile``) misses.

    Boundary rule: position ``p`` (1-based, ``CDC_K ≤ p < len``) ends a
    chunk iff ``int(md5(substr(text, p-CDC_K+1, CDC_K))[:8 hex]) % CDC_DIVISOR ==
    0`` — the engine's shared keyed-uniform primitive, so Spark and
    DuckDB agree bit-for-bit.  The final position is always a boundary.
    ``p ≥ CDC_K`` gives an implicit CDC_K-char minimum chunk; expected chunk
    length is ~``CDC_DIVISOR`` chars.

    Output: ONE summary row ``(total_chunks, distinct_chunks,
    dup_chunk_instances, saved_chars)`` — all integers;
    ``saved_chars`` is the byte win of storing each distinct chunk
    once (Σ (count−1)·len).

    Plan/scale: boundary detection + chunk slicing are pure codegen'd
    higher-order functions (``filter(sequence)`` + indexed
    ``transform``) — map-only, embarrassingly parallel; the only
    shuffle carries (chunk_md5, len) partials after map-side combine,
    and the closing rollup is a single-row aggregate.  The per-position
    md5 costs O(len) hashes per document — the declarative semantics
    spec; a production 100 TB run swaps in an O(1)-per-byte gear
    rolling hash inside an ``arrow_stage`` kernel with the same boundary
    distribution and identical downstream topology."""
    docs = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length("text") >= 1)
    )
    # one md5 per char position: the definitionally heaviest per-row
    # projection here — fan out the starved scan (extractor/fanout.py)
    docs = fan_out_scan(spark, docs, docs)
    md5int = (
        f"CAST(conv(substr(md5(CAST(substr(text, i - {CDC_K - 1}, {CDC_K})"
        " AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
    )
    bounds = docs.select(
        "text",
        F.expr(
            f"concat(filter(sequence(1, length(text)),"
            f" i -> i >= {CDC_K} AND i < length(text)"
            f"      AND {md5int} % {CDC_DIVISOR} = 0),"
            f" array(length(text)))"
        ).alias("bounds"),
    )
    chunks = bounds.select(
        F.explode(
            F.expr(
                "transform(bounds, (b, j) ->"
                " substr(text,"
                "        IF(j = 0, 0, element_at(bounds, j)) + 1,"
                "        b - IF(j = 0, 0, element_at(bounds, j))))"
            )
        ).alias("chunk")
    )
    per_chunk = chunks.groupBy(
        F.md5(F.col("chunk").cast("binary")).alias("h"),
        F.length("chunk").alias("clen"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return per_chunk.agg(
        F.sum("cnt").cast("long").alias("total_chunks"),
        F.count(F.lit(1)).cast("long").alias("distinct_chunks"),
        (F.sum("cnt") - F.count(F.lit(1)))
        .cast("long")
        .alias("dup_chunk_instances"),
        F.sum((F.col("cnt") - 1) * F.col("clen"))
        .cast("long")
        .alias("saved_chars"),
    )


def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup — the path every production
    corpus actually runs: a NEW batch of crawled documents is checked
    against the fingerprint table of the already-ingested corpus, and
    only novel content lands.  (Full-corpus re-dedup at 10^12 rows per
    ingest is the anti-pattern; the fingerprint table is the persisted
    artifact the checkpoint module's snapshots already model.)

    Snapshot split is derived deterministically: ``doc_id % 5 == 0`` is
    the incoming batch, the rest the existing corpus.  Cross-snapshot
    and in-batch duplicates are PLANTED so every verdict branch fires:
    incoming docs in md5 bucket ≡0 (mod 3) take the text of existing
    neighbor ``doc_id+1``, bucket ≡1 the text of incoming neighbor
    ``doc_id-5`` (both engines rebuild the plant exactly).

    Verdict precedence mirrors production ingest: ``dup_of_corpus``
    (fingerprint already stored) beats ``dup_in_batch`` (an earlier
    doc in THIS batch has the same fingerprint; first occurrence by
    doc_id survives) beats ``novel``.

    Scale shape: the corpus side reduces to its DISTINCT fingerprint
    relation (the stored table — at ingest time this is a READ, not a
    scan of the corpus); the verdict is one fp-keyed left join plus an
    fp-partitioned window over the batch only.  Batch ≪ corpus, so AQE
    broadcasts the batch side of nothing — the join shuffles the small
    batch against the fingerprint table's partitioning, and at 10^12
    rows the fingerprint table can be bucketed by fp so the join is
    exchange-free on its side (see ``maintenance.write_bucketed``)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    existing = docs.where(F.col("doc_id") % 5 != 0)
    bucket = md5_bucket("ing:", "doc_id", mod=3)
    # plant: bucket 0 copies an existing doc's text, bucket 1 an earlier
    # in-batch doc's text (left joins — missing neighbors keep own text)
    nb_corpus = existing.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("t_corpus")
    )
    nb_batch = incoming.select(
        (F.col("doc_id") + 5).alias("doc_id"), F.col("text").alias("t_batch")
    )
    batch = (
        incoming.withColumn("bkt", bucket)
        .join(nb_corpus, "doc_id", "left")
        .join(nb_batch, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("bkt") == 0, F.coalesce("t_corpus", "text"))
            .when(F.col("bkt") == 1, F.coalesce("t_batch", "text"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    corpus_fp = existing.select(F.md5("text").alias("fp")).distinct()
    w = Window.partitionBy("fp").orderBy("doc_id")
    verdict = (
        batch.select("doc_id", F.md5("text").alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .join(corpus_fp.withColumn("in_corpus", F.lit(1)), "fp", "left")
        .select(
            "doc_id",
            "fp",
            F.when(F.col("in_corpus") == 1, "dup_of_corpus")
            .when(F.col("rn") > 1, "dup_in_batch")
            .otherwise("novel")
            .alias("status"),
        )
    )
    return verdict.orderBy("doc_id")


WINNOW_K = 8  # k-gram width (chars)
WINNOW_W = 4  # winnowing window (hashes)


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-char gram, slide a
    w-hash window, keep each window's MINIMUM hash.  The selected
    fingerprints are a position-independent ~2/(w+1) sample of the
    k-grams with the GUARANTEE that any shared substring of length
    ≥ k+w−1 contributes at least one shared fingerprint — the local
    plagiarism/containment detector that MinHash (whole-doc similarity)
    and CDC chunking (storage dedup) don't give you.

    Scale shape: hashing + window minima + per-doc dedup are ONE
    codegen'd HOF projection (``transform(sequence)`` + ``array_min`` +
    ``array_distinct`` — no Python, no shuffle); the only exchange is
    the fp-keyed sharing count, and per-doc fingerprint sets are
    already distinct so it carries ~2·len/(w+1) rows per doc max.

    Output per doc: ``(doc_id, n_fps, n_shared_fps, shared_bp)`` —
    fingerprints, fingerprints also present in ≥1 other doc, and the
    shared fraction in basis points."""
    docs = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull() & (F.length("text") >= WINNOW_K + WINNOW_W - 1))
        .select("doc_id", "text")
    )
    # per-position md5 + sliding window minima: fan out the starved scan
    docs = fan_out_scan(spark, docs, docs)
    h = (
        f"transform(sequence(1, length(text) - {WINNOW_K} + 1),"
        f" i -> CAST(conv(substring(md5(substr(text, CAST(i AS INT), {WINNOW_K})),"
        f" 1, 8), 16, 10) AS BIGINT))"
    )
    # hash array materialized as a column FIRST so each row computes its
    # k-gram hashes once — referencing the transform inside every window
    # lambda would re-evaluate it per window position
    fps = (
        f"array_distinct(transform(sequence(1, size(h) - {WINNOW_W} + 1),"
        f" j -> array_min(slice(h, CAST(j AS INT), {WINNOW_W}))))"
    )
    doc_fp = docs.withColumn("h", F.expr(h)).select(
        "doc_id", F.explode(F.expr(fps)).alias("fp")
    )
    fp_docs = doc_fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        doc_fp.join(fp_docs, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fps"),
            F.sum((F.col("n_docs") >= 2).cast("long"))
            .cast("long")
            .alias("n_shared_fps"),
        )
        .select(
            "doc_id",
            "n_fps",
            "n_shared_fps",
            F.expr("CAST(n_shared_fps * 10000 DIV n_fps AS BIGINT)").alias(
                "shared_bp"
            ),
        )
    )


WINNOW_MIN_SHARED = 5  # shared fingerprints for a containment pair
WINNOW_MAX_FP_DOCS = 20  # hot-fingerprint guard


def winnowing_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-pair detection over winnowing fingerprints — the MOSS
    end state: find document pairs that share a local passage (quote,
    boilerplate block, copied section), which whole-document MinHash
    misses when the rest of the documents differ.  Candidate pairs are
    generated ONLY through shared fingerprints; a shared passage of
    length ≥ k+w−1 guarantees ≥1 shared fingerprint (the winnowing
    theorem), and ≥ ``WINNOW_MIN_SHARED`` shared fingerprints is the verdict.

    Containment is PLANTED deterministically so the detector has ground
    truth: docs in md5 bucket ≡0 (mod 5) append the first 80 chars of
    neighbor ``doc_id+1``'s text (both engines rebuild the plant).

    The m² guard: fingerprints shared by more than ``WINNOW_MAX_FP_DOCS``
    documents (corpus-wide boilerplate grams) are EXCLUDED from pair
    generation — the same hot-bucket cap as MinHash-LSH/conv-LSH, which
    bounds any fingerprint's pair contribution at WINNOW_MAX_FP_DOCS² instead
    of letting one stop-gram produce a quadratic blowup.  Scale shape:
    fp-keyed count + self-join on the capped fp relation + one pair
    agg; per-doc fingerprint sets are pre-deduped so joins move
    ~2·len/(w+1) rows per doc."""
    docs = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    bucket = md5_bucket("win:", "doc_id", mod=5)
    nb = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.substring("text", 1, 80).alias("t_nb"),
    )
    planted = (
        docs.withColumn("bkt", bucket)
        .join(nb, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("bkt") == 0) & F.col("t_nb").isNotNull(),
                F.concat("text", F.lit(" "), F.col("t_nb")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .where(F.length("text") >= WINNOW_K + WINNOW_W - 1)
    )
    # the planted view is broadcast-joined onto the starved scan layout;
    # fan it out before the per-position fingerprint projection
    planted = fan_out_scan(spark, planted, docs)
    h = (
        f"transform(sequence(1, length(text) - {WINNOW_K} + 1),"
        f" i -> CAST(conv(substring(md5(substr(text, CAST(i AS INT), {WINNOW_K})),"
        f" 1, 8), 16, 10) AS BIGINT))"
    )
    fps = (
        f"array_distinct(transform(sequence(1, size(h) - {WINNOW_W} + 1),"
        f" j -> array_min(slice(h, CAST(j AS INT), {WINNOW_W}))))"
    )
    doc_fp = planted.withColumn("h", F.expr(h)).select(
        "doc_id", F.explode(F.expr(fps)).alias("fp")
    )
    cold = (
        doc_fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs").between(2, WINNOW_MAX_FP_DOCS))
        .select("fp")
    )
    cf = doc_fp.join(cold, "fp")
    pairs = (
        cf.alias("a")
        .join(cf.alias("b"), "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )
    n_fps = doc_fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    return (
        pairs.join(n_fps.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_fps", "n_fps_a")
        .join(n_fps.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_fps", "n_fps_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.expr(
                "CAST(shared_fps * 10000 DIV least(n_fps_a, n_fps_b)"
                " AS BIGINT)"
            ).alias("containment_bp"),
        )
        .orderBy("doc_a", "doc_b")
    )


BINPACK_CAP = 1000      # bin capacity in chars (proxy for tokens)
BINPACK_SHARDS = 16     # parallel packing shards


def nextfit_chain(lengths, cap: int):
    """The sequential next-fit state chain: given lengths in placement
    order, return (bin index, fill-after) per item.  An item that no
    longer fits closes the bin; the first item of a bin always enters
    it, so an oversized item occupies a bin alone.  Pure function so the
    per-shard Arrow walk and the property tests share one definition."""
    bins, fills = [], []
    b, fill = 0, None
    for n in lengths:
        if fill is None:
            fill = int(n)
        elif fill + int(n) <= cap:
            fill += int(n)
        else:
            b += 1
            fill = int(n)
        bins.append(b)
        fills.append(fill)
    return bins, fills


def bin_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document next-fit-decreasing bin packing — the SFT packing
    shape that never splits a document across context windows (the
    complement of :func:`pack_sequences`, which cuts a token stream at
    exact boundaries).  Docs are sharded, ordered (length desc, doc_id)
    within each shard, and greedily placed: a doc that no longer fits
    closes the bin and opens the next.  An oversized doc (> BINPACK_CAP) gets a
    bin of its own — the standard degradation.

    Scale topology (100 TB): greedy packing is inherently sequential,
    so parallelism comes from SHARDING, not from the algorithm — one
    hash shuffle into ``BINPACK_SHARDS`` groups, then a per-shard Arrow batch
    walk (a grouped ``arrow_stage``, the mandate's custom-stateful-operator
    fallback: the data dependency chain genuinely can't be a window).
    Shard count scales with the cluster; per-shard state is two ints.
    The DuckDB oracle replays the identical greedy chain as a
    recursive CTE, so placement is hash-checked row for row.
    """
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.pmod("doc_id", F.lit(BINPACK_SHARDS)).cast("long").alias("shard"),
            F.length("text").cast("long").alias("n"),
        )
    )

    def pack(table):
        table = table.sort_by([("n", "descending"), ("doc_id", "ascending")])
        bins, fills = nextfit_chain(table.column("n").to_pylist(), BINPACK_CAP)
        return table.column("doc_id"), table.column("shard"), bins, fills

    return arrow_stage(
        docs.groupBy("shard"),
        pack,
        "doc_id long, shard long, bin_local long, bin_fill_after long",
    )


FUZZY_MAX_DIST = 5      # edit-distance acceptance threshold
FUZZY_BLOCK_EXPR = "split_part(p_name, ' ', 1)"


def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy string matching: for every
    part, its single best fuzzy duplicate — the lowest-edit-distance
    OTHER part name within the same block, ties broken by the lower
    candidate key.  This is the canonical record-linkage step (catalog
    dedup, product matching, author disambiguation) expressed
    Spark-first:

    - **Blocking** replaces the quadratic all-pairs comparison: names
      only compete inside a block (here the first name token), so the
      self-join is a plain hash EQUI-join on the block key — never a
      cartesian product.  At 100 TB the block key is the shuffle
      partitioning and per-block pair counts bound the work; skewed
      mega-blocks would be salted or length-sub-blocked exactly like
      ``salted_skew_join``.
    - A **length-band prune** (``|len(a)-len(b)| <= FUZZY_MAX_DIST``, a lower
      bound on edit distance) discards candidates BEFORE the O(n*m)
      ``levenshtein`` kernel runs — the classic cheap-filter/expensive-
      verify cascade, same shape as the LSH-then-Jaccard dedup path.
    - The per-entity argmin is ONE struct-min aggregate
      (``min(struct(dist, key))``), not a row_number window — no second
      sort, map-side combinable.

    Output: ``(p_partkey, match_key, dist)``, one row per part that has
    a block-mate within ``FUZZY_MAX_DIST`` edits.  Both engines compute
    classic Levenshtein, so the oracle matches exactly (the DuckDB twin
    breaks ties with a row_number window; struct-min is the same
    ordering).

    The edit-distance cascade runs on the DISTINCT-NAME proxy, not on
    key pairs: ``levenshtein(a, b)`` depends only on the two strings, so
    every same-name key group shares one distance row, and the per-key
    argmin over a name group collapses to that group's minimum key (its
    second-minimum when the probe key IS the minimum, so a part never
    matches itself).  The same ``when(k1 != k)`` guard also covers a
    probe key that appears in another name group (a repeated
    ``p_partkey`` under a different name): when it is that group's
    minimum, the group's second-minimum stands in for it there too.
    The key-pair join that used to materialize
    |block|² rows (50M at sf0.1, where 20k parts carry only 64 distinct
    names) becomes |names|² ≈ 448 banded comparisons plus two map-side-
    combinable key aggregates — the guide-§8 shape: decide on the small
    proxy, attach the decision back with name-keyed equi-joins, and the
    full-width table is never self-joined at all.  When every name is
    unique the proxy degenerates to exactly the old pair volume (never
    worse); when names repeat — the common case in catalog/entity data —
    the verify cost drops by the duplication factor squared.  Row-for-
    row equivalence was verified against both the previous form and the
    DuckDB oracle at sf0.01/sf0.1."""
    scan = spark.read.parquet(f"{sf_dir}/part.parquet")
    p = scan.select(
        F.col("p_partkey").cast("long").alias("k"),
        F.col("p_name").alias("n"),
        F.expr(FUZZY_BLOCK_EXPR).alias("b"),
        F.length("p_name").alias("ln"),
    ).where(F.col("p_partkey").isNotNull() & F.col("p_name").isNotNull())
    # NULL-key/name rows were invisible to the old pair form (a.k != c.k
    # and b = b are never true against NULL) but a NULL probe key would
    # fall through when(k1 != k) below into another name's k2m — the
    # explicit guard keeps equivalence free of any data invariant.
    # Per-name key aggregates: minimum key, and minimum key above it
    # (the argmin representative when the probe key is the minimum).
    # b/ln are functions of n, so grouping on all three keeps them
    # without a rejoin and does not change the group cardinality.
    g1 = p.groupBy("n", "b", "ln").agg(F.min("k").alias("k1"))
    g2 = (
        p.select("n", "k")
        .join(g1.select("n", "k1"), "n")
        .where(F.col("k") > F.col("k1"))
        .groupBy("n")
        .agg(F.min("k").alias("k2m"))
    )
    names = g1.join(g2, "n", "left")
    # Banded levenshtein over distinct-name pairs INCLUDING the self
    # pair (n, n, 0): same-name other-key matches are real candidates.
    # The thresholded form (Spark 3.5+) runs the banded O(n*k) kernel
    # and returns -1 above the threshold — kept rows and their distances
    # are identical to the unthresholded oracle.
    x = names.select("n", "b", "ln").alias("x")
    y = names.select(
        F.col("n").alias("n2"), "b", F.col("ln").alias("ln2"), "k1", "k2m"
    ).alias("y")
    name_pairs = (
        x.join(y, "b")
        .where(F.abs(F.col("ln") - F.col("ln2")) <= F.lit(FUZZY_MAX_DIST))
        .select(
            F.col("n").alias("n1"), "k1", "k2m",
            F.levenshtein(
                F.col("n"), F.col("n2"), threshold=FUZZY_MAX_DIST
            ).alias("d"),
        )
        .where((F.col("d") >= F.lit(0)) & (F.col("d") <= F.lit(FUZZY_MAX_DIST)))
    )
    # Attach candidates back to keys: one row per (part, matching name
    # group), never per key pair.  k1 != k except inside the probe's own
    # name group, where k2m (possibly null for singleton names) is the
    # correct — and only other — representative.
    cand = (
        p.select("k", "n")
        .join(name_pairs, F.col("n") == F.col("n1"))
        .withColumn(
            "k2",
            F.when(F.col("k1") != F.col("k"), F.col("k1"))
             .otherwise(F.col("k2m")),
        )
        .where(F.col("k2").isNotNull())
        .select("k", "d", "k2")
    )
    best = cand.groupBy("k").agg(
        F.min(F.struct("d", "k2")).alias("m")
    )
    return best.select(
        F.col("k").alias("p_partkey"),
        F.col("m.k2").cast("long").alias("match_key"),
        F.col("m.d").cast("long").alias("dist"),
    )


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test contamination audit: LSH near-duplicate candidate
    pairs whose two documents landed in DIFFERENT splits — the leakage
    every eval-integrity review hunts for (a test doc with a train-side
    near-dup inflates benchmarks exactly like n-gram contamination, but
    survives exact decontamination).  Composes the two primitives this
    engine already certifies: banded MinHash candidates
    (:func:`minhash_jaccard_estimate`'s pair stage, hot buckets
    excluded) × the stable md5 split assignment
    (:func:`train_split_assign`).

    Split labels are order-normalized (least/greatest) so (train,test)
    and (test,train) fold into one cell; ``sample_pair`` packs the
    lexicographically-smallest pair as ``doc_a * 10^6 + doc_b`` for a
    deterministic audit handle.

    Scale shape: candidate pairs are bucket-local (never all-pairs);
    the split table is a pure map-side md5 expression JOINED once per
    pair side (hash equi-join on doc id, the ids are md5-uniform so no
    skew); final agg has ≤ 6 cells.  Pairs within one split appear too
    — the diagonal is the near-dup base rate that makes the off-
    diagonal interpretable.

    Output: ``(split_a, split_b, n_pairs, sample_pair)``."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    docs = fan_out_scan(spark, docs, docs)
    sig = minhash_signatures(docs)
    pairs = _bucket_pairs(_banded_explode(sig), LSH_MAX_BUCKET)
    sp = train_split_assign(spark, sf_dir).select("doc_id", "split")
    labeled = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            (F.col("doc_a") * F.lit(1000000) + F.col("doc_b"))
            .cast("long")
            .alias("pair_key"),
        )
    )
    return labeled.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("pair_key").alias("sample_pair"),
    )


IBATCH_BUDGET = 4000    # per-batch cost budget: max_len * n_seqs (pad cells)
IBATCH_SHARDS = 16


def infer_batch_chain(lengths, budget: int):
    """Sequential length-sorted dynamic-batching state chain: lengths
    arrive DESCENDING; a batch closes when admitting the next sequence
    would push ``batch_max_len * (n+1)`` over *budget* (batch_max_len is
    the FIRST member's length — descending order makes it the max, which
    is what bounds the padded tensor).  An over-budget single sequence
    still occupies a batch alone.  Returns (batch idx, n_after,
    padded_cells_after) per item.  Pure function shared by the Arrow
    walk and the property tests (same pattern as :func:`nextfit_chain`)."""
    batches, ns, cells = [], [], []
    b, n, mx = 0, 0, 0
    for ln in lengths:
        ln = int(ln)
        if n > 0 and mx * (n + 1) > budget:
            b += 1
            n, mx = 0, 0
        if n == 0:
            mx = ln
        n += 1
        batches.append(b)
        ns.append(n)
        cells.append(mx * n)
    return batches, ns, cells


def inference_batch_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic micro-batching for inference/scoring sweeps — the
    serving-side twin of :func:`bin_pack_nextfit`: sequences are padded
    to their batch's max length, so naive arrival-order batching wastes
    compute as pad cells; sorting by length first makes batches
    length-homogeneous and caps the padded tensor at ``IBATCH_BUDGET`` cells
    (vLLM/TGI-style length-grouped batching, the standard trick for
    classifier sweeps over a corpus).

    Per doc: ``(doc_id, shard, batch_local, batch_fill_n,
    padded_cells_after)`` — the last column is the running padded-tensor
    size, so Σ waste is auditable downstream.

    Scale shape: identical to the packer — md5-uniform shards, ONE
    shuffle into a grouped ``arrow_stage``, each shard's chain is a linear walk
    over its pre-sorted frame; batch ids are shard-local (globalize with
    ``shard * K + batch_local`` downstream).  The oracle replays the
    chain as a recursive CTE per shard."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.pmod("doc_id", F.lit(IBATCH_SHARDS)).cast("long").alias("shard"),
            F.length("text").cast("long").alias("n"),
        )
    )

    def pack(table):
        table = table.sort_by([("n", "descending"), ("doc_id", "ascending")])
        batches, ns, cells = infer_batch_chain(
            table.column("n").to_pylist(), IBATCH_BUDGET
        )
        return table.column("doc_id"), table.column("shard"), batches, ns, cells

    return arrow_stage(
        docs.groupBy("shard"),
        pack,
        "doc_id long, shard long, batch_local long, batch_fill_n long,"
        " padded_cells_after long",
    )


def homoglyph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusable-skeleton duplicate detection: documents that differ
    ONLY by Unicode homoglyph substitution (Cyrillic а/е for Latin a/e,
    Greek ο for o — the classic dedup-evasion / spam trick) collapse to
    the same skeleton once confusables are folded to their Latin
    targets, so exact-hash grouping catches what byte-level exact dedup
    misses.  The fold is a tiny ``translate`` map (a real deployment
    broadcasts the full UTS #39 confusables table; the mechanism —
    codepoint map, md5 skeleton, hash group — is identical).

    The test corpus is clean ASCII, so evasion twins are PLANTED
    deterministically (same device as ``incremental_ingest_dedup``'s
    dup branches): every ``doc_id % 37 == 0`` document gets a
    ``doc_id + 10_000_000`` twin with a→а, e→е, o→ο applied.  Both
    engines build the identical planted corpus, so the whole pipeline —
    planting, folding, grouping — is hash-checked.

    Scale shape: map-only fold (codegen'd ``translate``) + ONE md5-keyed
    aggregate; the union's twin branch is a filtered re-scan of the same
    parquet (no shuffle before the group-by).

    Output: ``(skel_hash, n_docs, min_doc_id, max_doc_id)`` for groups
    of size > 1."""
    docs = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    twins = docs.where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.translate("text", "aeo", "аеο").alias("text"),
    )
    corpus = docs.unionByName(twins)
    return (
        corpus.select(
            "doc_id",
            F.md5(F.translate("text", "аеο", "aeo")).alias("skel_hash"),
        )
        .groupBy("skel_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty of the TEST split against the TRAIN
    split — the memorization audit run before trusting eval numbers:
    a test document whose 8-grams mostly occur somewhere in training
    data measures recall, not generalization.  Complements
    :func:`decontaminate` (which flags train docs against a benchmark);
    this reports, per test doc, ``novelty_ppm = 1 − |grams ∩ train| /
    |grams|`` in exact ppm over DISTINCT grams.

    Splits come from the same salted-md5 buckets as
    :func:`train_split_assign` (no join — the bucket is a map-only
    column function of doc_id), grams from the shared
    ``_decon_frames`` stream (md5 over the space-joined token window).

    Scale shape (100 TB): the train-gram DISTINCT is the one big
    shuffle, inherent to gram-level containment (the decontamination
    job pays the same; a bloom prefilter built from the same hashes
    drops the exact join to candidates-only at extreme scale, same
    topology as :func:`decontaminate_bloom`).  The test side is ~1% of
    the corpus, the join is gram-keyed (never all-pairs), and the
    per-doc rollup is map-side combinable.

    Output: ``(doc_id, n_grams, n_seen, novelty_ppm)`` — test docs with
    at least one 8-gram."""
    _t, _bench, doc_grams = _decon_frames(spark, sf_dir)
    bucket = md5_bucket("split:", "doc_id", mod=1000)
    train_grams = (
        doc_grams.where(bucket < 980).select("g").distinct()
        .withColumn("seen", F.lit(1))
    )
    test_grams = doc_grams.where(bucket >= 990).select("doc_id", "g").distinct()
    return (
        test_grams.join(train_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce("seen", F.lit(0))).cast("long").alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen",
            F.expr(
                "(n_grams - n_seen) * 1000000 DIV n_grams"
            ).cast("long").alias("novelty_ppm"),
        )
    )


def cluster_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy over the duplicate clusters: instead of the
    min-id keeper (:func:`dedup_apply`'s rule), keep the HIGHEST-
    QUALITY member of each connected component — here the longest
    document, tie-broken by doc_id — the policy real curation
    pipelines use (keep the canonical/most-complete copy, drop the
    truncated mirrors).  Composes :func:`neardup_clusters` (the
    label-propagation components over exact+simhash edges) with a
    per-cluster argmax, so the cluster-formation output is consumed
    the way production consumes it.

    Scale shape: cluster labels are bounded by the duplicate-graph
    node count (≪ corpus); ONE join to fetch the quality scalar and
    one per-cluster window (clusters are shallow stars/chains — tiny
    partitions).  The corpus itself never re-shuffles.

    Output: ``(doc_id, cluster_id, cluster_size, n_chars,
    keeper_doc_id, is_keeper)`` for every clustered document."""
    from pyspark.sql.window import Window as _W

    labels = neardup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    q = labels.join(docs, "doc_id")
    w = _W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    keepers = (
        q.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("keeper_doc_id"))
    )
    return q.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.col("n_chars").cast("long").alias("n_chars"),
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
    )
