"""Similarity search over the ``embeddings`` table (``array<float>`` column).

- brute-force cosine top-k: the exact baseline — broadcast the (small) query
  set against the full corpus; per-pair math stays JVM-side via higher-order
  functions (zip_with/aggregate), no Python in the loop.
- LSH-bucketed ANN: random-hyperplane signatures as the scale path — each
  vector maps to a bit-bucket; candidate search touches only same-bucket
  rows.  Hyperplanes are derived deterministically from md5 so the bucket
  assignment itself is reproducible everywhere.

Scale: brute force is O(corpus × queries) but shuffle-free (queries
broadcast); the ANN variant turns that into O(corpus) bucketing + small
per-bucket joins — the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window

from extractor.fanout import fan_out_scan
from extractor.session import arrow_stage, local_frame

N_QUERIES = 5
TOP_K = 5
N_PLANES = 16


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _embedding_matrix(batch):
    """An Arrow batch's ``embedding`` column as an (n, dim) numpy matrix
    of its float32 values."""
    import numpy as np

    return np.stack(batch.column("embedding").to_numpy(zero_copy_only=False))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N query vectors.
    Query side is tiny -> broadcast nested-loop join, no shuffle of the
    corpus; ranking via window with deterministic tiebreak.  Scan
    fan-out: the per-pair higher-order dot/norm math is CPU-bound and the
    single-split embeddings table pins it to one task otherwise
    (extractor/fanout.py; measured 3.0 s -> 0.6 s at sf1.0)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    corpus = fan_out_scan(spark, emb, emb)
    pairs = corpus.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("embedding"), F.col("q")) / (
        _norm(F.col("embedding")) * _norm(F.col("q"))
    )
    scored = pairs.select(
        "query_id", "vec_id", F.round(cos, 4).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cosine")
    )


_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def lsh_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (vectorized numpy kernel,
    deterministic planes from md5(plane_idx, dim)).  Returns bucket sizes —
    the candidate-generation stage of ANN search.  Rows-only check (bit/
    float math not portable to the SQL oracle)."""
    emb = _emb(spark, sf_dir)

    def kernel(batch):
        import hashlib

        import numpy as np

        mat = _embedding_matrix(batch)  # (n, dim)
        rows = []
        for p in range(N_PLANES):
            seed = int.from_bytes(
                hashlib.md5(f"plane{p}".encode()).digest()[:8], "big"
            )
            rng = np.random.default_rng(seed)
            rows.append(rng.standard_normal(mat.shape[1]))
        planes = np.stack(rows)  # (P, dim)
        bits = (mat @ planes.T) > 0  # (n, P)
        weights = (1 << np.arange(N_PLANES, dtype=np.int64))
        return batch.column("vec_id"), (bits * weights).sum(axis=1)

    assignments = arrow_stage(
        emb.select("vec_id", "embedding"), kernel, _BUCKET_SCHEMA
    )
    return (
        assignments.groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
        .where(F.col("n_vectors") >= 1)
    )


ANN_TABLES = 40
ANN_PLANES = 5

_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("tbl", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _ann_planes(dim: int):
    """Deterministic hyperplanes for all tables: md5-seeded per (table,
    plane), identical on every executor/run."""
    import hashlib

    import numpy as np

    rows = []
    for tb in range(ANN_TABLES):
        for p in range(ANN_PLANES):
            seed = int.from_bytes(
                hashlib.md5(f"tbl{tb}:plane{p}".encode()).digest()[:8], "big"
            )
            rows.append(np.random.default_rng(seed).standard_normal(dim))
    return np.stack(rows)  # (T*P, dim)


def ann_assignments(emb: DataFrame, include_embedding: bool = True) -> DataFrame:
    """Each vector's bucket in each of the ANN_TABLES hash tables, one
    vectorized numpy pass (all T×P plane dots in a single matmul per Arrow
    batch).  Two index layouts, selected by *include_embedding*:

    * **inline** (True): (vec_id, tbl, bucket, embedding) — the embedding
      rides along so the candidate stage needs NO join back to the corpus.
      Storage = T× the corpus vectors (≈ dim×4 B × ANN_TABLES per vector
      raw).  Measured on the sf0.1 embeddings table (2 000 × dim-64
      float32, snappy parquet): 1.4 MB index — the classic LSH
      duplication, written once and reused by every query batch.  Right
      when dim is small or query batches are frequent (one join fewer
      per search).
    * **lean** (False): (vec_id, tbl, bucket) only — 0.1 MB for the same
      table (14× smaller measured; raw ratio = dim×4/16, so ~190× at
      dim 768).  Candidates resolve to vectors via ONE extra broadcast
      join of the (small) deduped candidate id set onto the unshuffled
      corpus.  Right at production dims, where duplicating embeddings
      40× is the dominant storage cost of the whole index.

    Same recall either way (bucketing is identical); ``ann_topk`` gates
    both layouts behind the ≥0.9 recall pytest and a no-corpus-shuffle
    plan test."""

    def kernel(batch):
        import numpy as np

        weights = (1 << np.arange(ANN_PLANES)).astype(np.int64)
        n = batch.num_rows
        mat = _embedding_matrix(batch)
        bits = (mat @ _ann_planes(mat.shape[1]).T) > 0  # (n, T*P)
        bits = bits.reshape(n, ANN_TABLES, ANN_PLANES)
        buckets = (bits * weights).sum(axis=2)  # (n, T)
        each_row = np.repeat(np.arange(n), ANN_TABLES)
        out = [
            batch.column("vec_id").take(each_row),
            np.tile(np.arange(ANN_TABLES, dtype=np.int32), n),
            buckets.astype(np.int32).ravel(),
        ]
        if include_embedding:
            out.append(batch.column("embedding").take(each_row))
        return out

    schema = (
        _ASSIGN_SCHEMA
        if include_embedding
        else T.StructType([f for f in _ASSIGN_SCHEMA if f.name != "embedding"])
    )
    return arrow_stage(emb.select("vec_id", "embedding"), kernel, schema)


def _rerank(cands: DataFrame) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, vec_id, embedding, q) candidate
    set: deterministic top-k per query."""
    cos = _dot(F.col("embedding"), F.col("q")) / (
        _norm(F.col("embedding")) * _norm(F.col("q"))
    )
    scored = cands.select("query_id", "vec_id", F.round(cos, 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def ann_topk(
    spark: SparkSession, sf_dir: str, index_layout: str = "inline"
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH candidate generation +
    exact-cosine re-rank — the completed ANN *search* (the round-1 module
    stopped at bucket sizes).

    Plan shape (the 100 TB path): the corpus-side assignment table never
    shuffles — the tiny query-side bucket list broadcasts onto it
    (bucket-local BroadcastHashJoin on (tbl, bucket)); only the candidate
    set (≪ corpus) reaches the dedup + re-rank stages.  Recall is tuned by
    ANN_TABLES (more tables → higher recall), candidate cost by ANN_PLANES
    (more planes → smaller buckets): on this corpus of near-uniform random
    vectors (top-5 cosine ≈ 0.3–0.4) 40×5 measures ≈96% recall@5 vs the
    exact scan (pytest-asserted ≥90%); on a real near-dup workload
    (cos ≥ 0.9) the same recall needs far fewer tables because collision
    probability per plane is 1 − θ/π.

    *index_layout* picks the assignment-table layout (see
    ``ann_assignments`` for the measured storage tradeoff): ``"inline"``
    duplicates the embedding into every table row (no corpus join at
    search time); ``"lean"`` stores vec_id-only rows and resolves the
    (small) deduped candidate set with one extra broadcast join onto the
    unshuffled corpus — the layout for production dims.  Identical
    recall; both layouts pass the same recall + plan gates.

    Rows-only check: ANN is approximate by construction (its accuracy gate
    is the recall test against ``cosine_topk``, not a SQL oracle).

    NOT fanned out (round-6 optimization): the streamed-spine plan gate
    (tests/test_similarity_ann.py) certifies the corpus side reaches the
    join with ZERO exchange — the 100 TB contract this entry exists to
    pin — and that gate outranks the small-data single-split win."""
    emb = _emb(spark, sf_dir)
    if index_layout == "inline":
        assign = ann_assignments(emb)
        queries = (
            assign.where(F.col("vec_id") < N_QUERIES)
            .select(
                F.col("vec_id").alias("query_id"),
                "tbl",
                "bucket",
                F.col("embedding").alias("q"),
            )
        )
        cands = (
            assign.join(F.broadcast(queries), ["tbl", "bucket"])
            .where(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")  # dedup multi-table collisions
            .agg(F.first("embedding").alias("embedding"), F.first("q").alias("q"))
        )
        return _rerank(cands)
    # lean layout: index rows carry no embedding; the candidate id set
    # (<= queries x tables x bucket size, after dedup) broadcasts onto the
    # unshuffled corpus for vector resolution, then the tiny query vectors
    # broadcast on top
    assign = ann_assignments(emb, include_embedding=False)
    q_buckets = ann_assignments(
        emb.where(F.col("vec_id") < N_QUERIES), include_embedding=False
    ).select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    cand_ids = (
        assign.join(F.broadcast(q_buckets), ["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q_vecs = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    cands = emb.select("vec_id", "embedding").join(
        F.broadcast(cand_ids), "vec_id"
    ).join(F.broadcast(q_vecs), "query_id")
    return _rerank(cands)


IVF_CELLS = 8
IVF_NPROBE = 4


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the second scale path beside LSH
    (``ann_topk``): a coarse quantizer assigns every vector to its nearest
    centroid cell; a query probes its IVF_NPROBE nearest cells and exact-
    cosine re-ranks only those cells' vectors.

    Centroids are the first IVF_CELLS corpus vectors — deterministic, no
    training step (k-means would tighten cells but needs iterations; at
    10^12 scale you'd train on a sample once and broadcast, exactly as
    here).  The centroid pull to the driver is O(IVF_CELLS × dim) — bounded
    by the quantizer size, never the corpus.

    Plan: cell assignment is one numpy matmul per Arrow batch (map-only);
    the query-side (query_id, cell) list broadcasts onto it — cell-local
    BroadcastHashJoin, corpus never shuffles.  Scan fraction ≈
    IVF_NPROBE / IVF_CELLS, tuned against recall (measured ≥0.9 recall@5
    vs the exact scan on this corpus; pytest-gated).  Rows-only check
    (approximate by design)."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    cent_rows = (
        emb.where(F.col("vec_id") < IVF_CELLS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cents = np.stack([np.array(r["embedding"], dtype=np.float64) for r in cent_rows])
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    assign_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def assign_kernel(batch):
        mat = _embedding_matrix(batch).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cells = (mat @ cents.T).argmax(axis=1).astype(np.int32)
        return batch.column("vec_id"), cells, batch.column("embedding")

    assign = arrow_stage(
        emb.select("vec_id", "embedding"), assign_kernel, assign_schema
    )

    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("q", T.ArrayType(T.FloatType())),
        ]
    )

    def probe_kernel(batch):
        mat = _embedding_matrix(batch).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        order = np.argsort(-(mat @ cents.T), axis=1)[:, :IVF_NPROBE]
        each_row = np.repeat(np.arange(batch.num_rows), IVF_NPROBE)
        return (
            batch.column("vec_id").take(each_row),
            order.astype(np.int32).ravel(),
            batch.column("embedding").take(each_row),
        )

    queries = arrow_stage(
        emb.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding"),
        probe_kernel,
        probe_schema,
    )
    cands = (
        assign.join(F.broadcast(queries), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    return _rerank(cands)


def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection for adjacent id pairs —
    the linear oracle-able variant (scale path = lsh_ann_buckets candidates)."""
    emb = _emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
    )
    joined = a.join(b, "id_a")
    cos = _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb")))
    return joined.select(
        "id_a",
        "id_b",
        F.round(cos, 4).alias("cosine"),
        (cos >= 0.95).alias("is_near_dup"),
    )


KMEANS_K = 8  # clusters
KMEANS_ITERS = 5  # Lloyd rounds at most


def kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus — topic-style
    clustering without MLlib, the iterative-NUMERIC sibling of the
    iterative-graph connected components (``dedup._cc_two_phase``).

    Per round: (1) assignment + per-batch PARTIAL centroid sums happen in
    one Arrow kernel pass (numpy matmul against the broadcast centroid
    matrix — map-only, the corpus never shuffles and no per-vector rows
    leave the executors); (2) the kernel emits ≤ k rows per Arrow batch
    (cluster, [count | dim-sums]) which a map-side-combined
    groupBy(cluster, dim) reduces to exactly k × (dim+1) scalars before
    anything reaches the driver; (3) the driver
    materializes only the k×dim centroid matrix (same bounded-collect
    contract as the IVF quantizer).  Deterministic: init = first k
    vectors, fixed iteration count, argmin ties to the lowest cluster id.

    Approximate-by-design (no SQL oracle); the pytest contract asserts
    monotone inertia decrease, assignment-centroid consistency, and
    determinism across runs."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    # seed = first k rows by vec_id ORDER (not `vec_id < k`, which silently
    # under-seeds on sparse/non-0-based ids); bounded collect of k rows
    cent_rows = (
        emb.orderBy("vec_id").limit(KMEANS_K).select("embedding").collect()
    )
    if len(cent_rows) < KMEANS_K:
        raise ValueError(
            f"kmeans_topics needs >= k={KMEANS_K} embeddings, found {len(cent_rows)}"
        )
    cents = np.stack([np.array(r["embedding"], dtype=np.float64) for r in cent_rows])

    assign_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("sq_dist", T.DoubleType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def make_assign(cmat):
        def assign(batch):
            mat = _embedding_matrix(batch).astype(np.float64)
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin ties -> lowest id
            d2 = (
                (mat * mat).sum(axis=1, keepdims=True)
                - 2.0 * (mat @ cmat.T)
                + (cmat * cmat).sum(axis=1)
            )
            return (
                batch.column("vec_id"),
                d2.argmin(axis=1).astype("int32"),
                d2.min(axis=1),
                batch.column("embedding"),
            )

        return assign

    partial_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            # slot 0 = count, slots 1..dim = dimension sums
            T.StructField("acc", T.ArrayType(T.DoubleType())),
        ]
    )

    def make_partials(cmat):
        def partials(batch):
            mat = _embedding_matrix(batch).astype(np.float64)
            d2 = (
                (mat * mat).sum(axis=1, keepdims=True)
                - 2.0 * (mat @ cmat.T)
                + (cmat * cmat).sum(axis=1)
            )
            a = d2.argmin(axis=1)
            clusters = np.unique(a)
            return clusters.astype(np.int32), [
                [float((a == c).sum())] + mat[a == c].sum(axis=0).tolist()
                for c in clusters
            ]

        return partials

    for _ in range(KMEANS_ITERS):
        # kernel emits <= k partial rows per Arrow batch; a map-side-
        # combined (cluster, slot) sum reduces them to k*(dim+1) scalars
        sums = (
            arrow_stage(
                emb.select("vec_id", "embedding"),
                make_partials(cents),
                partial_schema,
            )
            .select("cluster", F.posexplode("acc").alias("slot", "v"))
            .groupBy("cluster", "slot")
            .agg(F.sum("v").alias("s"))
            .collect()
        )
        acc: dict[int, np.ndarray] = {}
        for r in sums:
            acc.setdefault(r["cluster"], np.zeros(cents.shape[1] + 1))[
                r["slot"]
            ] = r["s"]
        new_cents = cents.copy()
        for c, vec in acc.items():
            if vec[0]:
                new_cents[c] = vec[1:] / vec[0]
        if np.allclose(new_cents, cents):
            break
        cents = new_cents

    final = arrow_stage(
        emb.select("vec_id", "embedding"), make_assign(cents), assign_schema
    )
    return final.select(
        "vec_id", "cluster", F.round(F.col("sq_dist"), 6).alias("sq_dist")
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the compression
    step every large vector store applies before ANN serving (4× smaller
    than float32, SIMD int8 dot products): ``scale = 127 / max|x_i|``,
    ``q_i = round(x_i * scale)``.  Returned as ``scale_micro`` (scale in
    integer micro-units) and the comma-joined int8 codes, so the output
    is integer/string-exact and hash-checkable against an independent
    engine — the same exact-integer oracle pattern as PageRank/BM25
    (per-element rounding is per-row-deterministic float64; no float
    crosses an aggregate or the output boundary).

    Scale shape (100 TB): map-only — a single projection of codegen'd
    higher-order functions (``transform``/``array_max``) over the
    unshuffled corpus; no Python, no join, no shuffle, no collect.
    All-zero vectors take the ``scale = 0`` branch (codes all zero)
    instead of dividing by zero."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    s = e.select("vec_id", "embedding", scale.alias("scale"))
    q = F.transform(
        "embedding",
        lambda x: F.round(x * F.col("scale")).cast("int").cast("string"),
    )
    return s.select(
        "vec_id",
        F.round(F.col("scale") * F.lit(1_000_000)).cast("long").alias(
            "scale_micro"
        ),
        F.array_join(q, ",").alias("q_codes"),
    )


RRF_K = 60          # standard reciprocal-rank-fusion damping constant
RRF_LIST_K = 50     # depth of each input ranking
RRF_TOP = 20        # fused results returned
RRF_QUERY_ID = 0    # vec_id whose embedding is the semantic query


def quantized_dot_ranking(emb: DataFrame) -> DataFrame:
    """Semantic ranking with EXACT-INTEGER scores: both corpus vectors
    and the query vector go through the :func:`embedding_quantize_int8`
    transform (symmetric per-vector int8, ``round(x · 127/max|x|)``),
    and the score is the int8×int8 dot product — pure long arithmetic,
    so the ranking hash-matches an independent engine bit-for-bit
    (the float cosine ranking can't).  This is also how production
    vector stores actually score at scale: SIMD int8 dot products over
    quantized codes, floats never touching the hot loop.

    Output: ``(vec_id, dot_q, rank_sem)`` — top-``RRF_LIST_K`` by (dot desc,
    vec_id asc).

    Plan: quantization is a map-only HOF projection; the 1-row query
    vector cross-joins (broadcast) onto the unshuffled corpus; the
    top-k is TakeOrderedAndProject; the rank window sorts ``RRF_LIST_K`` rows,
    never the corpus."""
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x * scale).cast("int"),
        ).alias("q_codes"),
    )
    query = q.where(F.col("vec_id") == RRF_QUERY_ID).select(
        F.col("q_codes").alias("p_codes")
    )
    dot = F.aggregate(
        F.zip_with(
            "q_codes", "p_codes", lambda a, b: (a * b).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    top = (
        q.crossJoin(F.broadcast(query))
        .select("vec_id", dot.alias("dot_q"))
        .orderBy(F.desc("dot_q"), "vec_id")
        .limit(RRF_LIST_K)
    )
    return top.withColumn(
        "rank_sem",
        F.row_number().over(Window.orderBy(F.desc("dot_q"), "vec_id")),
    )


def rrf_fuse(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher) of a lexical and
    a semantic ranking — the standard hybrid-retrieval combiner (every
    BM25+vector search stack ships exactly this).  Score =
    Σ ⌊10⁹ / (k + rank)⌋ over the lists containing the doc, in integer
    NANO-units via floor division, so fusion is exact long arithmetic
    end-to-end (the same oracle-exactness trick as BM25's micro-units,
    one step stronger: not even a deterministic float is needed).
    A doc missing from one list contributes 0 from it (rank reported
    as 0).

    Input contracts: *lex* has ``(doc_id, rank_lex)``, *sem* has
    ``(vec_id, rank_sem)``; ids share a domain.

    Plan: a full outer join of two ≤ list-k row relations (broadcast;
    both inputs are already top-k's), then a top-``RRF_TOP`` sort of ≤ 2k
    rows — the fusion stage costs nothing regardless of corpus size;
    all the scale lives in the two input rankings."""
    fused = lex.select(
        F.col("doc_id").alias("id"), "rank_lex"
    ).join(
        sem.select(F.col("vec_id").alias("id"), "rank_sem"),
        "id",
        "full_outer",
    )
    contrib = (
        F.when(
            F.col("rank_lex").isNotNull(),
            F.expr(f"1000000000 DIV (CAST({RRF_K} AS BIGINT) + rank_lex)"),
        ).otherwise(F.lit(0).cast("long"))
        + F.when(
            F.col("rank_sem").isNotNull(),
            F.expr(f"1000000000 DIV (CAST({RRF_K} AS BIGINT) + rank_sem)"),
        ).otherwise(F.lit(0).cast("long"))
    )
    return (
        fused.select(
            F.col("id").alias("doc_id"),
            F.coalesce("rank_lex", F.lit(0)).cast("long").alias("rank_lex"),
            F.coalesce("rank_sem", F.lit(0)).cast("long").alias("rank_sem"),
            contrib.cast("long").alias("rrf_nano"),
        )
        .orderBy(F.desc("rrf_nano"), "doc_id")
        .limit(RRF_TOP)
    )


def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-50 ⊕ int8-dot semantic top-50,
    fused by reciprocal rank.  See :func:`rrf_fuse` for semantics and
    the exact-integer oracle story."""
    from extractor.ops import textops

    lex = textops.bm25_topk(spark, sf_dir, k=RRF_LIST_K).withColumn(
        "rank_lex",
        F.row_number().over(Window.orderBy(F.desc("bm25_micro"), "doc_id")),
    )
    emb = _emb(spark, sf_dir)
    # the int8 quantize + dot HOFs are CPU-bound; fan out the starved scan
    sem = quantized_dot_ranking(fan_out_scan(spark, emb, emb))
    return rrf_fuse(lex, sem)


SEMDEDUP_THR_MILLI = 950        # cosine threshold, milli-units (0.95)
SEMDEDUP_SIGN_IDX = (1, 17, 33, 49)  # 1-based axis-plane coordinates


def semdedup_assign(emb: DataFrame) -> DataFrame:
    """Cell assignment for :func:`semdedup_prune`: int8-quantize each
    vector (the :func:`embedding_quantize_int8` formula) and bucket it
    by the SIGN BITS of fixed coordinates — axis-aligned hyperplane
    LSH, the engine-reproducible stand-in for SemDeDup's k-means cells
    (production runs :func:`kmeans_topics` centroids here; signs of
    quantized coordinates give the same cell-scoped topology with zero
    float ambiguity, so the whole operator stays oracle-exact).

    Output: ``(vec_id, qcodes array<int>, n2 bigint, cell int)`` where
    ``n2 = Σ q_i²`` (the exact squared norm of the quantized vector).
    Map-only; no shuffle."""
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x * scale).cast("int")
        ).alias("qcodes"),
    )
    n2 = F.aggregate(
        F.transform("qcodes", lambda x: (x.cast("long") * x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cell = None
    for bit, idx in enumerate(SEMDEDUP_SIGN_IDX):
        term = F.when(
            F.element_at("qcodes", idx) >= 0, F.lit(1 << bit)
        ).otherwise(F.lit(0))
        cell = term if cell is None else cell + term
    return q.select(
        "vec_id", "qcodes", n2.alias("n2"), cell.cast("int").alias("cell")
    )


def planted_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with deterministic semantic duplicates
    planted for :func:`semdedup_prune` to find (the test embeddings are
    random, so no natural pair clears 0.95 cosine): rows whose md5
    first hex digit is < '4' (~25%) take the embedding of their
    group-canonical row (``vec_id − vec_id % 5``) verbatim — exact
    copies, cosine 1, same quantization cell by construction.  Same
    planted-reality pattern as ``convops.derived_transcripts_shared``;
    DuckDB mirror lives in the ``semdedup_prune`` oracle CTE."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    src = e.select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("src_emb")
    )
    return (
        e.withColumn(
            "src_id", F.col("vec_id") - F.pmod(F.col("vec_id"), F.lit(5))
        )
        .join(src, "src_id")
        .select(
            "vec_id",
            F.when(
                F.expr(
                    "substr(md5(CAST(CAST(vec_id AS STRING) AS BINARY)),"
                    " 1, 1) < '4'"
                ),
                F.col("src_emb"),
            )
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )


def semdedup_core(emb: DataFrame) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by pruning,
    within each embedding-space cell, every vector whose cosine to a
    LOWER-id cell-mate clears the threshold — the min-id representative
    of each semantic duplicate group survives.  This is the
    embedding-level complement of MinHash dedup: paraphrases and
    re-encodings that share no n-grams still collapse.

    EXACT-INTEGER cosine test: with int8 codes q, p and squared norms
    n2_q, n2_p (all exact bigints), ``cos(q,p) ≥ thr`` (thr in
    milli-units) ⇔ ``dot > 0 AND dot²·10⁶ ≥ thr²·n2_q·n2_p`` — squaring
    clears both square roots, so no float exists anywhere and the
    verdicts hash-match an independent engine.  Bounds: dot ≤ 64·127²
    ≈ 1.04e6, so dot²·10⁶ ≤ 1.1e18 and thr²·n2·n2 ≤ 9.8e17 — both
    inside int64.

    Output: one row per vector, ``(vec_id, cell, n2, kept)``.

    Scale shape (100 TB): assignment is map-only; the pair search is a
    self-equi-join ON CELL (hash-partitioned by cell — never all-pairs;
    widen ``SEMDEDUP_SIGN_IDX`` so expected cell size stays bounded as the
    corpus grows, exactly how SemDeDup scales k with corpus size);
    the prune applies via one distinct + left anti-style join keyed on
    vec_id.  Skewed mega-cells split under AQE; a production run salts
    the join or caps cells like ``conversation_minhash_pairs``."""
    qc = semdedup_assign(emb)
    a = qc.select(
        F.col("vec_id").alias("va"), F.col("qcodes").alias("qa"),
        F.col("n2").alias("n2a"), "cell",
    )
    b = qc.select(
        F.col("vec_id").alias("vb"), F.col("qcodes").alias("qb"),
        F.col("n2").alias("n2b"), "cell",
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    thr2 = SEMDEDUP_THR_MILLI * SEMDEDUP_THR_MILLI
    pruned = (
        a.join(b, "cell")
        .where(F.col("va") < F.col("vb"))
        .select("vb", dot.alias("dot"), "n2a", "n2b")
        .where(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * F.lit(1_000_000)
                >= F.lit(thr2) * F.col("n2a") * F.col("n2b")
            )
        )
        .select("vb")
        .distinct()
    )
    return (
        qc.join(pruned, qc.vec_id == pruned.vb, "left")
        .select(
            "vec_id",
            "cell",
            "n2",
            F.when(F.col("vb").isNull(), 1).otherwise(0)
            .cast("int")
            .alias("kept"),
        )
    )


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`semdedup_core` over the planted-duplicate view — see
    :func:`planted_dup_embeddings` for why the test corpus needs
    planting.  The planted view inherits the starved scan layout, so it
    is fanned out before the quantize/cell/pair stages."""
    planted = planted_dup_embeddings(spark, sf_dir)
    planted = fan_out_scan(spark, planted, _emb(spark, sf_dir))
    return semdedup_core(planted)


CONV_MOD = 40  # vec_id → conv_id mapping, aligned with the dtr view


def conv_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level → conversation-level embedding pooling: element-wise
    SUM of each conversation's int8-quantized turn embeddings (the
    ``vec_id % 40`` conversation axis, aligned with the derived
    transcript view) — the aggregation a conversation-retrieval /
    episode-clustering stack runs to get one vector per episode.  Sum
    pooling over int8 codes keeps every lane an exact bigint (mean
    pooling would put a float division in the output; consumers divide
    by ``n_vecs`` themselves), so the pooled vectors are
    engine-reproducible bit for bit.

    Output: ``(conv_id, n_vecs, pooled, l1)`` — pooled as the
    comma-joined lane sums, l1 = Σ|lane| as a magnitude fingerprint.

    Scale shape (10^12 turns): posexplode fans each vector into dim
    rows, then ONE (conv, lane) aggregate — fully map-side combinable,
    so the shuffle carries conversations×dim partial rows, not
    turns×dim; the re-assembly collect is dim-bounded (64 structs per
    conversation), never turn-bounded.  This beats the
    zip_with-over-collect_list alternative, whose per-conversation
    list is unbounded on 100k-turn conversations."""
    emb = _emb(spark, sf_dir)
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    qc = emb.select(
        F.pmod(F.col("vec_id"), F.lit(CONV_MOD)).alias("conv_id"),
        F.transform(
            "embedding", lambda x: F.round(x * scale).cast("int")
        ).alias("qcodes"),
    )
    lanes = qc.select(
        "conv_id", F.posexplode("qcodes").alias("pos", "qv")
    )
    s = lanes.groupBy("conv_id", "pos").agg(
        F.sum("qv").cast("long").alias("sv"),
        F.count(F.lit(1)).alias("c"),
    )
    return s.groupBy("conv_id").agg(
        F.max("c").cast("long").alias("n_vecs"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "sv"))),
                lambda v: v["sv"].cast("string"),
            ),
            ",",
        ).alias("pooled"),
        F.sum(F.abs(F.col("sv"))).cast("long").alias("l1"),
    )


def conv_offtopic_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-topic turn detection: inside each conversation, the turn
    whose int8-quantized embedding is LEAST aligned with the rest of
    the episode — scored by the leave-one-out dot ``q·(S − q) =
    q·S − ‖q‖²`` against the pooled lane-sum vector S of
    :func:`conv_embedding_pool`.  This is the curation op that flags
    derailed/injected turns (wrong-conversation stitches, prompt
    contamination) before episode-level training; subtracting the
    turn's own contribution keeps a conversation's sole outlier from
    hiding inside its own centroid.  Every quantity is an exact
    bigint, so the flagged turn is engine-reproducible even on ties
    (min struct (score, vec_id)).

    Output: one row per multi-turn conversation:
    ``(conv_id, n_vecs, outlier_vec, rel_dot)``.

    Scale shape: the pooled-S relation is conversations×dim partials
    (see conv_embedding_pool); S re-joins the turn stream keyed on
    conv_id — the extraction partitioning — and the scoring is a
    map-only zip_with; the final argmin is one conv-keyed min-struct
    aggregate."""
    emb = _emb(spark, sf_dir)
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    qc = emb.select(
        "vec_id",
        F.pmod(F.col("vec_id"), F.lit(CONV_MOD)).alias("conv_id"),
        F.transform(
            "embedding", lambda x: F.round(x * scale).cast("int")
        ).alias("qcodes"),
    )
    lanes = qc.select("conv_id", F.posexplode("qcodes").alias("pos", "qv"))
    pooled = (
        lanes.groupBy("conv_id", "pos")
        .agg(F.sum("qv").cast("long").alias("sv"))
        .groupBy("conv_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "sv"))),
                lambda v: v["sv"],
            ).alias("s_arr")
        )
    )
    dot_s = F.aggregate(
        F.zip_with("qcodes", "s_arr", lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = F.aggregate(
        F.transform("qcodes", lambda x: x.cast("long") * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = qc.join(pooled, "conv_id").select(
        "conv_id", "vec_id", (dot_s - n2).alias("rel")
    )
    return (
        scored.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min(F.struct("rel", "vec_id")).alias("lo"),
        )
        .where(F.col("n_vecs") >= 2)
        .select(
            "conv_id",
            "n_vecs",
            F.col("lo.vec_id").alias("outlier_vec"),
            F.col("lo.rel").alias("rel_dot"),
        )
    )


MRL_QUERIES = 5     # vec_ids 0..4 serve as the evaluation query set
MRL_K = 20          # retrieval depth compared between the two dims
MRL_FRACTION = 4    # truncated serving dim = full dim / 4 (64 -> 16)


def matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-embedding truncation evaluation (Kusupati et al.
    2022): how much retrieval quality survives serving the FIRST
    ``dim/4`` coordinates instead of the full vector — the standard
    accept/reject gate before flipping a vector store to truncated
    (4× cheaper) MRL serving.  For each query in a fixed 5-query set,
    rank the corpus by exact int8 dot at full dim and at the prefix
    dim, and report top-20 overlap / recall in basis points.

    Exactness: both rankings reuse the :func:`embedding_quantize_int8`
    transform (scale from the FULL vector, so truncation only shortens
    the summation) and int8×int8 long dots — no float crosses the
    output, the DuckDB oracle hash-matches bit for bit.

    Plan (100 TB): quantization is map-only; the 5-row query set
    broadcasts onto the unshuffled corpus; both dots come out of ONE
    pass over the pairs; the two per-query top-20s are rank-filter
    windows Spark rewrites to WindowGroupLimit (map-side partial
    top-k, only ~k·queries rows per task reach the exchange); the
    final overlap join touches ≤ 100-row relations.
    """
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x * scale).cast("int")
        ).alias("q_codes"),
    )
    queries = q.where(F.col("vec_id") < MRL_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q_codes").alias("p_codes")
    )

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    trunc = F.expr(f"size(q_codes) DIV {MRL_FRACTION}")
    pairs = (
        q.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _dot("q_codes", "p_codes").alias("dot_full"),
            _dot(
                F.slice("q_codes", F.lit(1), trunc),
                F.slice("p_codes", F.lit(1), trunc),
            ).alias("dot_trunc"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("dot_full"), "vec_id"
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("dot_trunc"), "vec_id"
    )
    top_full = (
        pairs.withColumn("r", F.row_number().over(w_full))
        .where(F.col("r") <= MRL_K)
        .select("query_id", "vec_id")
    )
    top_trunc = (
        pairs.withColumn("r", F.row_number().over(w_trunc))
        .where(F.col("r") <= MRL_K)
        .select("query_id", "vec_id")
    )
    return (
        top_full.join(
            top_trunc.withColumn("hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_overlap")
        )
        .select(
            "query_id",
            F.lit(MRL_K).cast("long").alias("k"),
            "n_overlap",
            F.expr(f"n_overlap * 10000 DIV {MRL_K}").cast("long").alias(
                "recall_bp"
            ),
        )
    )


def _int8_codes(emb: DataFrame, *extra: str) -> DataFrame:
    """``(vec_id, *extra, q_codes)`` with the
    :func:`embedding_quantize_int8` transform applied as an int-array
    column — the ONE definition of the int8 scoring codes shared by
    the MaxSim / hard-negative / coreset ops (nine inline copies of
    this snippet predated it; new ops must use the helper so a
    quantization-rule change is a one-place edit)."""
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    return emb.select(
        "vec_id",
        *extra,
        F.transform(
            "embedding", lambda x: F.round(x * scale).cast("int")
        ).alias("q_codes"),
    )


# --------------------------------------------------- ColBERT-style MaxSim

CB_TOKS_PER_DOC = 10   # contiguous vec_id blocks form a pseudo-document
CB_QUERY_DOC = 0       # whose token vectors are the query
CB_TOP = 10


def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT, Khattab & Zaharia 2020):
    documents and queries are BAGS of token vectors, and the relevance
    score is MaxSim — for every query token take the best-matching
    document token, then sum: ``score(q,d) = Σ_i max_j  q_i · d_j``.
    This is the retrieval operator single-vector cosine top-k can't
    express (it preserves token-level matching), and the one multi-
    vector stores (PLAID, Vespa, Lucene 9 joins) implement natively.

    Token vectors are modeled on the embeddings table: contiguous
    ``CB_TOKS_PER_DOC`` blocks of ``vec_id`` form a pseudo-document (the
    same deterministic grouping device as ``conv_embedding_pool``'s
    conversation axis).  Scoring runs over
    :func:`embedding_quantize_int8` codes, so every dot product is
    pure int8×int8 → BIGINT — exact, hash-checkable cross-engine, and
    exactly how production multi-vector stores score (SIMD int8).

    Scale shape (100 TB): quantization is a map-only HOF projection of
    the UNSHUFFLED corpus token table; the query's ≤``CB_TOKS_PER_DOC``
    token rows broadcast onto it (nested-loop of corpus × |Q|, the
    irreducible MaxSim work); the per-(doc, query-token) max and the
    per-doc sum are both map-side-combinable aggregates whose shuffle
    carries ≤ docs × |Q| partial rows — never token-pair rows; top-k is
    TakeOrderedAndProject.  A real deployment prepends an ANN candidate
    stage (``ann_topk``) so the broadcast hits candidates, not the full
    corpus — the scoring plan is identical.

    Output: ``(doc_id, n_qtok, maxsim)`` — top-``CB_TOP`` by (maxsim desc,
    doc_id)."""
    toks = _int8_codes(_emb(spark, sf_dir)).select(
        F.expr(f"vec_id DIV {CB_TOKS_PER_DOC}").alias("doc_id"),
        F.col("vec_id").alias("tok_id"),
        "q_codes",
    )
    qtoks = toks.where(F.col("doc_id") == CB_QUERY_DOC).select(
        F.col("tok_id").alias("q_tok"), F.col("q_codes").alias("p_codes")
    )
    dot = F.aggregate(
        F.zip_with("q_codes", "p_codes", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = (
        toks.crossJoin(F.broadcast(qtoks))
        .select("doc_id", "q_tok", dot.alias("dot_q"))
        .groupBy("doc_id", "q_tok")
        .agg(F.max("dot_q").alias("best"))
    )
    return (
        best.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_qtok"),
            F.sum("best").cast("long").alias("maxsim"),
        )
        .orderBy(F.desc("maxsim"), "doc_id")
        .limit(CB_TOP)
    )


HN_QUERIES = 5  # vec_ids whose embeddings act as anchors
HN_K = 5        # hard negatives returned per anchor


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor vector, the top-k most-similar vectors with a
    DIFFERENT label — the negatives that actually move a contrastive
    loss (random negatives are trivially separable; the hard ones sit
    just across the decision boundary).  The standard prep step for
    dual-encoder / dense-retriever fine-tuning (DPR, SimCSE).

    Scoring is the exact int8×int8 dot over
    :func:`embedding_quantize_int8` codes — pure bigint, hash-checkable
    cross-engine, and the production scoring path.

    Scale shape: the anchor set (≤ ``HN_QUERIES`` rows) broadcasts onto
    the UNSHUFFLED quantized corpus; the label-mismatch predicate rides
    the join; per-anchor top-k is a WindowGroupLimit on the
    (anchor-keyed) ranked stream — the corpus never shuffles.  At
    10^9+ vectors, prepend the ANN candidate stage (``ann_topk``) so
    the broadcast hits candidates only; the mining plan is unchanged.

    Output: ``(query_id, vec_id, dot_q, rank)`` — k rows per anchor."""
    codes = _int8_codes(_emb(spark, sf_dir), "label")
    anchors = codes.where(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("q_codes").alias("p_codes"),
    )
    dot = F.aggregate(
        F.zip_with("q_codes", "p_codes", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.join(
            F.broadcast(anchors), F.col("label") != F.col("q_label")
        )
        .select("query_id", "vec_id", dot.alias("dot_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= HN_K)
        .select(
            "query_id",
            "vec_id",
            "dot_q",
            F.col("rank").cast("long").alias("rank"),
        )
    )


KC_K = 6  # coreset size (seed + 5 greedy picks)


def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the diversity
    data-pruning strategy of Sener & Savarese 2018): repeatedly pick
    the point FARTHEST from everything already chosen — the k points
    that best cover the embedding space, the opposite selection
    pressure from SemDeDup's redundancy prune.  The 2-approximation
    guarantee of the greedy rule is what makes it the standard
    coreset baseline.

    Distances are exact-integer squared L2 over
    :func:`embedding_quantize_int8` codes (bigint throughout), seeded
    at vec_id 0, ties to the smaller vec_id — fully
    engine-reproducible.

    Scale shape: k−1 rounds, each ONE map-only scan of the unshuffled
    corpus (the chosen codes ride as literals — dim×k ints, the
    k-means broadcast contract) + a TakeOrderedAndProject argmax;
    driver state is k code vectors.  At 10^9+ vectors swap in the
    sample-then-select variant — the per-round plan is identical.

    Output: ``(round, vec_id, min_dist2)`` — min_dist2 is the point's
    distance to the previously-chosen set at selection time (0 for
    the seed); the sequence is non-increasing after round 1 (greedy
    invariant, pytest-pinned)."""
    codes = _int8_codes(_emb(spark, sf_dir)).persist()

    def dist2_to(lit_codes):
        arr = F.array(*[F.lit(int(v)) for v in lit_codes])
        return F.aggregate(
            F.zip_with(
                "q_codes", arr, lambda a, b: ((a - b) * (a - b)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    seed = codes.where(F.col("vec_id") == 0).collect()[0]
    sel = [(0, 0, 0)]
    chosen_codes = [seed["q_codes"]]
    for r in range(1, KC_K):
        mind = dist2_to(chosen_codes[0])
        for c in chosen_codes[1:]:
            mind = F.least(mind, dist2_to(c))
        top = (
            codes.select("vec_id", "q_codes", mind.alias("d"))
            .orderBy(F.desc("d"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        sel.append((r, top["vec_id"], top["d"]))
        chosen_codes.append(top["q_codes"])
    codes.unpersist()
    return local_frame(
        spark, sel, T.StructType.fromDDL("round long, vec_id long, min_dist2 long")
    )
