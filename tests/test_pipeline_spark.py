"""Kernel ≡ pipeline equivalence + partitioning/ordering invariants
(SURVEY.md §5.2, §5.5): the distribution layer must never change text."""

import pytest

from extractor.kernel import convert_text
from extractor.pipeline import extract_transcripts, lineage_manifest
from extractor.transcripts import generate_conversation, transcripts_df

N_CONVS = 40
MEAN_TURNS = 10
SEED = 42


def _expected_rows():
    expected = {}
    for conv_index in range(N_CONVS):
        for conv_id, turn_idx, role, text, tool, ts in generate_conversation(
            SEED, conv_index, MEAN_TURNS
        ):
            r = convert_text(text)
            expected[(conv_id, turn_idx)] = (r.extracted_text, r.error)
    return expected


@pytest.fixture(scope="module")
def expected():
    return _expected_rows()


@pytest.mark.parametrize("mode", ["map_only", "hash_conv"])
def test_pipeline_matches_kernel(spark, expected, mode):
    df = transcripts_df(spark, n_convs=N_CONVS, mean_turns=MEAN_TURNS, seed=SEED)
    out = extract_transcripts(
        df, partition_mode=mode, salt_threshold=30, salt_buckets=4
    ).collect()
    assert len(out) == len(expected)
    for row in out:
        exp_text, exp_err = expected[(row["conv_id"], row["turn_idx"])]
        assert row["extracted_text"] == exp_text, (row["conv_id"], row["turn_idx"])
        assert row["error"] == exp_err


def test_output_sorted_within_conversations(spark):
    df = transcripts_df(spark, n_convs=N_CONVS, mean_turns=MEAN_TURNS, seed=SEED)
    out = extract_transcripts(df, partition_mode="hash_conv", salt_threshold=30)
    # Within every Spark output partition, rows are clustered by conv_id and
    # sorted by turn_idx (stable secondary sort under salting).
    def check(iterator):
        prev = None
        seen_convs = set()
        for row in iterator:
            key = (row.conv_id, row.turn_idx)
            if prev is None or row.conv_id != prev[0]:
                assert row.conv_id not in seen_convs, "conv split within partition"
                seen_convs.add(row.conv_id)
            else:
                assert row.turn_idx > prev[1], f"order broken at {key}"
            prev = key
        return iter([len(seen_convs)])

    totals = out.rdd.mapPartitions(check).collect()
    assert sum(totals) == N_CONVS


def test_determinism_across_parallelism(spark, expected):
    """Same input, different partitioning → identical result set."""
    df = transcripts_df(spark, n_convs=N_CONVS, mean_turns=MEAN_TURNS, seed=SEED)
    a = extract_transcripts(df.repartition(2), partition_mode="map_only")
    b = extract_transcripts(df.repartition(16), partition_mode="hash_conv",
                            salt_threshold=20, salt_buckets=8)
    key = lambda r: (r["conv_id"], r["turn_idx"])
    rows_a = sorted(
        ((r["conv_id"], r["turn_idx"], r["extracted_text"], r["error"]) for r in a.collect())
    )
    rows_b = sorted(
        ((r["conv_id"], r["turn_idx"], r["extracted_text"], r["error"]) for r in b.collect())
    )
    assert rows_a == rows_b


def test_lineage_manifest(spark):
    df = transcripts_df(spark, n_convs=N_CONVS, mean_turns=MEAN_TURNS, seed=SEED)
    out = extract_transcripts(df, sort_output=False)
    manifest = lineage_manifest(out).collect()
    assert manifest
    total_turns = sum(m["turns"] for m in manifest)
    assert total_turns == df.count()
    for m in manifest:
        assert m["kernel_secs"] >= 0
        assert 0.0 <= m["null_extraction_rate"] <= 1.0
    # The corpus includes NULL-text turns, so some nulls must be reported.
    assert sum(m["null_rows"] for m in manifest) > 0


def test_bytes_in_counts_code_points(spark):
    """``bytes_in`` is the input's length in code points, as Python
    ``len()`` counts it (a multi-byte and an astral-plane character count
    one each), and 0 for a NULL text."""
    texts = [None, "", "é", "\U0001F600", "a\U0001F600é"]
    df = spark.createDataFrame(
        [(f"c{i}", i, t) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, text string",
    )
    got = {
        r["turn_idx"]: r["bytes_in"]
        for r in extract_transcripts(df, sort_output=False).collect()
    }
    assert got == {i: len(t or "") for i, t in enumerate(texts)}


def test_salting_splits_hot_conversations(spark):
    """A conversation above the salt threshold must actually spread across
    multiple kernel-stage partitions (the whole point of salting), while
    output ordering stays (conv_id, turn_idx)-stable."""
    from pyspark.sql import functions as F

    df = transcripts_df(spark, n_convs=60, mean_turns=20, seed=13)
    lengths = {r["conv_id"]: r["n"] for r in
               df.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    hot = [c for c, n in lengths.items() if n > 60]
    assert hot, "corpus must contain at least one hot conversation"

    out = extract_transcripts(
        df, partition_mode="hash_conv", salt_threshold=60, salt_buckets=4,
        sort_output=False,
    )
    spread = (
        out.groupBy("conv_id")
        .agg(F.countDistinct("part_id").alias("n_parts"))
        .collect()
    )
    spread = {r["conv_id"]: r["n_parts"] for r in spread}
    for c in hot:
        assert spread[c] > 1, f"hot conv {c} ({lengths[c]} turns) not split"
    # cold conversations stay on one partition (no gratuitous scatter)
    cold = [c for c, n in lengths.items() if n <= 60]
    single = sum(1 for c in cold if spread[c] == 1)
    assert single >= len(cold) * 0.9


def test_stitch_conversations(spark):
    from extractor.pipeline import stitch_conversations

    df = transcripts_df(spark, n_convs=20, mean_turns=8, seed=9)
    out = extract_transcripts(df, sort_output=False)
    stitched = {r["conv_id"]: r for r in stitch_conversations(out).collect()}
    assert len(stitched) == 20
    # order check: rebuild one conversation by hand
    conv = "conv_00000003"
    expected_parts = []
    rows = sorted(
        (r for r in generate_conversation(9, 3, 8)), key=lambda r: r[1]
    )
    for conv_id, turn_idx, role, text, tool, ts in rows:
        r = convert_text(text)
        if r.extracted_text:
            expected_parts.append(f"[{role}]\n{r.extracted_text}")
    assert stitched[conv]["conversation_markdown"] == "\n\n".join(expected_parts)
    assert stitched[conv]["n_turns"] == len(rows)


def test_salted_partition_key_bounds(spark):
    """The turn-range salt, checked on the key itself: a key holds at most
    ``salt_threshold`` turns of a conversation up to T*B turns long (and
    T*ceil(ceil(L/T)/B) beyond), short conversations keep one key, and the
    key does not depend on the input's partitioning."""
    from collections import Counter

    from extractor.pipeline import salted_partition_key

    t, b = 20, 4
    df = transcripts_df(spark, n_convs=60, mean_turns=20, seed=13)

    def keys(frame):
        return {
            (r["conv_id"], r["turn_idx"]): r["part_key"]
            for r in salted_partition_key(frame, t, b)
            .select("conv_id", "turn_idx", "part_key")
            .collect()
        }

    by_turn = keys(df)
    lengths = Counter(conv for conv, _ in by_turn)
    groups = Counter((conv, key) for (conv, _), key in by_turn.items())
    n_keys = Counter(conv for conv, _ in groups)
    assert any(n <= t for n in lengths.values())
    assert any(t < n <= t * b for n in lengths.values())
    assert any(n > t * b for n in lengths.values())
    for (conv, _), n in groups.items():
        ranges = -(-lengths[conv] // t)
        assert n <= t * -(-ranges // b), (conv, lengths[conv], n)
    # one key per turn range, up to b of them: exactly one for L <= t
    for conv, n in lengths.items():
        assert n_keys[conv] == min(-(-n // t), b), (conv, n, n_keys[conv])

    assert keys(df.repartition(7)) == by_turn


@pytest.mark.parametrize(
    "threshold,buckets", [(0, 4), (-1, 4), (20, 0), (20, -1)]
)
def test_salt_parameters_below_one_rejected(spark, threshold, buckets):
    from extractor.pipeline import salted_partition_key

    df = transcripts_df(spark, n_convs=2, mean_turns=4, seed=13)
    with pytest.raises(ValueError, match="must be >= 1"):
        salted_partition_key(df, threshold, buckets)
    with pytest.raises(ValueError, match="must be >= 1"):
        extract_transcripts(
            df, partition_mode="hash_conv",
            salt_threshold=threshold, salt_buckets=buckets,
        )


def test_null_turn_idx_row_survives_hash_conv(spark):
    """A NULL turn_idx gives a NULL salt; the row still gets a key, goes
    through the kernel and comes out: the row count is preserved."""
    rows = [
        ("c1", 0, "user", "<p>a</p>", None, None),
        ("c1", None, "user", "<b>b</b>", None, None),
        ("c2", 3, "assistant", "plain", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = extract_transcripts(
        df, partition_mode="hash_conv", salt_threshold=1, salt_buckets=4
    ).collect()
    assert len(out) == len(rows)
    null_turn = [r for r in out if r["turn_idx"] is None]
    assert [(r["conv_id"], r["extracted_text"]) for r in null_turn] == [
        ("c1", convert_text("<b>b</b>").extracted_text)
    ]


def test_simhash_banding_complete_at_radius(spark):
    """Recall contract of simhash_neardup_pairs: the banded (4x16-bit)
    self-join must emit EXACTLY the pairs with hamming <= SIMHASH_RADIUS —
    complete by pigeonhole, and filtered to the guarantee (no lucky
    partial-recall extras beyond the radius)."""
    import numpy as np

    from extractor.ops import dedup

    sf = "/root/testdata/sf0.001"
    sig = dedup.simhash(spark, sf).toPandas().sort_values("doc_id")
    ids = sig["doc_id"].to_numpy()
    v = sig["simhash"].to_numpy().astype(np.uint64)
    truth = set()
    for i in range(len(v)):
        for j in range(i + 1, len(v)):
            if bin(int(v[i] ^ v[j])).count("1") <= dedup.SIMHASH_RADIUS:
                truth.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    emitted = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_neardup_pairs(spark, sf).collect()
    }
    assert truth, "corpus must contain at least one near-dup pair"
    assert emitted == truth


def test_neardup_clusters_invariants(spark):
    """Connected-components invariants: every duplicate edge's endpoints
    share a cluster, and each cluster's id is its minimum member."""
    from extractor.ops import dedup

    sf = "/root/testdata/sf0.001"
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.neardup_clusters(spark, sf).collect()
    }
    edges = dedup.duplicate_edges(spark, sf).collect()
    assert edges, "corpus must contain at least one duplicate relation"
    for e in edges:
        assert labels[e["doc_a"]] == labels[e["doc_b"]], e
    members: dict = {}
    for doc, cl in labels.items():
        members.setdefault(cl, []).append(doc)
    for cl, docs in members.items():
        assert cl == min(docs)


def test_minhash_estimator_error_bound(spark):
    """Two contracts: (1) on UNCONDITIONED pairs (adjacent ids — no LSH
    selection) the signature-agreement estimate is near-unbiased; (2) on
    the LSH candidate set the mean absolute error stays inside the
    N_HASHES=8 binomial envelope (max std 0.5/sqrt(8) ≈ 0.177; a broken
    estimator sits near 0.5) and the bias is POSITIVE — conditioning on
    a band match inflates agreement, which is exactly why the verify
    stage re-checks candidates instead of trusting the estimate."""
    from pyspark.sql import functions as F

    from extractor.ops import dedup

    sf = "/root/testdata/sf0.001"
    # (1) unconditioned: estimate for (i, i+1) pairs straight from sigs
    docs = spark.read.parquet(f"{sf}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    sig = dedup.minhash_signatures(docs)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(dedup.N_HASHES)],
    )
    b = sig.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(dedup.N_HASHES)],
    )
    est = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(dedup.N_HASHES)
    ) / F.lit(dedup.N_HASHES)
    exact_pairs = dedup.ngram_jaccard_adjacent(spark, sf).select(
        "doc_a", "jaccard"
    )
    unsel = (
        a.join(b, "doc_a")
        .select("doc_a", est.alias("est"))
        .join(exact_pairs, "doc_a")
    )
    u = unsel.agg(
        F.avg(F.col("est") - F.col("jaccard")).alias("bias"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert u["n"] > 100
    assert abs(u["bias"]) < 0.08, u

    # (2) LSH candidates: bounded MAE, positive selection bias
    df = dedup.minhash_jaccard_estimate(spark, sf)
    s = df.agg(
        F.avg(F.col("est_jaccard") - F.col("exact_jaccard")).alias("bias"),
        F.avg(F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))).alias(
            "mae"
        ),
        F.count("*").alias("n"),
    ).collect()[0]
    assert s["n"] > 0
    assert 0 < s["bias"] < 0.3, s
    assert s["mae"] < 0.25, s


def test_two_phase_cc_equals_label_prop(spark, monkeypatch):
    """The large-star/small-star alternation (the documented web-scale
    swap) must produce the identical (doc_id, cluster_id, cluster_size)
    assignment as min-label propagation — on the corpus graph AND on an
    adversarial long chain (diameter >> rounds, where label propagation
    needs its full iteration budget)."""
    from pyspark.sql import functions as F

    from extractor.ops import dedup

    sf = "/root/testdata/sf0.001"
    a = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in dedup.neardup_clusters(spark, sf).collect()
    }
    b = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in dedup.neardup_clusters(
            spark, sf, algorithm="two_phase"
        ).collect()
    }
    assert a == b

    # adversarial: one chain 0-1-2-...-80 (+ an isolated pair) — two-phase
    # must converge to the component min in far fewer than 80 rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(80)] + [(500, 501)], "u long, v long"
    )
    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 10)
    got = dedup._cc_two_phase(chain).collect()
    labels = {r["doc_id"]: r["cluster_id"] for r in got}
    for i in range(1, 81):
        assert labels[i] == 0, (i, labels.get(i))
    assert labels[501] == 500


def test_chunk_documents_reconstruct(spark):
    """Chunk windows with overlap must tile the token stream exactly:
    stripping the overlap from every non-first chunk reconstructs the
    document's tokens."""
    from extractor.ops import dedup

    sf = "/root/testdata/sf0.001"
    step = 64 - 16
    chunks = dedup.chunk_documents(spark, sf).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .where("text is not null")
        .collect()
    }
    assert by_doc
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        toks = docs[doc_id].split()
        rebuilt = rows[0]["chunk_text"].split()
        for r in rows[1:]:
            rebuilt.extend(r["chunk_text"].split()[64 - step :])
        assert rebuilt == toks, doc_id
        assert all(r["doc_tokens"] == len(toks) for r in rows)


def test_neardup_clusters_raises_on_iteration_cap(spark, monkeypatch):
    """A non-converged run must raise, never silently return wrong labels
    (ADVICE r3): a round budget of 0 cannot converge on any non-empty
    graph."""
    import pytest

    from extractor.ops import dedup

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_clusters(spark, sf)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_clusters(spark, sf, algorithm="two_phase")


def test_km_minhash_matches_python_reference(spark):
    """The Kirsch-Mitzenmacher signature lanes must equal a pure-Python
    md5 reference bit-for-bit (one digest per token; lane i =
    (h1 + i*h2odd) mod 2^32, min over distinct tokens)."""
    import hashlib

    from pyspark.sql import functions as F

    from extractor.ops import dedup

    texts = [
        (0, "alpha beta gamma"),
        (1, "alpha  alpha\tbeta"),   # duplicate + mixed whitespace
        (2, "Unicode töken mixé case"),
        (3, "single"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(dedup.N_HASHES)]
        for r in dedup.minhash_signatures(df).collect()
    }

    def ref(text):
        toks = []
        for t in text.lower().strip().split():
            if t and t not in toks:
                toks.append(t)
        lanes = []
        for i in range(dedup.N_HASHES):
            best = None
            for t in toks:
                h = hashlib.md5(t.encode()).hexdigest()
                h1 = int(h[:8], 16)
                h2 = int(h[8:16], 16) | 1
                v = (h1 + i * h2) % dedup.MH_MOD
                best = v if best is None or v < best else best
            lanes.append(best)
        return lanes

    for doc_id, text in texts:
        assert got[doc_id] == ref(text), (doc_id, got[doc_id], ref(text))
