"""Byte-pair-encoding tokenizer: distributed merge learning + map-only
distributed encode — the completion of the tokenizer-training story whose
counting kernel is ``textops.bpe_pair_counts``.

Algorithm (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
Rare Words with Subword Units"): start from characters, repeatedly merge
the corpus's most frequent adjacent symbol pair; encoding replays the
learned merges in rank order.  The reference converter has no tokenizer
(it stops at markdown); this module is part of the training-pipeline
extension surface, same family as ``ops/dedup.py``'s packing/chunking.

Scale posture (100 TB corpus):

* **Learning** never iterates over the corpus.  One distributed pass
  aggregates the corpus to its distinct (word, count) table — the only
  shuffle, with map-side combine — and caps it to the top ``max_vocab``
  words (``TakeOrderedAndProject``, no global sort).  Zipf's law makes
  this cap principled: the head carries almost all token mass, which is
  why production tokenizer training samples/caps exactly the same way.
  The capped table (≤ max_vocab rows, bounded collect) trains merges in
  memory with the classic pair-count update — per-iteration cost is the
  CHANGED words only, not a corpus rescan.
* **Encoding** is map-only: the learned merge ranks broadcast to every
  task as a dict, application is an ``arrow_stage`` kernel with a
  per-word memo (Zipf again: the hit rate is the corpus's type/token
  ratio).  No shuffle, no driver involvement, embarrassingly parallel —
  the plan shape the 10^12-turn target requires.  Python is unavoidable
  here (greedy iterative merging is not expressible in Spark SQL), so
  it runs in the sanctioned Arrow-batched slow path, never per-row.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from extractor.ops import md5_bucket
from extractor.session import arrow_stage, local_frame

END_OF_WORD = "</w>"


# ---------------------------------------------------------------- learning

def word_counts(docs: DataFrame, max_vocab: int = 10_000) -> DataFrame:
    """Distinct-word frequency table, capped to the *max_vocab* most
    frequent words (ties broken by word ASC — engine-exact cut).  The
    single distributed pass of BPE training: split on ASCII whitespace,
    lowercase, one count-distinct aggregate, top-k without global sort."""
    words = docs.where(F.col("text").isNotNull()).select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"[ \t\r\n\f\v]+")
        ).alias("word")
    ).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(max_vocab)
    )


def learn_merges(word_freq: list[tuple[str, int]],
                 n_merges: int) -> list[tuple[str, str]]:
    """Classic in-memory BPE training over a (word, count) table: each
    word starts as its character sequence + END_OF_WORD; each round
    merges the globally most frequent adjacent symbol pair (ties broken
    by pair lexicographic ASC, deterministic).  Stops early when no
    pair occurs twice.  Cost per round is proportional to the words
    that CONTAIN the merged pair, not the vocabulary."""
    seqs: list[list[str]] = [
        list(w) + [END_OF_WORD] for w, _ in word_freq
    ]
    counts = [int(c) for _, c in word_freq]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_n: dict[tuple[str, str], int] = {}
        for seq, c in zip(seqs, counts):
            for a, b in zip(seq, seq[1:]):
                pair_n[(a, b)] = pair_n.get((a, b), 0) + c
        if not pair_n:
            break
        best = min(pair_n.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _ = best
        merges.append((a, b))
        ab = a + b
        for seq in seqs:
            i = 0
            while i < len(seq) - 1:
                if seq[i] == a and seq[i + 1] == b:
                    seq[i:i + 2] = [ab]
                else:
                    i += 1
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy rank-order BPE encode of one word: repeatedly apply the
    lowest-rank (earliest-learned) merge present — exactly the replay
    order training produced, so training followed by encoding of the
    training corpus reproduces the training segmentation."""
    seq = list(word) + [END_OF_WORD]
    while len(seq) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(seq, seq[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        seq[best_i:best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return seq


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Map-only distributed encode: broadcast the merge ranks, an
    ``arrow_stage`` kernel over the corpus, per-word memo cache.  Output one
    row per input row: ``(doc_id, n_words, n_tokens, tokens_md5)`` —
    the md5 is over the space-joined token stream, so the oracle-style
    golden checks pin the exact segmentation, not just counts."""
    ranks = {p: i for i, p in enumerate(merges)}
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("tokens_md5", T.StringType()),
    ])

    import hashlib
    import re

    ws = re.compile(r"[ \t\r\n\f\v]+")  # same class as word_counts
    memo: dict[str, list[str]] = {}  # one per task: each unpickles its own

    def enc(word):
        got = memo.get(word)
        if got is None:
            got = memo[word] = encode_word(word, ranks)
        return got

    def encode(batch):
        nw, nt, h = [], [], []
        for text in batch.column("text").to_pylist():
            words = [w for w in ws.split((text or "").lower().strip()) if w]
            toks: list[str] = []
            for w in words:
                toks.extend(enc(w))
            nw.append(len(words))
            nt.append(len(toks))
            h.append(hashlib.md5(" ".join(toks).encode()).hexdigest())
        return batch.column("doc_id"), nw, nt, h

    return arrow_stage(docs.select("doc_id", "text"), encode, out_schema)


# ------------------------------------------------------- (spark, sf_dir)

BPE_MERGES = 50  # merges learned
BPE_MAX_VOCAB = 2_000  # word types the merges are learned from



def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer pass over the ``documents`` table: learn
    ``BPE_MERGES`` merges from the capped word-frequency table, then encode
    every document.  Deterministic (count then word tiebreaks
    throughout), so the rows-only driver check is stable and the pytest
    goldens pin exact token streams."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = [(r["word"], r["n"])
          for r in word_counts(docs, max_vocab=BPE_MAX_VOCAB).collect()]
    merges = learn_merges(wf, BPE_MERGES)
    return bpe_encode(docs.where(F.col("text").isNotNull()), merges)


# ------------------------------------------------------- unigram LM (EM)

def substring_counts(
    words: DataFrame, max_piece_len: int = 4
) -> DataFrame:
    """Candidate-piece seeding for the unigram LM: every contiguous
    substring of length 1..max_piece_len of every distinct word, scored
    by the total corpus count of the words it appears in (per position).
    All JVM-side: nested ``transform``/``sequence`` arrays + one explode
    + one map-side-combined aggregate — the only shuffle is the piece
    count.  Input: (word, n) distinct-word table."""
    # dynamic (pos, len) substr over two nested lambda vars is cleanest
    # as a SQL expression:
    subs = F.expr(
        f"""flatten(transform(sequence(1, length(word)), s ->
              transform(sequence(1, least({max_piece_len},
                                          length(word) - s + 1)),
                        ln -> substr(word, s, ln))))"""
    )
    return (
        words.select(F.col("n"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("count"))
    )


def _viterbi_segment(word, logp, max_piece_len):
    """Best segmentation of *word* under piece log-probs: returns the
    piece list.  Ties break toward the LONGER piece (smaller start), so
    the result is a pure function of the model."""
    n = len(word)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            p = logp.get(word[j:i])
            if p is None or best[j] == NEG:
                continue
            s = best[j] + p
            if s > best[i]:
                best[i] = s
                back[i] = j
    pieces = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces


ULM_ROUNDS = 2  # EM rounds
ULM_MAX_PIECE_LEN = 4  # longest candidate piece (chars)
ULM_MAX_VOCAB = 300  # seed pieces kept
ULM_MAX_WORDS = 2000  # word types trained on
ULM_TOP_K = 50  # pieces returned


def unigram_lm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018) —
    the probabilistic counterpart of :func:`bpe_encode_corpus`: seed a
    substring vocabulary, then EM rounds of (Viterbi-segment every word
    under current piece probs) → (re-estimate probs from piece usage).

    Same scale posture as BPE learning: ONE corpus pass builds the
    distinct (word, count) table (the only data shuffle), capped to the
    top ``ULM_MAX_WORDS`` (Zipf: the head carries the mass).  Seeding is a
    JVM-side substring explode + one aggregate over that capped table;
    the vocab is ALL single characters (guaranteeing segmentability)
    plus the top ``ULM_MAX_VOCAB`` longer pieces.  Each E-step runs
    distributed — the piece log-prob dict (vocab-sized) broadcasts into
    an ``arrow_stage`` Viterbi kernel over the word table, usage
    aggregates with map-side combine — and the M-step collects only the
    vocab-sized count table (bounded, same contract as the k-means
    centroid collect).  Probabilities are add-one smoothed so every
    word stays segmentable in every round.

    Iterative EM is not SQL-expressible → rows-only contract entry;
    invariants (exact reconstruction, mass conservation, multi-char
    concentration, determinism) are pytest-pinned.

    Output: top ``ULM_TOP_K`` pieces by final usage, ``(piece, n_uses,
    prob_ppm)`` with ppm from exact integer division."""
    import math

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
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
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(ULM_MAX_WORDS)
        .persist()
    )
    seed = substring_counts(words, ULM_MAX_PIECE_LEN)
    chars = seed.where(F.length("piece") == 1)
    longer = (
        seed.where(F.length("piece") > 1)
        .orderBy(F.desc("count"), F.asc("piece"))
        .limit(ULM_MAX_VOCAB)
    )
    vocab_rows = chars.unionByName(longer).collect()  # bounded:
    # ≤ alphabet + ULM_MAX_VOCAB rows — the M-step working set, never data
    counts = {r["piece"]: r["count"] for r in vocab_rows}

    out_schema = "piece string, n_uses long"
    for _ in range(ULM_ROUNDS):
        total = sum(counts.values())
        v = len(counts)
        logp = {
            p: math.log(c + 1) - math.log(total + v)
            for p, c in counts.items()
        }
        blogp = spark.sparkContext.broadcast(logp)

        def estep(batch, _mpl=ULM_MAX_PIECE_LEN):
            acc = {}
            model = blogp.value
            for word, n in zip(
                batch.column("word").to_pylist(), batch.column("n").to_pylist()
            ):
                for piece in _viterbi_segment(word, model, _mpl):
                    acc[piece] = acc.get(piece, 0) + n
            return list(acc), list(acc.values())

        usage = (
            arrow_stage(words, estep, out_schema)
            .groupBy("piece")
            .agg(F.sum("n_uses").cast("long").alias("n_uses"))
            .collect()
        )  # bounded: ≤ vocab rows
        blogp.destroy()  # usage is materialized; drop the round's model
        counts = {r["piece"]: r["n_uses"] for r in usage}
        # pieces that lost all mass drop out (single chars persist via
        # smoothing only while still in `counts`; keep them alive)
        for r in vocab_rows:
            if len(r["piece"]) == 1:
                counts.setdefault(r["piece"], 0)
    words.unpersist()

    total = sum(counts.values())
    v = len(counts)
    final = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:ULM_TOP_K]
    rows = [
        (p, int(c), (int(c) + 1) * 1_000_000 // (total + v))
        for p, c in final
    ]
    return local_frame(
        spark, rows, T.StructType.fromDDL("piece string, n_uses long, prob_ppm long")
    )


# --------------------------------------------------- T5 span corruption

SPAN_BLOCK = 20   # tokens per corruption block
SPAN_LEN = 3      # masked span length (3/20 = the T5 15% rate)


def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN: for every document, the spans to
    mask and the sentinel each span maps to — the deterministic spec a
    denoising-pretraining data pipeline materializes before tensorizing
    (Raffel et al. 2020 §3.1.4: 15% corruption, mean span 3).

    Randomness is replaced by the engine's keyed-uniform primitive so
    the plan is a pure function of the corpus: each ``SPAN_BLOCK``-token
    window masks exactly one ``SPAN_LEN``-token span whose offset is
    ``md5("span:" doc ":" blk) mod (SPAN_BLOCK − SPAN_LEN + 1)`` — the
    corruption rate is exactly ``SPAN_LEN/SPAN_BLOCK`` and spans can never
    overlap (one per block), the property sequential samplers get from
    rejection loops.  Sentinel ids are the block index.

    Scale shape: map-only — token count, block sequence, and the hash
    offset are all codegen'd expressions; ONE ``posexplode``-style
    Generate bounded by n_tokens/SPAN_BLOCK rows per doc; no shuffle, no
    Python (plan-gated in pytest).

    Output: ``(doc_id, sentinel_id, span_start, span_len)`` — token
    offsets, docs with ≥ ``SPAN_BLOCK`` tokens."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    n = F.size(
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
        )
    )
    d = docs.select("doc_id", n.alias("n_tokens")).where(
        F.col("n_tokens") >= SPAN_BLOCK
    )
    b = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"n_tokens DIV {SPAN_BLOCK}") - 1)
        ).alias("blk"),
    )
    off = F.pmod(
        md5_bucket("span:", "doc_id", F.lit(":"), "blk"),
        F.lit(SPAN_BLOCK - SPAN_LEN + 1),
    )
    return b.select(
        "doc_id",
        F.col("blk").cast("long").alias("sentinel_id"),
        (F.col("blk") * SPAN_BLOCK + off).cast("long").alias("span_start"),
        F.lit(SPAN_LEN).cast("long").alias("span_len"),
    )
