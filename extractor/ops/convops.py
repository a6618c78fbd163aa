"""Conversation-level curation operators over transcript-shaped data —
the ops an agent-transcript training pipeline runs between extraction
and packing: repeated-context stripping, token-budget truncation, and
role-sequence validation.

Why these exist: the engine's target payload is multi-turn conversation
/ agent transcripts (``conv_id, turn_idx, role, text, tool, ts``).
Agent logs repeat context verbatim between adjacent turns (prompt
prefixes, tool output echoed back), blow past context windows, and
carry malformed role sequences — all three are per-conversation window
problems, and all three are implemented here as pure JVM window/agg
plans with zero Python.  The reference converter
(``/root/reference/app/core/document_converter.py:225-255``) processes
documents one at a time and has no conversation axis at all; these are
part of the training-pipeline extension surface, same family as
``ops/dedup.py`` / ``ops/sampling.py``.

Oracle strategy: the driver's DuckDB views cover the ten parquet test
tables, not the synthetic transcripts generator, so each query here
derives a deterministic transcript-shaped relation from ``documents``
with expressions both engines evaluate bit-identically (modular
conv/turn assignment, md5-driven role noise — the same templated-input
trick as the t4/t6/s6 kernel oracles), then runs the REAL operator on
it.  The operators themselves take any DataFrame with the transcript
columns.

Scale posture (10^12 turns): every op below is one hash-partition by
``conv_id`` + an in-partition sort by ``turn_idx`` — exactly the
pipeline's existing extraction partitioning, so in a fused run these
windows reuse the extraction shuffle and are effectively free.  No op
materializes per-conversation state larger than a row; skewed 100×
conversations cost sort time, not memory (window functions stream).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from extractor.ops import md5_bucket


def derived_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript-shaped relation from the ``documents``
    test table: ``(doc_id, conv_id, turn_idx, role, text)`` with
    ``conv_id = doc_id % 40``, ``turn_idx = doc_id DIV 40`` (a
    bijection, so ordering is total) and an md5-driven role assignment
    that mostly alternates user/assistant but injects deterministic
    'tool' turns — i.e. a role sequence with real violations for the
    validator to find.  Mirrors the DuckDB CTE in ``oracle_sql()``
    bit for bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(40)).alias("conv_id"),
        F.expr("doc_id DIV 40").alias("turn_idx"),
        F.expr(
            "CASE WHEN substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)),"
            " 1, 1) < 'd'"
            " THEN CASE WHEN (doc_id DIV 40) % 2 = 0"
            "      THEN 'user' ELSE 'assistant' END"
            " ELSE 'tool' END"
        ).alias("role"),
        "text",
    )


# DuckDB mirror of derived_transcripts() — prepend to each oracle below.
DTR_CTE = """
    WITH dtr AS (
      SELECT doc_id,
             doc_id % 40 AS conv_id,
             doc_id // 40 AS turn_idx,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                  THEN CASE WHEN (doc_id // 40) % 2 = 0
                       THEN 'user' ELSE 'assistant' END
                  ELSE 'tool' END AS role,
             text
      FROM documents
      WHERE text IS NOT NULL
    )
"""

_LCP_CAP = 64


def strip_repeated_prefix(turns: DataFrame) -> DataFrame:
    """Repeated-context stripping: for each turn, the length of the
    longest common prefix (capped at ``_LCP_CAP`` chars) shared with the
    PREVIOUS turn of the same conversation, plus the text with that
    prefix removed.  Agent transcripts echo context verbatim between
    adjacent turns (system prompts re-sent, tool output quoted back);
    at training time the echo is duplicated tokens, and this is the
    in-conversation analogue of ``ops/dedup.py::line_dedup`` — dedup by
    position instead of by global frequency.

    Output: ``(doc_id, conv_id, turn_idx, lcp, kept_chars, head)``
    where ``head`` is the first 40 chars of the stripped text.

    The LCP is a pure codegen'd expression: prefix equality is monotone
    (equal at k ⇒ equal at every j<k), so a bounded
    ``aggregate(sequence(1, _LCP_CAP), ...)`` of substr comparisons returns
    exactly the capped LCP — no Python, no quadratic blowup (_LCP_CAP², not
    len², comparisons per row).  One window (lag) over the conv_id
    partitioning; see module docstring for why that shuffle is free in
    a fused pipeline."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("text").over(w)
    lcp = F.expr(
        "CASE WHEN prev_text IS NULL"
        "       OR least(length(text), length(prev_text)) < 1 THEN 0"
        f"     ELSE aggregate(sequence(1, least(length(text),"
        f"                    length(prev_text), {_LCP_CAP})), 0,"
        "                    (acc, k) -> IF(substr(text, 1, k)"
        "                                 = substr(prev_text, 1, k),"
        "                                 k, acc)) END"
    ).cast("long")
    return (
        turns.withColumn("prev_text", prev)
        .withColumn("lcp", lcp)
        .select(
            "doc_id",
            "conv_id",
            "turn_idx",
            "lcp",
            (F.length("text").cast("long") - F.col("lcp"))
            .alias("kept_chars"),
            F.expr("substr(text, CAST(lcp AS INT) + 1, 40)").alias("head"),
        )
    )


TOKEN_BUDGET = 400  # tokens a truncated conversation keeps


def truncate_to_token_budget(turns: DataFrame) -> DataFrame:
    """Context-window truncation: keep, per conversation, the longest
    SUFFIX of turns whose total token estimate fits ``TOKEN_BUDGET`` — the
    standard "drop the oldest context first" policy for fitting a
    transcript into a model's window.  Token estimate is the chars/4
    proxy (``ceil(len/4)``), kept integer-exact so the cut is
    engine-reproducible.

    Output: the surviving turns as ``(conv_id, turn_idx, tok,
    cum_from_end)`` where ``cum_from_end`` is the running token total
    counted from the latest turn backwards.

    Plan: one running-sum window over (conv_id, turn_idx DESC) + a
    filter — rows stream through the window operator, per-conversation
    state is a single accumulator, and a conversation 100× the median
    length costs sort time only."""
    tok = F.expr(
        "CAST(floor((length(text) + 3) / 4.0) AS BIGINT)"
    ).alias("tok")
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        turns.select("conv_id", "turn_idx", tok)
        .withColumn("cum_from_end", F.sum("tok").over(w))
        .where(F.col("cum_from_end") <= TOKEN_BUDGET)
    )


def role_sequence_stats(turns: DataFrame) -> DataFrame:
    """Role-sequence validation rollup: one row per conversation with
    ``(conv_id, n_turns, n_tool_turns, n_same_role_adjacent,
    alternation_ok)`` — the data-quality gate that drops or flags
    transcripts whose role structure is malformed (two assistant turns
    in a row usually means a lost user message; heavy tool-turn share
    changes the training mix).  ``alternation_ok`` treats 'tool' turns
    as transparent — only adjacent SAME roles count as violations.

    Plan: one lag window + one hash aggregate, both keyed on conv_id —
    a single shuffle end to end (the window and the groupBy share the
    partitioning, so AQE plans one exchange)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = turns.select(
        "conv_id",
        "role",
        F.when(F.lag("role").over(w) == F.col("role"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("same_as_prev"),
    )
    return flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))
        .cast("long")
        .alias("n_tool_turns"),
        F.sum("same_as_prev").cast("long").alias("n_same_role_adjacent"),
        (F.sum("same_as_prev") == 0).cast("int").alias("alternation_ok"),
    )


# ---- (spark, sf_dir) entry points over the derived transcript view ----

def conv_prefix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return strip_repeated_prefix(derived_transcripts(spark, sf_dir))


def conv_token_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return truncate_to_token_budget(derived_transcripts(spark, sf_dir))


def conv_role_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return role_sequence_stats(derived_transcripts(spark, sf_dir))


def detect_repeat_runs(turns: DataFrame) -> DataFrame:
    """Stuck-loop detection: find runs of CONSECUTIVE turns within a
    conversation that carry the same content signature — the
    agent-transcript failure mode where a tool call or a model reply
    repeats verbatim until a step limit kills the episode.  Output: one
    row per conversation, ``(conv_id, n_turns, max_run,
    n_repeat_islands)`` where an island is a maximal run of ≥2
    consecutive turns with equal (role, sig).

    Algorithm: gaps-and-islands run-length encoding — the island key is
    ``row_number() over (conv) − row_number() over (conv, role, sig)``,
    constant exactly within a run of equal values; all-integer window
    arithmetic, oracle-exact.  (The content signature is supplied by
    the caller — e.g. a hash of the normalized turn text — so the run
    test is an equality, not a similarity.)

    Plan: two window passes + two aggregations, ALL keyed on conv_id
    (the extraction partitioning — zero extra data movement in a fused
    pipeline); per-conversation state is O(1)."""
    w_all = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_val = Window.partitionBy("conv_id", "role", "sig").orderBy("turn_idx")
    islands = turns.select(
        "conv_id",
        "role",
        "sig",
        (F.row_number().over(w_all) - F.row_number().over(w_val)).alias(
            "island"
        ),
    )
    runs = islands.groupBy("conv_id", "role", "sig", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("conv_id").agg(
        F.sum("run_len").cast("long").alias("n_turns"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum(F.when(F.col("run_len") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat_islands"),
    )


def conv_repeat_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-run detection over the derived transcript view, with a
    16-bucket md5 content signature (first hex digit of md5(doc_id)) so
    the synthetic corpus actually produces runs to find."""
    dtr = derived_transcripts(spark, sf_dir).withColumn(
        "sig",
        F.expr("substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 1)"),
    )
    return detect_repeat_runs(dtr)

_SFT_WINDOW_TURNS = 8
_SFT_BUDGET_CHARS = 600


def assemble_sft_pairs(turns: DataFrame) -> DataFrame:
    """SFT training-pair assembly: for every **assistant** turn (the
    training target), build its conversational context — the up-to-
    ``_SFT_WINDOW_TURNS`` immediately preceding turns rendered as
    ``role: text`` and joined with newlines, then cut to the LAST
    ``_SFT_BUDGET_CHARS`` characters (drop-oldest, mid-line cuts allowed, the
    standard char-budget fallback when no tokenizer is in the loop).
    This is the step that turns a curated transcript corpus into
    (context, target) example pairs for supervised fine-tuning.

    Output: ``(conv_id, turn_idx, n_ctx_turns, ctx_chars, ctx_md5,
    target_md5)`` — the assembled strings are hash-checked (md5 of the
    exact bytes), so the oracle verifies the real concatenation +
    truncation, not just counts.

    Scale posture (10^12 turns): the context frame is BOUNDED (``ROWS
    BETWEEN _SFT_WINDOW_TURNS PRECEDING AND 1 PRECEDING``), so per-row state
    is O(_SFT_WINDOW_TURNS · turn_len) no matter how long the conversation
    is — an unbounded ``collect_list`` prefix would be O(conv_len²)
    characters on the Zipf-tail conversations and is exactly what this
    design avoids.  One window over the (conv_id, turn_idx) extraction
    partitioning: in a fused pipeline this reuses the extraction
    shuffle.  All expressions are codegen'd JVM built-ins — no Python.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-_SFT_WINDOW_TURNS, -1)
    )
    rendered = F.concat_ws(": ", F.col("role"), F.col("text"))
    ctx_arr = F.collect_list(rendered).over(w)
    return (
        turns.withColumn("ctx_arr", ctx_arr)
        .where(F.col("role") == "assistant")
        .withColumn("ctx_full", F.array_join("ctx_arr", "\n"))
        .withColumn("ctx", F.expr(f"right(ctx_full, {_SFT_BUDGET_CHARS})"))
        .select(
            "conv_id",
            "turn_idx",
            F.size("ctx_arr").cast("long").alias("n_ctx_turns"),
            F.length("ctx").cast("long").alias("ctx_chars"),
            F.md5(F.col("ctx").cast("binary")).alias("ctx_md5"),
            F.md5(F.col("text").cast("binary")).alias("target_md5"),
        )
    )


def sft_pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assemble_sft_pairs(derived_transcripts(spark, sf_dir))


def derived_transcripts_with_tool(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The derived transcript view plus a deterministic ``tool`` column
    (NULL except on 'tool' turns, where doc_id % 4 picks one of four
    tool names) — mirrors the input_hint's full six-column shape."""
    return derived_transcripts(spark, sf_dir).withColumn(
        "tool",
        F.expr(
            "CASE WHEN role = 'tool' THEN"
            " element_at(array('search','python','browser','calculator'),"
            " CAST(doc_id % 4 AS INT) + 1) END"
        ),
    )


def tool_transition_counts(turns: DataFrame) -> DataFrame:
    """Tool-usage transition matrix over agent transcripts: restrict to
    tool turns, order them within each conversation, and count the
    global bigram (prev_tool → tool) frequencies, with 'START' as the
    synthetic predecessor of each conversation's first tool call.
    This is the agent-behavior analytics op — which tool follows which,
    where loops concentrate — run over the ``tool`` column of the
    input_hint schema.

    Output: ``(prev_tool, tool, n)``.

    Plan: one filter (map-side), one lag window keyed on conv_id (the
    extraction partitioning), one small hash aggregate whose result
    cardinality is ≤ (n_tools+1)·n_tools — partial aggregation makes
    the final shuffle a few dozen rows regardless of input scale."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    calls = turns.where(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    return (
        calls.withColumn(
            "prev_tool", F.coalesce(F.lag("tool").over(w), F.lit("START"))
        )
        .groupBy("prev_tool", "tool")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tool_transition_counts(derived_transcripts_with_tool(spark, sf_dir))


def conversation_quality(turns: DataFrame) -> DataFrame:
    """Conversation-level quality gate: one row per conversation with
    all-INTEGER quality facets and a keep/drop verdict — the
    transcript-corpus analogue of the per-document ``quality_score``
    (same family as Gopher rules, but the units are turns, not lines).

    Facets: ``n_turns``, ``n_user``, ``n_assistant``, ``total_chars``,
    and ``keep`` = 1 iff the conversation has ≥2 turns, at least one
    user AND one assistant turn, and a mean turn length in [10, 4000]
    chars — the mean bound is evaluated as integer cross-products
    (``total_chars ≥ 10·n_turns`` etc.), so no float division anywhere
    and the oracle comparison is exact by construction.

    Plan: a single hash aggregate keyed on conv_id (partial aggregation
    upstream), nothing else — the cheapest possible per-conversation
    rollup at 10^12 turns."""
    return turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
        .cast("long")
        .alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
        .cast("long")
        .alias("n_assistant"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    ).withColumn(
        "keep",
        (
            (F.col("n_turns") >= 2)
            & (F.col("n_user") >= 1)
            & (F.col("n_assistant") >= 1)
            & (F.col("total_chars") >= 10 * F.col("n_turns"))
            & (F.col("total_chars") <= 4000 * F.col("n_turns"))
        ).cast("int"),
    )


def conv_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation_quality(derived_transcripts(spark, sf_dir))


CONV_HASHES = 8       # minhash components per conversation
CONV_BAND_SIZE = 2    # components per LSH band -> 4 bands
CONV_MAX_BUCKET = 40  # hot-bucket guard (skip degenerate mega-buckets)


def conversation_minhash_pairs(turns: DataFrame) -> DataFrame:
    """Conversation-level near-duplicate detection: MinHash over the
    TURN-set of each conversation (one signature component per seed =
    the min turn-text hash), banded LSH bucketing, then candidate pairs
    with their signature-agreement count.  This is the dedup the
    transcripts payload actually needs — retried / re-logged agent
    episodes duplicate most of their turns verbatim, and per-document
    (per-turn) dedup can't see that two *conversations* are the same
    episode.  Same Broder estimator as ``dedup.minhash_signatures``,
    one granularity up: the token set is the turn set.

    Output: distinct ``(conv_a, conv_b, n_agree)`` with conv_a <
    conv_b; ``n_agree`` of CONV_HASHES components agree (callers
    threshold, e.g. ≥6/8 ≈ Jaccard 0.75).

    Plan/scale: ONE shuffle builds all signatures (groupBy conv_id with
    CONV_HASHES min-aggregates — map-side partial mins make the shuffle
    rows one per conv per partition); band explosion is 4 rows per
    conversation; the (band, bucket) aggregate is the second shuffle;
    pair generation happens INSIDE buckets already capped at
    ``CONV_MAX_BUCKET`` members (collect_list is bounded by the cap — the m²
    trap handled the same way as ``minhash_jaccard_estimate``), with
    agreement computed from the carried signatures — no sig re-join,
    no all-pairs anything."""
    n_bands = CONV_HASHES // CONV_BAND_SIZE
    sig = turns.groupBy("conv_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"cseed{i}:"), F.col("text")))
            ).alias(f"mh_{i}")
            for i in range(CONV_HASHES)
        ]
    ).select(
        "conv_id",
        F.array(*[f"mh_{i}" for i in range(CONV_HASHES)]).alias("sig"),
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh_{b * CONV_BAND_SIZE + j}")
                      for j in range(CONV_BAND_SIZE)],
                )
            ).alias(f"bucket_{b}")
            for b in range(n_bands)
        ],
    )
    exploded = sig.select(
        "conv_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"bucket_{b}").alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("conv_id", "sig", "bb.band", "bb.bucket")
    members = (
        exploded.groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("conv_id", "sig"))
            ).alias("ms")
        )
        .where((F.size("ms") >= 2) & (F.size("ms") <= CONV_MAX_BUCKET))
    )
    pairs = members.select(
        F.explode(
            F.expr(
                "flatten(transform(ms, (x, i) ->"
                " transform(slice(ms, i + 2, size(ms) - i - 1),"
                "           y -> struct(x.conv_id AS conv_a,"
                "                       y.conv_id AS conv_b,"
                "                       size(filter(zip_with(x.sig, y.sig,"
                "                            (p, q) -> p = q),"
                "                            v -> v)) AS n_agree))))"
            )
        ).alias("pr")
    )
    return pairs.select(
        F.col("pr.conv_a").alias("conv_a"),
        F.col("pr.conv_b").alias("conv_b"),
        F.col("pr.n_agree").cast("int").alias("n_agree"),
    ).distinct()


# Shared-turn transcript view: agent corpora repeat boilerplate turns
# verbatim across conversations (system prompts, policy preambles, tool
# banners).  This view plants that reality deterministically: ~6/16 of
# turns are replaced by one of three shared template strings, so
# conversation-level near-dup has real structure to find.  DuckDB
# mirror: DTR_SHARED_CTE.
_SHARED_TMPL = "SYSTEM: shared policy preamble v"


def derived_transcripts_shared(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    return derived_transcripts(spark, sf_dir).withColumn(
        "text",
        F.expr(
            "CASE WHEN substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)),"
            " 2, 1) < '6'"
            f" THEN concat('{_SHARED_TMPL}', CAST(doc_id % 3 AS STRING))"
            " ELSE text END"
        ),
    )


DTR_SHARED_CTE = DTR_CTE + f""",
    dtrs AS (
      SELECT doc_id, conv_id, turn_idx, role,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '6'
                  THEN '{_SHARED_TMPL}' || CAST(doc_id % 3 AS VARCHAR)
                  ELSE text END AS text
      FROM dtr
    )
"""


def conv_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation_minhash_pairs(
        derived_transcripts_shared(spark, sf_dir)
    )


def audit_turn_integrity(turns: DataFrame) -> DataFrame:
    """Per-conversation integrity audit: duplicated ``(conv_id,
    turn_idx)`` rows, missing turns (index gaps), and a non-zero start
    — the ingest-time data-quality gate a transcript corpus needs
    before any window-based curation op runs (every op in this module
    assumes ``turn_idx`` is a usable ordering; this is the check that
    says whether it is).  The reference has no conversation axis at
    all; this belongs to the training-pipeline extension surface, same
    family as ``conversation_quality``.

    Output (one row per conversation, all-INTEGER):
    ``(conv_id, n_rows, n_turns, n_dup_rows, min_turn, max_turn,
    n_gaps, clean)`` where ``n_gaps = max−min+1−n_turns`` and
    ``clean = 1`` iff no duplicates, no gaps, and ``min_turn = 0``.

    Plan: ONE hash aggregate keyed on conv_id (count + count(distinct
    turn_idx) + min/max — Spark plans the distinct as a two-phase
    expand+agg, still a single shuffle family on the extraction
    partitioning); no window, no join.  At 10^12 turns this is the
    cheapest possible full-corpus audit."""
    return (
        turns.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("turn_idx").alias("n_turns"),
            F.min("turn_idx").cast("long").alias("min_turn"),
            F.max("turn_idx").cast("long").alias("max_turn"),
        )
        .select(
            "conv_id",
            "n_rows",
            "n_turns",
            (F.col("n_rows") - F.col("n_turns")).alias("n_dup_rows"),
            "min_turn",
            "max_turn",
            (F.col("max_turn") - F.col("min_turn") + 1 - F.col("n_turns"))
            .alias("n_gaps"),
            (
                (F.col("n_rows") == F.col("n_turns"))
                & (F.col("max_turn") - F.col("min_turn") + 1
                   == F.col("n_turns"))
                & (F.col("min_turn") == 0)
            ).cast("int").alias("clean"),
        )
    )


def derived_transcripts_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived transcript view with deterministic integrity damage
    for :func:`audit_turn_integrity` to find: rows whose md5 third hex
    digit is < '2' are re-emitted verbatim (duplicate ``(conv_id,
    turn_idx)``), on top of the gaps the view already has wherever the
    source document's text is NULL.  DuckDB mirror: DTR_DIRTY_CTE."""
    base = derived_transcripts(spark, sf_dir)
    dups = base.where(
        F.expr(
            "substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 3, 1)"
            " < '2'"
        )
    )
    return base.unionAll(dups)


DTR_DIRTY_CTE = DTR_CTE + """,
    dtrd AS (
      SELECT * FROM dtr
      UNION ALL
      SELECT * FROM dtr
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < '2'
    )
"""


def conv_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audit_turn_integrity(derived_transcripts_dirty(spark, sf_dir))


PREF_GROUPS = 8  # episode families (conv_id % PREF_GROUPS)


def mine_preference_pairs(turns: DataFrame) -> DataFrame:
    """DPO/RLHF preference-pair mining over retried agent episodes:
    conversations are grouped into episode families (here the
    deterministic ``conv_id % PREF_GROUPS`` — in production the cluster id
    from ``conversation_minhash_pairs``), each conversation is scored
    by an all-integer response-quality proxy (total assistant chars +
    assistant turn count), and each family emits ONE (chosen, rejected)
    pair: its best- and worst-scoring conversations.  This is the
    standard pair-assembly step between episode collection and
    preference-model training.

    Tie-breaks are pinned so the output is engine-reproducible: chosen
    = max (score, conv_id), rejected = min (score, conv_id), both as
    lexicographic struct comparisons; families with fewer than two
    conversations (or where chosen == rejected) are dropped.

    Output: ``(group_id, chosen_conv, rejected_conv, chosen_score,
    rejected_score, margin)``, all BIGINT.

    Plan: two hash aggregates — per-conv score (map-side combined on
    the extraction partitioning), then a ``PREF_GROUPS``-row max/min
    struct agg; no window, no join, nothing driver-side.  Struct
    min/max keeps it a single pass where a row_number formulation
    would need two window sorts."""
    score = (
        turns.where(F.col("role") == "assistant")
        .groupBy("conv_id")
        .agg(
            (
                F.sum(F.length("text")).cast("long")
                + F.count(F.lit(1)).cast("long")
            ).alias("score")
        )
        .withColumn("group_id", F.pmod(F.col("conv_id"), F.lit(PREF_GROUPS)))
    )
    best = (
        score.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.max(F.struct("score", "conv_id")).alias("hi"),
            F.min(F.struct("score", "conv_id")).alias("lo"),
        )
        .where(F.col("n_convs") >= 2)
    )
    return best.select(
        F.col("group_id").cast("long").alias("group_id"),
        F.col("hi.conv_id").cast("long").alias("chosen_conv"),
        F.col("lo.conv_id").cast("long").alias("rejected_conv"),
        F.col("hi.score").alias("chosen_score"),
        F.col("lo.score").alias("rejected_score"),
        (F.col("hi.score") - F.col("lo.score")).alias("margin"),
    ).where(F.col("chosen_conv") != F.col("rejected_conv"))


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mine_preference_pairs(derived_transcripts_shared(spark, sf_dir))


def mine_contrastive_triplets(turns: DataFrame,
                              id_mod: int = 10_000) -> DataFrame:
    """Contrastive-triplet mining for embedding training: anchor = a
    user turn, positive = the assistant turn that answers it (the next
    turn in the same conversation), negative = the assistant turn of a
    deterministically-hashed OTHER document (in-batch-negative
    sampling made reproducible: ``neg_doc = md5-uniform(doc_id) mod
    id_mod``, kept only when it resolves to a real assistant turn and
    differs from both anchor and positive).  (anchor, positive,
    negative) text triples are the training rows for retrieval /
    embedding models — the op that turns a transcript corpus into
    contrastive supervision.

    Output: ``(anchor_doc, pos_doc, neg_doc, anchor_md5, pos_md5,
    neg_md5)`` — the md5s cover the actual joined text, so the oracle
    hash check verifies the negative FETCH, not just the id
    arithmetic.

    Plan: one lag/lead window on the extraction partitioning pairs
    anchor+positive; negatives resolve via ONE equi-join against the
    assistant-turn relation (AQE broadcasts whichever side is small;
    at corpus scale both sides shuffle hash-partitioned on the id —
    no skew, ids are md5-uniform by construction)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    paired = (
        turns.withColumn("next_role", F.lead("role").over(w))
        .withColumn("next_text", F.lead("text").over(w))
        .withColumn("next_doc", F.lead("doc_id").over(w))
        .where(
            (F.col("role") == "user") & (F.col("next_role") == "assistant")
        )
        .select(
            F.col("doc_id").alias("anchor_doc"),
            F.col("text").alias("anchor_text"),
            F.col("next_doc").alias("pos_doc"),
            F.col("next_text").alias("pos_text"),
            F.expr(
                "CAST(conv(substring(md5(concat('neg:',"
                " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {id_mod}"
            ).alias("neg_doc"),
        )
    )
    negatives = turns.where(F.col("role") == "assistant").select(
        F.col("doc_id").alias("neg_doc"), F.col("text").alias("neg_text")
    )
    return (
        paired.join(negatives, "neg_doc")
        .where(
            (F.col("neg_doc") != F.col("anchor_doc"))
            & (F.col("neg_doc") != F.col("pos_doc"))
        )
        .select(
            "anchor_doc",
            "pos_doc",
            "neg_doc",
            F.md5(F.col("anchor_text").cast("binary")).alias("anchor_md5"),
            F.md5(F.col("pos_text").cast("binary")).alias("pos_md5"),
            F.md5(F.col("neg_text").cast("binary")).alias("neg_md5"),
        )
    )


PREFIX_TURNS = 2  # leading turns hashed into the KV-prefix key


def shared_prefix_stats(turns: DataFrame) -> DataFrame:
    """KV-cache shared-prefix profile: key each conversation by the md5
    of its first ``PREFIX_TURNS`` turns (in turn order), group conversations
    by that key, and report how many share each prefix and the chars a
    prefix-caching serving/training stack would save (``(n_convs−1) ×
    prefix_chars`` — every copy after the first is cache-served).
    Agent corpora are dominated by shared system-prompt/policy
    preambles; this op quantifies that before sequence packing decides
    what to co-locate.

    Output: ``(prefix_key, n_convs, prefix_chars, saved_chars)`` —
    one row per distinct prefix, singletons included (saved = 0), so
    the result doesn't depend on collision structure.

    Plan: one row_number window on the extraction partitioning keeps
    the first ``PREFIX_TURNS`` turns; one per-conv agg builds the ordered
    concat (``sort_array(collect_list)`` over ≤ PREFIX_TURNS rows — bounded,
    never conversation-sized); one small agg groups by key.  The
    prefix-key relation is one row per conversation, so the second
    shuffle is corpus-count-of-conversations sized, not turn-sized."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    first_n = (
        turns.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PREFIX_TURNS)
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
                "~|~",
            ).alias("prefix_text")
        )
        .select(
            "conv_id",
            F.md5(F.col("prefix_text").cast("binary")).alias("prefix_key"),
            F.length("prefix_text").cast("long").alias("prefix_chars"),
        )
    )
    return first_n.groupBy("prefix_key").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.min("prefix_chars").alias("prefix_chars"),
        (
            (F.count(F.lit(1)) - 1) * F.min("prefix_chars")
        ).cast("long").alias("saved_chars"),
    )


def prefix_sharing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_prefix_stats(derived_transcripts_shared(spark, sf_dir))


SFT_NEARDUP_MIN_AGREE = 6  # ≥6/8 signature agreement ≈ Jaccard 0.75


def curate_sft_corpus(turns: DataFrame) -> DataFrame:
    """The composed SFT curation pipeline — what actually runs between
    raw transcript landing and fine-tuning: (1) conversation quality
    gate (:func:`conversation_quality`, keep=1 only), (2) conversation-
    level near-dup prune (:func:`conversation_minhash_pairs` — the
    HIGHER conv_id of every pair agreeing on ≥ ``SFT_NEARDUP_MIN_AGREE`` of 8
    signature components is dropped, min-id episode survives), (3)
    (context, target) pair assembly (:func:`assemble_sft_pairs`) over
    the surviving conversations.  One entry point so the integration —
    gates feeding dedup feeding assembly — is itself under oracle.

    Plan/scale: the quality agg, the signature agg, and the assembly
    windows all key on conv_id — the extraction partitioning — so a
    fused run pays the conversation shuffle once; the keep-list and
    prune-list are conversation-cardinality relations that AQE
    broadcasts onto the turn stream."""
    quality = (
        conversation_quality(turns)
        .where(F.col("keep") == 1)
        .select("conv_id")
    )
    pruned = (
        conversation_minhash_pairs(turns)
        .where(F.col("n_agree") >= SFT_NEARDUP_MIN_AGREE)
        .select(F.col("conv_b").alias("conv_id"))
        .distinct()
    )
    kept = quality.join(pruned, "conv_id", "left_anti")
    return assemble_sft_pairs(turns.join(kept, "conv_id"))


def sft_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curate_sft_corpus(derived_transcripts_retried(spark, sf_dir))


def derived_transcripts_retried(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Transcript view with REAL retried episodes planted for the
    curation pipeline: conversations 36–39 are near-copies of 0–3
    (each turn takes the corresponding turn text of ``conv_id − 36``
    — i.e. ``doc_id − 36`` — except an md5-chosen ~1/8 of turns that
    keep their own text: a re-run episode with a couple of divergent
    turns), and conversation 35 is degenerate (texts cut to 4 chars,
    failing the quality gate's mean-length floor).  DuckDB mirror:
    DTR_RETRIED_CTE."""
    base = derived_transcripts(spark, sf_dir)
    src = base.select(
        (F.col("doc_id") + 36).alias("doc_id"),
        F.col("text").alias("src_text"),
    )
    return (
        base.join(src, "doc_id", "left")
        .select(
            "doc_id",
            "conv_id",
            "turn_idx",
            "role",
            F.when(
                (F.col("conv_id") >= 36)
                & F.expr(
                    "substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)),"
                    " 4, 1) < 'e'"
                ),
                F.coalesce("src_text", "text"),
            )
            .when(
                F.col("conv_id") == 35, F.expr("substr(text, 1, 4)")
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )


DTR_RETRIED_CTE = DTR_CTE + """,
    dtrr AS (
      SELECT d.doc_id, d.conv_id, d.turn_idx, d.role,
             CASE
               WHEN d.conv_id >= 36
                    AND substr(md5(CAST(d.doc_id AS VARCHAR)), 4, 1) < 'e'
                 THEN coalesce(s.text, d.text)
               WHEN d.conv_id = 35 THEN substr(d.text, 1, 4)
               ELSE d.text END AS text
      FROM dtr d LEFT JOIN dtr s ON s.doc_id = d.doc_id - 36
    )
"""


SEP_LEN = 2  # chars of the separator between stitched turns


def loss_mask_spans(turns: DataFrame) -> DataFrame:
    """SFT loss-masking spans: for each turn, the [start, end) character
    offsets of its text inside the conversation's stitched training
    document (turns joined in ``turn_idx`` order by a ``SEP_LEN``-char
    separator), plus the mask bit — ``True`` (excluded from the loss)
    for every non-assistant turn.  Trainers consume exactly this shape
    to zero out user/tool tokens in the label tensor.

    Plan: one cumulative-sum window on the extraction partitioning
    (hash(conv_id), sort turn_idx) — at 10^12 turns this reuses the
    pipeline shuffle and streams; no per-conversation state beyond the
    running sum.  The reference has no conversation axis (documents are
    converted one file at a time, ``document_converter.py:225-255``);
    this is training-surface extension, exact by construction.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(
        F.sum(F.length("text") + SEP_LEN).over(w), F.lit(0)
    ).cast("long")
    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        start.alias("span_start"),
        (start + F.length("text")).cast("long").alias("span_end"),
        (F.col("role") != "assistant").alias("mask"),
    )


def loss_mask_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return loss_mask_spans(derived_transcripts(spark, sf_dir))


PHRASE_TOKENS = 3  # leading tokens of an assistant turn's claim


def grounding_audit(turns: DataFrame) -> DataFrame:
    """Attribution audit for agent transcripts: is an assistant turn's
    leading claim phrase (its first ``PHRASE_TOKENS`` whitespace tokens)
    VERBATIM-supported by any earlier tool output in the same
    conversation?  The cheap-and-exact core of RAG groundedness checks
    (quote-level support, not semantic entailment).

    Output per assistant turn: the count of prior tool turns, how many
    contain the phrase, and the grounded verdict.  Assistant turns with
    no prior tool context report 0/0/false — auditably distinct from
    "had context, cited none".

    Plan: conversation-locked self-join (assistant turns × earlier tool
    turns of the SAME conv_id) — the join key is the extraction
    partitioning, so at 10^12 turns this shuffles each side once on
    hash(conv_id) and every comparison stays inside a conversation
    (bounded by the longest episode, never cross-conv quadratic).
    """
    a = turns.where(F.col("role") == "assistant").select(
        "conv_id",
        "turn_idx",
        F.array_join(
            F.slice(F.split("text", " "), 1, PHRASE_TOKENS), " "
        ).alias("claim"),
    )
    t = turns.where(F.col("role") == "tool").select(
        "conv_id",
        F.col("turn_idx").alias("tool_idx"),
        F.col("text").alias("tool_text"),
    )
    j = a.join(
        t,
        (a["conv_id"] == t["conv_id"]) & (t["tool_idx"] < a["turn_idx"]),
        "left",
    )
    return (
        j.groupBy(a["conv_id"], "turn_idx", "claim")
        .agg(
            F.count("tool_idx").cast("long").alias("n_prior_tool"),
            F.sum(
                F.when(
                    F.contains("tool_text", F.col("claim")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_supporting"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "n_prior_tool",
            "n_supporting",
            (F.col("n_supporting") > 0).alias("grounded"),
        )
    )


def grounding_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grounding_audit(derived_transcripts(spark, sf_dir))


def turn_latency_stats(turns_ts: DataFrame) -> DataFrame:
    """Per-role-transition response-latency profile over agent
    transcripts: lag the per-turn timestamp within each conversation,
    label each gap ``prev_role->role``, and aggregate exact seconds
    (min/max/count) plus an integer-milli mean — the ops dashboard for
    "how long do tool calls take" / "how fast does the assistant reply".

    Plan: one window (the extraction partitioning: hash(conv_id), sort
    turn_idx) + one tiny agg keyed by ≤ role² transition labels; at
    10^12 turns the window reuses the pipeline shuffle and the agg
    output is constant-size.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = turns_ts.select(
        "conv_id",
        (F.col("ts_sec") - F.lag("ts_sec").over(w)).alias("gap_s"),
        F.concat(
            F.lag("role").over(w), F.lit("->"), F.col("role")
        ).alias("transition"),
    ).where(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("transition")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
            F.expr("sum(gap_s) * 1000 DIV count(*)")
            .cast("long")
            .alias("mean_gap_milli"),
        )
    )


def derived_transcripts_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript view + a deterministic monotonic per-turn timestamp:
    ``ts_sec = turn_idx*120 + doc_id%90`` (jitter < step, so gaps stay
    positive: 31..209 s) — mirrors the input_hint's ``ts`` column."""
    return derived_transcripts(spark, sf_dir).withColumn(
        "ts_sec",
        (F.col("turn_idx") * 120 + F.pmod("doc_id", F.lit(90))).cast("long"),
    )


def turn_latency_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return turn_latency_stats(derived_transcripts_ts(spark, sf_dir))


BT_GROUPS = 32        # episode families (conv_id % BT_GROUPS)
BT_PER_GROUP = 6      # sampled contestants per family
BT_ROUNDS = 3         # fixed MM iterations
BT_SCALE = 10 ** 6    # strength fixed-point scale
BT_BIG = 10 ** 12     # floor-division headroom per MM term


def bt_strength(turns: DataFrame) -> DataFrame:
    """Bradley–Terry strength estimation over pairwise episode
    comparisons — the reward-model pre-step that turns a pile of
    (chosen, rejected) preference pairs into a per-policy scalar
    ranking (Elo-style leaderboards, RLHF data triage).  Fixed-round
    minorization-maximization in EXACT integer arithmetic:

        p_0(i)   = BT_SCALE
        D_r(i)   = Σ_{comparisons (i,j)} BT_BIG // max(p_{r-1}(i)+p_{r-1}(j), 1)
        p'_r(i)  = wins(i) * BT_BIG // D_r(i)
        p_r      = p'_r * BT_SCALE // max_i(p'_r)       (per-round max norm)

    Every quantity is a BIGINT (integer sums + floor division + a 1-row
    max are order-independent), so a SQL oracle unrolls the identical
    rounds and matches bit-for-bit — the same exactness pattern as
    ``links.pagerank``/``links.hits``.  Winless items floor to 0, the
    true BT maximum-likelihood direction.

    Comparisons are synthesized deterministically: conversations score
    by the same all-integer proxy as :func:`mine_preference_pairs`,
    families are ``conv_id % BT_GROUPS``, each family fields its
    ``BT_PER_GROUP`` md5-ranked contestants, and every within-family pair
    plays once (winner = lexicographic (score, conv_id) max).  Bounding
    the family size caps comparisons at C(BT_PER_GROUP, 2) per family —
    the all-pairs blowup is impossible by construction.

    Scale posture: the comparison table is ``localCheckpoint``-ed once
    (≤ BT_GROUPS·C(BT_PER_GROUP,2) rows at any corpus size — sampling, not
    the corpus, sets its cardinality); each round BROADCASTS the
    item-cardinality strength vector onto it twice (winner/loser side),
    aggregates node-keyed partial sums, and max-normalizes via a 1-row
    broadcast — no driver collect, nothing corpus-sized ever shuffles
    after the one per-conv score aggregate.

    Output: ``(conv_id, wins, strength)``, all BIGINT."""
    score = (
        turns.where(F.col("role") == "assistant")
        .groupBy("conv_id")
        .agg(
            (
                F.sum(F.length("text")).cast("long")
                + F.count(F.lit(1)).cast("long")
            ).alias("score")
        )
        .withColumn("g", F.pmod(F.col("conv_id"), F.lit(BT_GROUPS)))
    )
    rk = F.row_number().over(
        Window.partitionBy("g").orderBy(
            F.md5(
                F.concat(
                    F.lit("bt:"), F.col("conv_id").cast("string")
                ).cast("binary")
            ),
            "conv_id",
        )
    )
    samp = score.withColumn("rk", rk).where(F.col("rk") <= BT_PER_GROUP)
    a, c = samp.alias("a"), samp.alias("c")
    comp = (
        a.join(c, "g")
        .where(F.col("a.rk") < F.col("c.rk"))
        .select(
            F.when(
                F.struct("a.score", "a.conv_id")
                > F.struct("c.score", "c.conv_id"),
                F.col("a.conv_id"),
            )
            .otherwise(F.col("c.conv_id"))
            .alias("w"),
            F.when(
                F.struct("a.score", "a.conv_id")
                > F.struct("c.score", "c.conv_id"),
                F.col("c.conv_id"),
            )
            .otherwise(F.col("a.conv_id"))
            .alias("l"),
        )
        .localCheckpoint()
    )
    items = (
        comp.select(F.col("w").alias("conv_id"))
        .union(comp.select(F.col("l").alias("conv_id")))
        .distinct()
        .localCheckpoint()
    )
    wins = items.join(
        comp.groupBy(F.col("w").alias("conv_id")).agg(
            F.count(F.lit(1)).cast("long").alias("wins")
        ),
        "conv_id",
        "left",
    ).select(
        "conv_id", F.coalesce("wins", F.lit(0)).cast("long").alias("wins")
    ).localCheckpoint()
    p = items.select(
        "conv_id", F.lit(BT_SCALE).cast("long").alias("pv")
    )
    for _ in range(BT_ROUNDS):
        t = (
            comp.join(
                F.broadcast(
                    p.select(F.col("conv_id").alias("w"),
                             F.col("pv").alias("pw"))
                ),
                "w",
            )
            .join(
                F.broadcast(
                    p.select(F.col("conv_id").alias("l"),
                             F.col("pv").alias("pl"))
                ),
                "l",
            )
            .select(
                "w",
                "l",
                F.expr(f"{BT_BIG} DIV greatest(pw + pl, 1)")
                .cast("long")
                .alias("term"),
            )
        )
        d = (
            t.select(F.col("w").alias("conv_id"), "term")
            .union(t.select(F.col("l").alias("conv_id"), "term"))
            .groupBy("conv_id")
            .agg(F.sum("term").cast("long").alias("dsum"))
        )
        praw = wins.join(d, "conv_id").select(
            "conv_id",
            F.expr(f"wins * {BT_BIG} DIV greatest(dsum, 1)")
            .cast("long")
            .alias("raw"),
        ).localCheckpoint()
        pmax = praw.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
        p = praw.crossJoin(F.broadcast(pmax)).select(
            "conv_id",
            F.expr(f"raw * {BT_SCALE} DIV m").cast("long").alias("pv"),
        ).localCheckpoint()
    return wins.join(p, "conv_id").select(
        F.col("conv_id").cast("long").alias("conv_id"),
        "wins",
        F.col("pv").alias("strength"),
    )


def bt_strength_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bt_strength(derived_transcripts_shared(spark, sf_dir))


def conv_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation quality TREND: the exact-integer OLS slope of
    turn length over turn index — the transcript-curation signal for
    episodes that degrade as they run (answers shrinking toward the
    step limit) vs ones that stay substantive.  Pure sufficient
    statistics: ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` with
    x = turn_idx, y = len(text); numerator and denominator are exact
    bigints, the reported milli-slope is integer division, so the op
    hash-matches an independent engine with no float regression fit.

    Scale shape: ONE map-side-combined aggregate per conversation on
    the extraction partitioning (conv_id) — the five sufficient sums
    are O(1) state per key; nothing else moves.  Conversations with a
    single turn (degenerate denominator) are excluded.

    Output: ``(conv_id, n_turns, slope_num, slope_den, slope_milli)``."""
    t = derived_transcripts(spark, sf_dir).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("x"),
        F.length("text").cast("long").alias("y"),
    )
    agg = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return (
        agg.where(F.col("n") >= 2)
        .select(
            "conv_id",
            F.col("n").alias("n_turns"),
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
                "slope_num"
            ),
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
                "slope_den"
            ),
        )
        .select(
            "conv_id",
            "n_turns",
            "slope_num",
            "slope_den",
            F.expr("slope_num * 1000 DIV slope_den").cast("long").alias(
                "slope_milli"
            ),
        )
    )


PASS_AT_KS = (1, 5)   # the k values reported
PASS_TASK_MOD = 25    # doc_id % mod forms the task axis
PASS_RATE_PPT = 300   # per-attempt success rate, parts per thousand


def pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k estimator (Chen et al. 2021, HumanEval eq. 1)
    over attempt families: ``pass@k = 1 − C(n−c, k) / C(n, k)`` for a
    task with *n* sampled attempts of which *c* passed — the standard
    correction for the naive ``1 − (1 − c/n)^k`` that overestimates
    with small n.  The eval-harness rollup every model-improvement
    loop runs over its generation logs.

    Tasks and verdicts are modeled deterministically on the documents
    axis (``task = doc_id % 25``; an attempt passes iff the md5 draw
    "pass:doc_id" lands under 300/1000), so the whole computation is
    engine-exact: the binomial ratio is expanded to the telescoping
    product ``Π_{i<k} (n−c−i)/(n−i)`` and evaluated in DECIMAL(38,0)
    (the k=5 numerator × 10⁶ reaches ~n⁵·10⁶, past int64 once a task
    has ≳400 failing attempts — decimal keeps it exact to n ≈ 10⁶ per
    task; the oracle mirrors with HUGEINT), final ppm by integer
    division.  Tasks where ``n−c < k`` short-circuit to pass@k = 1
    exactly, as the estimator requires.

    Scale shape: ONE map-side-combined aggregate to task cardinality;
    the per-k expansion is a constant-width projection + explode of a
    2-literal array.  Nothing after the rollup touches data.

    Output: ``(task_id, k, n_attempts, n_correct, pass_ppm)`` for
    tasks with n ≥ k."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    draw = md5_bucket("pass:", "doc_id", mod=1000)
    t = docs.select(
        F.pmod(F.col("doc_id"), F.lit(PASS_TASK_MOD)).alias("task_id"),
        (draw < PASS_RATE_PPT).cast("long").alias("ok"),
    )
    agg = t.groupBy("task_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ok").cast("long").alias("c"),
    )
    frames = []
    for k in PASS_AT_KS:
        frames.append(
            agg.where(F.col("n") >= k).select(
                "task_id",
                F.lit(k).cast("long").alias("k"),
                F.col("n").alias("n_attempts"),
                F.col("c").alias("n_correct"),
                F.when(
                    F.col("n") - F.col("c") < k,
                    F.lit(1_000_000).cast("long"),
                )
                .otherwise(
                    (
                        F.lit(1_000_000).cast("long")
                        - F.expr(
                            # first factor cast to DECIMAL(38,0) so the
                            # whole product evaluates in decimal — the
                            # bigint path overflows at n-c > ~393
                            "CAST(CAST((n - c) AS DECIMAL(38,0))"
                            + "".join(
                                f" * (n - c - {i})" for i in range(1, k)
                            )
                            + " * 1000000 DIV (CAST(n AS DECIMAL(38,0))"
                            + "".join(f" * (n - {i})" for i in range(1, k))
                            + ") AS BIGINT)"
                        )
                    ).cast("long")
                )
                .alias("pass_ppm"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def bleu1_retry_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified-unigram-precision (BLEU-1, Papineni et al. 2002 §2.1)
    between each RETRIED episode's turns and the original episode they
    re-ran — the text-overlap eval a transcript-curation pipeline uses
    to decide whether a retry is a near-verbatim re-run (keep one) or
    a divergent attempt (keep both; preference-pair material).  Runs
    on the planted retried families (convs 36–39 vs 0–3 of the
    ``derived_transcripts_retried`` view).

    Exact integers end to end: clipped count = Σ_tok min(c_cand,
    c_ref) per aligned turn (the "modified" in modified precision —
    a candidate token only scores as often as the reference contains
    it), precision in ppm by integer division.

    Scale shape: token counts are ONE (conv, turn, tok) map-side-
    combined aggregate per side on the extraction partitioning; the
    clip join is keyed on (pair, turn, tok); per-turn rollup follows
    the same keys.  Nothing is quadratic in turn length.

    Output: ``(conv_id, turn_idx, n_cand_tokens, n_clipped,
    bleu1_ppm)`` — one row per retried turn with ≥1 token."""
    t = derived_transcripts_retried(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
    )
    cand = (
        t.where(F.col("conv_id") >= 36)
        .select(
            "conv_id",
            "turn_idx",
            F.explode(toks).alias("tok"),
        )
        .groupBy("conv_id", "turn_idx", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_cand"))
    )
    ref = (
        t.where(F.col("conv_id") < 4)
        .select(
            (F.col("conv_id") + 36).alias("conv_id"),
            "turn_idx",
            F.explode(toks).alias("tok"),
        )
        .groupBy("conv_id", "turn_idx", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ref"))
    )
    joined = cand.join(ref, ["conv_id", "turn_idx", "tok"], "left")
    return (
        joined.groupBy("conv_id", "turn_idx")
        .agg(
            F.sum("c_cand").cast("long").alias("n_cand_tokens"),
            F.sum(
                F.least(F.col("c_cand"), F.coalesce(F.col("c_ref"), F.lit(0)))
            ).cast("long").alias("n_clipped"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "n_cand_tokens",
            "n_clipped",
            F.expr("n_clipped * 1000000 DIV n_cand_tokens").cast("long").alias(
                "bleu1_ppm"
            ),
        )
    )
