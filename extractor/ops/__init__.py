"""Training-data pipeline operators over the engine's tables.

Each module pairs a Spark DataFrame implementation with (where expressible)
an ANSI/DuckDB SQL oracle used by the driver's correctness gate:

- ``relational``  — filters/aggregations/joins/windows (reference §2.2/2.4/2.5)
- ``textops``     — cleanup chain (T10), token counting, quality scoring,
                    language-ID heuristic, fingerprinting
- ``dedup``       — exact, MinHash+LSH, SimHash, n-gram Jaccard
- ``similarity``  — brute-force cosine top-k + LSH-bucketed ANN
- ``sampling``    — keyed sampling, corpus mixing, training order
- ``tokenize``    — BPE merge learning + map-only encode
- ``convops``     — conversation-level curation over transcript-shaped data
- ``temporal``    — as-of and interval-containment joins
- ``links``       — anchor/link extraction and link-graph ops
- ``structure``   — heading-outline side table from the DOM parser
- ``export``      — JSONL training-shard sink with a verified manifest
- ``maintenance`` — small-file compaction of parquet tables
- ``multimodal``  — binary-column decode/feature plumbing

The keyed-uniform bucket (first 8 md5 hex digits of ``salt || key``)
has one Spark helper, ``md5_bucket`` below; its DuckDB twin is
``__spark_entry__._dd_md5_bucket``.  The iterative operators run their
rounds through ``fixpoint`` below.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, functions as F


def md5_bucket(
    salt: str, *parts: str | Column, mod: int | None = None
) -> Column:
    """The engine's keyed-uniform primitive: the first 8 md5 hex digits of
    ``salt || parts...`` read as a BIGINT in [0, 2^32), then ``% mod``
    when *mod* is given.  A ``str`` part names a column and is cast to
    string; a Column part is concatenated as is.  A NULL part gives NULL.

    Its DuckDB twin is ``__spark_entry__._dd_md5_bucket``, which
    reproduces it bit for bit."""
    cols = [F.col(p).cast("string") if isinstance(p, str) else p for p in parts]
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), *cols)), 1, 8), 16, 10
    ).cast("long")
    return h if mod is None else h % mod


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    signature: list[Column],
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, r)`` for ``r = 1..max_rounds`` until a
    round leaves *signature* (named aggregate Columns over the state)
    unchanged; return ``(state, converged)``, ``converged=False`` when
    the budget runs out first.  The initial state and each round's are
    materialized by one eager ``localCheckpoint``, and the signature is
    read off that same job with ``DataFrame.observe``: convergence costs
    no Spark action of its own.

    Exact only if, between consecutive rounds, the signature changes
    whenever the state does: e.g. a sum of values that only grow (or
    only fall) over a fixed key set, the row count of a set that only
    grows, or a multiset hash up to its collision rate."""

    def settle(df: DataFrame) -> tuple[DataFrame, dict]:
        obs = Observation()
        df = df.observe(obs, *signature).localCheckpoint()
        return df, obs.get

    state, sig = settle(state)
    for r in range(1, max_rounds + 1):
        state, new = settle(step(state, r))
        if new == sig:
            return state, True
        sig = new
    return state, False
