"""Table-maintenance verbs: small-file compaction (Iceberg's
``rewrite_data_files`` / Delta ``OPTIMIZE``) on the parquet table model.

Why it's core at 100 TB: a 10^12-turn table written by thousands of
streaming micro-batches or bucket-group commits accumulates millions of
small files; scan throughput then dies on file-open overhead and the
driver's file index.  The maintenance pass rewrites fragmented partitions
into target-size files WITHOUT changing content, verified by
``extractor.checkpoint.content_fingerprint`` (a row count plus the
multiplicity-sensitive decimal sum of per-row xxhash64 values).

Scale posture: the rewrite is one round-robin ``repartition(n_target)``
(a single shuffle of the compacted partition's data — unavoidable, it IS
the rewrite) + two column-pruned fingerprint scans producing one row
each.  On Iceberg this maps to ``CALL system.rewrite_data_files(...)``
with the same verify step free from snapshot statistics.  The rewrite is
committed with ``extractor.publish``.
"""
from __future__ import annotations

import atexit
import math
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from extractor import publish
from extractor.checkpoint import content_fingerprint
from extractor.session import local_frame

_SCRATCH_REGISTERED: set[str] = set()
_STALE_SCRATCH_SECS = 24 * 3600


def _reap_stale_scratch(prefix: str) -> None:
    """Remove same-prefix scratch roots left behind by CRASHED sessions
    (``atexit`` covers clean exits): a scratch dir untouched for a day on
    this host is dead, so repeated driver/bench runs can't fill the temp
    volume.  Live concurrent sessions' dirs are younger and untouched."""
    tmp = tempfile.gettempdir()
    try:
        entries = os.listdir(tmp)
    except OSError:
        return
    now = time.time()
    for e in entries:
        p = os.path.join(tmp, e)
        if not e.startswith(prefix) or p in _SCRATCH_REGISTERED:
            continue
        try:
            if now - os.path.getmtime(p) > _STALE_SCRATCH_SECS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _session_scratch(spark: SparkSession, name: str) -> str:
    """Per-Spark-app scratch root: keyed on ``applicationId`` so two
    concurrent driver/bench sessions on the same host can never overwrite
    each other's fact/dim/landing dirs mid-read, while staying stable
    within one session (overwrite re-runs remain idempotent).  The root
    is removed at interpreter exit, and stale roots from crashed sessions
    are reaped, so the per-app keying stays disk-bounded."""
    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{name}_{spark.sparkContext.applicationId}",
    )
    if root not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _reap_stale_scratch(f"spark_graft_{name}_")
    return root


def _list_parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )


COMPACT_TARGET_BYTES = 128 << 20  # input bytes per output file


def compact_files(
    spark: SparkSession,
    table_dir: str,
    target_files: int | None = None,
) -> dict:
    """Rewrite *table_dir* into ``target_files`` files, or one per
    ``COMPACT_TARGET_BYTES`` of input.

    Returns a stats dict; raises if the rewritten content fingerprint does
    not equal the source's (the rewrite is then rolled back by simply not
    publishing it; the next call's ``publish.stage`` clears it).
    Idempotent: re-running on a compacted table rewrites to the same file
    count."""
    tmp = publish.stage(table_dir)
    files_before = _list_parquet_files(table_dir)
    bytes_before = sum(os.path.getsize(f) for f in files_before)
    df = spark.read.parquet(table_dir)
    before = content_fingerprint(df)
    n_target = target_files or max(
        1, math.ceil(bytes_before / COMPACT_TARGET_BYTES)
    )
    df.repartition(n_target).write.mode("overwrite").parquet(tmp)

    after = content_fingerprint(spark.read.parquet(tmp))
    if after != before:
        raise RuntimeError(
            f"compaction content mismatch on {table_dir}: "
            f"{before} -> {after}; not swapping"
        )
    publish.publish(table_dir)
    files_after = _list_parquet_files(table_dir)
    return {
        "rows": before[0],
        "files_before": len(files_before),
        "files_after": len(files_after),
        "bytes_before": bytes_before,
        "bytes_after": sum(os.path.getsize(f) for f in files_after),
        "content_match": True,
    }


def compact_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: fragment the events table into 16 files in a temp
    dir (the post-streaming-ingest state), compact to 4, and report the
    verified stats.  Deterministic: row count from the corpus, file counts
    pinned by round-robin repartition (events ≫ 16 rows at every SF)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="compact-demo-")
    frag = os.path.join(work, "events")
    try:
        events.repartition(16).write.mode("overwrite").parquet(frag)
        stats = compact_files(spark, frag, target_files=4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return local_frame(
        spark,
        [
            (
                stats["rows"],
                stats["files_before"],
                stats["files_after"],
                stats["content_match"],
            )
        ],
        T.StructType.fromDDL(
            "rows long, files_before int, files_after int, content_match boolean"
        ),
    )


BUCKET_N = 16  # bucket count for the co-located join layout


def write_bucketed(
    df: DataFrame,
    spark: SparkSession,
    table: str,
    key: str,
) -> None:
    """Persist *df* as a bucketed, bucket-sorted external parquet table —
    the layout that makes repeated joins/aggregations on *key*
    SHUFFLE-FREE: both sides of an equi-join on the bucket key with equal
    bucket counts read co-located, pre-sorted buckets, so Catalyst plans
    a SortMergeJoin with NO Exchange on either side (Iceberg: a
    ``bucket(N, key)`` partition transform; Hive/Spark tables: this exact
    ``bucketBy``).  Writing costs one shuffle ONCE; every downstream join
    on the key then skips its per-query shuffle — the standard trade for
    a fact table joined repeatedly on the same key at 100 TB."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.format("parquet")
        .bucketBy(BUCKET_N, key)
        .sortBy(key)
        .option("path", f"{_session_scratch(spark, 'bucketed')}/{table}")
        .mode("overwrite")
        .saveAsTable(table)
    )


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order rollup over BUCKETED layouts: orders and customer
    are both persisted bucketed by custkey (same bucket count), then
    joined and aggregated — the join and the aggregation both reuse the
    bucket layout, so the per-query plan has ZERO Exchange nodes
    (pytest-gated).  Money is summed in exact integer cents
    (per-row round, then long sum) so the oracle — the same rollup as a
    plain SQL join over the raw parquet — hash-matches bit-for-bit."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long").alias(
            "cents"
        ),
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    sfx = "".join(c if c.isalnum() else "_" for c in sf_dir)
    t_o, t_c = f"bkt_orders{sfx}", f"bkt_customer{sfx}"
    write_bucketed(orders, spark, t_o, "custkey")
    write_bucketed(cust, spark, t_c, "custkey")
    # MERGE hint: with a broadcast-sized dim Catalyst would otherwise pick
    # BroadcastHashJoin and skip the bucketed scan entirely; the point of
    # the layout is the shuffle-free sort-merge path a 100 TB fact/fact
    # join takes, so pin it (at real scale neither side broadcasts and
    # the hint is redundant)
    return (
        spark.table(t_o)
        .hint("MERGE")
        .join(spark.table(t_c), "custkey")
        .groupBy("custkey", "c_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.min("o_orderkey").cast("long").alias("first_order"),
        )
    )


def merge_partial_aggs(old_agg: DataFrame, delta_agg: DataFrame,
                       keys: list[str]) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: given
    the MATERIALIZED aggregate of the base table and the aggregate of
    an append-only delta (same schema: *keys* + partial columns), merge
    them into the post-append aggregate WITHOUT rescanning the base —
    ``union → re-sum`` over key-cardinality rows only.  Count columns
    merge by sum, sums by sum; any distributive/algebraic aggregate
    (count, sum, min, max, and avg carried as sum+count) maintains this
    way — the standard IVM identity for self-maintainable views
    (Gupta & Mumick's materialized-view maintenance framework).

    Scale posture: the whole merge touches 2·|keys-cardinality| rows —
    at 10^12 base rows and a per-hour delta, maintenance cost is
    proportional to the AGGREGATE size, not the table; one keyed
    shuffle of the unioned partials (AQE collapses it to a broadcast
    merge when the dimension is small).  Non-key columns must be
    summable partials; min/max extensions pass a per-column merge fn."""
    non_keys = [c for c in old_agg.columns if c not in keys]
    assert delta_agg.columns == old_agg.columns, "partial schemas differ"
    return (
        old_agg.unionAll(delta_agg)
        .groupBy(*keys)
        .agg(*[F.sum(c).cast("long").alias(c) for c in non_keys])
    )


def ivm_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM demo wired for the oracle: the events table is split into a
    'base' (event_id % 10 < 7) and an append 'delta' (the rest); each
    side is aggregated to (event_type, n, sum_value_milli) partials and
    merged with ``merge_partial_aggs``.  Because IVM is EXACT for
    distributive aggregates, the merged result must equal the full-table
    aggregate — which is precisely what the DuckDB oracle computes, so
    the correctness gate checks the maintenance identity itself.
    Integer milli-units keep the sums order-independent."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("value_milli"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value_milli").cast("long").alias("sum_value_milli"),
        )

    base = partial(ev.where(F.pmod("event_id", F.lit(10)) < 7))
    delta = partial(ev.where(F.pmod("event_id", F.lit(10)) >= 7))
    return merge_partial_aggs(base, delta, keys=["event_type"])


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """Key-skew diagnostic: the per-key row-count distribution of *key*
    as ONE row — ``(n_keys, total_rows, max_n, p50_n, p90_n, p99_n,
    top_key, top_n)`` — the measurement that decides whether a join or
    aggregation on this key needs salting (``salted_skew_join``) or AQE
    skew splitting before it burns a 100 TB shuffle on one hot reducer.

    Exact discrete percentiles, engine-reproducible: keys are ranked by
    (count, key) — a TOTAL order, so the value at position
    ``ceil(q·n_keys)`` is unique — rather than via approximate or
    interpolating quantile functions whose semantics differ per engine.

    Plan: one keyed count agg (map-side combined), then the ranking and
    the percentile picks run on the KEY-cardinality relation only —
    a single-partition sort of n_keys rows, never of raw data (for
    >10^9 distinct keys, swap the final sort for the two-level
    distributed prefix-sum in ``ops/dedup.py::pack_sequences``)."""
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(key).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("n", "k")
    ranked = counts.select(
        "k", "n", F.row_number().over(w).alias("rk")
    ).persist()
    n_keys = ranked.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_n"),
    )
    def pick(q: float, name: str) -> DataFrame:
        pos = F.ceil(F.lit(q) * F.col("n_keys")).cast("int")
        return (
            ranked.crossJoin(F.broadcast(n_keys.select("n_keys")))
            .where(F.col("rk") == pos)
            .select(F.col("n").cast("long").alias(name))
        )
    top = (
        ranked.crossJoin(F.broadcast(n_keys.select("n_keys")))
        .where(F.col("rk") == F.col("n_keys"))
        .select(F.col("k").alias("top_key"), F.col("n").cast("long").alias("top_n"))
    )
    out = (
        n_keys.crossJoin(F.broadcast(pick(0.5, "p50_n")))
        .crossJoin(F.broadcast(pick(0.9, "p90_n")))
        .crossJoin(F.broadcast(pick(0.99, "p99_n")))
        .crossJoin(F.broadcast(top))
    )
    return out


def event_user_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile of the events table's user_id key — the diagnostic a
    pipeline runs before keying its sessionize/window stages."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return key_skew_profile(ev, "user_id")


PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics collection (``ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS`` analogue): one row per column of the
    documents table — ``(col_name, n_rows, n_nulls, n_distinct,
    min_val, max_val)`` with min/max rendered as strings (long text
    truncated to 32 chars AFTER the min/max pick, so the pick itself is
    exact).  These are the numbers a cost-based optimizer and a
    zone-map/file-skipping layout both feed on; the engine's
    checkpoint/compaction verbs assume they exist.

    Plan: ONE table scan — all per-column metrics are aggregate
    expressions of a single groupBy().agg(...) (Spark plans the
    multi-column exact distincts via one Expand, acceptable at
    metadata-collection cadence), and the wide 1-row result is
    reshaped to long form with a literal ``stack`` — no second scan,
    no joins.  At 10^12 rows swap the exact distincts for
    ``approx_count_distinct`` / the mergeable HLL in
    ``textops.sketch_profile``; every other metric is already a
    constant-size partial."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            F.substring(F.min(c).cast("string"), 1, 32).alias(f"{c}__min"),
            F.substring(F.max(c).cast("string"), 1, 32).alias(f"{c}__max"),
        ]
    wide = docs.groupBy().agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLS
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack}) AS "
            "(col_name, n_nulls, n_distinct, min_val, max_val)"
        ),
    ).select("col_name", "n_rows", "n_nulls", "n_distinct",
             "min_val", "max_val")


def decile_cutoffs(df: DataFrame, col: str) -> DataFrame:
    """Exact discrete decile cutoffs of *col* as a 1-row DataFrame with
    an ascending 9-element ``cuts`` array: ``cuts[i-1]`` is the smallest
    value whose ≤-count reaches ``ceil(i·n/10)`` — the classic
    value-at-rank definition, computed WITHOUT a global row sort.

    Scale shape: one value-histogram aggregate (``groupBy(col)`` —
    map-side combined, shuffle carries distinct values), then a
    cumulative window over the VALUE DOMAIN (distinct-value cardinality
    rows, e.g. a few thousand distinct lengths — never the corpus), a
    9-way rank probe, and a 9-row collect into the array.  The
    single-partition window is over the histogram, which is why this is
    the 100 TB formulation and ``ntile`` over a global sort is not."""
    from pyspark.sql.window import Window

    n = df.agg(F.count(F.lit(1)).alias("n"))
    hist = df.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    cuts = (
        cum.crossJoin(F.broadcast(n))
        .select("v", "cum", "n", F.explode(F.expr("sequence(1, 9)")).alias("i"))
        # cum >= ceil(i·n/10) in exact integer form (no float division)
        .where(F.col("cum") * 10 >= F.col("i") * F.col("n"))
        .groupBy("i")
        .agg(F.min("v").alias("cut"))
    )
    return cuts.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "cut"))),
            lambda s: s["cut"],
        ).alias("cuts")
    )


def bucket_by_cutoffs(df: DataFrame, col: str,
                      cutoffs: DataFrame) -> DataFrame:
    """Assign each row its 1-based decile bucket: ``1 + |{c ∈ cuts :
    col > c}|``.  The 9-value cutoff array broadcasts; assignment is a
    map-only HOF filter — no shuffle, no sort."""
    return df.crossJoin(F.broadcast(cutoffs)).withColumn(
        "bucket",
        (
            F.lit(1)
            + F.size(F.filter("cuts", lambda c: F.col(col) > c))
        ).cast("int"),
    ).drop("cuts")


def psi_drift_profile(base: DataFrame, current: DataFrame,
                      col: str) -> DataFrame:
    """Population-stability-index drift profile between two corpus
    snapshots — the standard go/no-go check before a new crawl batch
    joins the training mix (PSI > 0.2 on a feature = the distribution
    moved; retrain/inspect).  Buckets are the BASE snapshot's exact
    deciles of *col*; both snapshots are counted per bucket and each
    bucket contributes ``(p_b − p_c)·ln(p_b/p_c)``.

    Exact-integer oracle pattern (PMI/DSIR family): counts are exact
    bigints (zero-count buckets clamped to 1, the standard PSI
    epsilon); the log term is the SUM-OF-LOGS form ``ln c_b + ln n_c −
    ln c_c − ln n_b`` (a product like ``c_b·n_c`` would overflow int64
    at web scale), each log a per-row-deterministic float64 of one
    bigint, rounded to integer micro-units per bucket BEFORE any
    cross-bucket use.

    Output: ``(bucket, base_n, cur_n, psi_micro)`` — 10 rows; the
    total PSI is their sum.

    Scale shape: cutoffs per :func:`decile_cutoffs` (histogram-sized);
    bucket assignment map-only; ONE tagged union aggregate keyed on
    (bucket) with conditional counts — shuffle carries ≤ 10 rows per
    map partition."""
    cuts = decile_cutoffs(base, col)
    tagged = bucket_by_cutoffs(
        base.select(F.col(col)).withColumn("is_base", F.lit(1)),
        col, cuts,
    ).unionByName(
        bucket_by_cutoffs(
            current.select(F.col(col)).withColumn("is_base", F.lit(0)),
            col, cuts,
        )
    )
    counts = tagged.groupBy("bucket").agg(
        F.sum("is_base").cast("long").alias("base_n"),
        F.sum(1 - F.col("is_base")).cast("long").alias("cur_n"),
    )
    totals = counts.agg(
        F.sum("base_n").alias("nb"), F.sum("cur_n").alias("nc")
    )
    cb = F.greatest(F.col("base_n"), F.lit(1)).cast("long")
    cc = F.greatest(F.col("cur_n"), F.lit(1)).cast("long")
    psi = (
        (cb.cast("double") / F.col("nb") - cc.cast("double") / F.col("nc"))
        * (
            F.log(cb.cast("double"))
            + F.log(F.col("nc").cast("double"))
            - F.log(cc.cast("double"))
            - F.log(F.col("nb").cast("double"))
        )
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "base_n",
        "cur_n",
        F.round(psi * F.lit(1_000_000)).cast("long").alias("psi_micro"),
    )


def psi_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of document length between the deterministic snapshot
    split base = ``doc_id % 3 ≠ 0`` vs current = ``doc_id % 3 = 0``
    (stand-ins for 'yesterday's table' and 'the new batch')."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    base = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) != 0)
    cur = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    return psi_drift_profile(base, cur, "n_chars")


ZM_DAYS_PER_FILE = 45          # ingest-clustered layout: days per file
ZM_N_FILES = 64                # hash-scattered layout: file count
ZM_PRED_LO = "1995-01-01"      # audited predicate: orderdate range
ZM_PRED_HI = "1995-06-30"


def zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max data-skipping) effectiveness audit — the
    planning signal behind parquet row-group pruning, Iceberg manifest
    filtering, and Delta file skipping: per synthetic file, the
    ``o_orderdate`` min/max zone plus whether a fixed date-range
    predicate could PRUNE the whole file without reading it.  Two
    layouts of the same rows are audited side-by-side:

    - ``clustered``: files cut by ingest date (``day DIV 45``) — zones
      are tight, almost every out-of-range file prunes;
    - ``scattered``: files cut by ``o_orderkey % 64`` (hash layout) —
      every zone spans the full date range, NOTHING prunes.

    The contrast is the whole argument for Z-order/date clustering at
    100 TB (see ``zorder_key``): identical data, identical predicate,
    ~60× difference in files touched.  Dates are integer day indices
    (``datediff`` from the TPC-H epoch) so the oracle is exact.

    Output: ``(layout, file_id, n_rows, min_day, max_day, pruned)``;
    one map-side-combinable aggregate per layout over one scan each —
    the audit itself never shuffles more than 2×n_files tiny rows."""
    day = F.expr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        " AS BIGINT)"
    )
    lo = F.expr(
        f"CAST(datediff(DATE'{ZM_PRED_LO}', DATE'1992-01-01') AS BIGINT)"
    )
    hi = F.expr(
        f"CAST(datediff(DATE'{ZM_PRED_HI}', DATE'1992-01-01') AS BIGINT)"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").cast("long").alias("k"), day.alias("day")
    )
    layouts = {
        "clustered": F.expr(f"day DIV {ZM_DAYS_PER_FILE}"),
        "scattered": F.pmod(F.col("k"), F.lit(ZM_N_FILES)).cast("long"),
    }
    outs = []
    for name, file_id in layouts.items():
        zones = (
            orders.select(file_id.alias("file_id"), "day")
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("day").cast("long").alias("min_day"),
                F.max("day").cast("long").alias("max_day"),
            )
        )
        outs.append(
            zones.select(
                F.lit(name).alias("layout"),
                "file_id",
                "n_rows",
                "min_day",
                "max_day",
                ((F.col("max_day") < lo) | (F.col("min_day") > hi)).alias(
                    "pruned"
                ),
            )
        )
    return outs[0].unionAll(outs[1])


def schema_evolution_read(spark: SparkSession, sf_dir: str,
                          base_dir: str | None = None) -> DataFrame:
    """Schema-evolution roundtrip — the lakehouse ADD COLUMN story on
    plain parquet: snapshot 1 is written with the ORIGINAL schema
    ``(doc_id, text_len)``, snapshot 2 with the EVOLVED schema adding
    ``lang``; a single ``mergeSchema`` read unifies them (old files
    surface the new column as NULL — exactly Iceberg/Delta read-time
    evolution).  The returned per-lang rollup aggregates the merged
    table, so the oracle (which derives the same rollup straight from
    ``documents``) hash-certifies the WHOLE write→evolve→merge→read
    path, not just the final arithmetic.

    Both snapshots are deterministic functions of ``documents`` (even
    ids → v1, odd ids → v2 with ``lang = 'l' || doc_id % 4``), written
    fresh each call (idempotent overwrite into distinct subdirs).

    Scale: mergeSchema's cost is footer-only schema union across files
    (driver-side, O(files)); the data read stays columnar with pushdown
    intact.  On a catalog table the unified schema comes from metadata
    instead — this op is the parquet-level proof of the same contract.

    Output: ``(lang, n_docs, sum_len)`` with lang NULL for pre-evolution
    rows."""
    base_dir = base_dir or _session_scratch(spark, "schema_evo")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.length("text").cast("long").alias("text_len"),
        )
    )
    v1 = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
    v2 = docs.where(F.pmod("doc_id", F.lit(2)) == 1).withColumn(
        "lang",
        F.concat(F.lit("l"), F.pmod("doc_id", F.lit(4)).cast("string")),
    )
    v1.write.mode("overwrite").parquet(f"{base_dir}/snap=1")
    v2.write.mode("overwrite").parquet(f"{base_dir}/snap=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base_dir}/snap=1", f"{base_dir}/snap=2"
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("text_len").cast("long").alias("sum_len"),
    )


def backfill_partition_overwrite(spark: SparkSession, sf_dir: str,
                                 base_dir: str | None = None) -> DataFrame:
    """Idempotent partition backfill — the everyday lakehouse repair
    job: a table partitioned by ``event_type`` is fully written once,
    then ONE partition ('click') is reprocessed and rewritten with
    ``partitionOverwriteMode=dynamic``, which replaces exactly the
    partitions present in the incoming frame and leaves every other
    partition's files untouched (static overwrite mode would wipe the
    whole table — the classic backfill footgun this op certifies
    against).  The backfill recomputes ``value_cents`` with a +1 cent
    correction so the read-back rollup PROVES which partition was
    replaced.

    The returned per-partition rollup aggregates the final on-disk
    table; the oracle derives the same numbers straight from ``events``
    (clicks corrected, everything else original), hash-certifying the
    write→backfill→read path like ``schema_evolution_read`` does.

    Scale: dynamic overwrite is a metadata swap per touched partition —
    backfill cost tracks the reprocessed partitions, never the table.

    Output: ``(event_type, n_rows, sum_value_cents)``."""
    base_dir = base_dir or _session_scratch(spark, "backfill")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("value_cents"),
    )
    (
        ev.write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(base_dir)
    )
    clicks_fixed = ev.where(F.col("event_type") == "click").withColumn(
        "value_cents", F.col("value_cents") + F.lit(1)
    )
    (
        clicks_fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(base_dir)
    )
    final = spark.read.parquet(base_dir)
    return final.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("value_cents").cast("long").alias("sum_value_cents"),
    )


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-Expectations-style data-quality suite as ONE engine op:
    declarative rules (not-null, uniqueness, domain membership, range,
    derived-column consistency) evaluated over ``documents`` and
    ``events``, one result row per rule with exact counts and a binary
    verdict — the contract gate a curation pipeline runs before
    publishing a snapshot.

    Scale shape: ONE fused aggregate pass per table — every rule rides
    the same scan as a conditional count column (uniqueness via
    ``count − approx?`` no: exact ``count(DISTINCT)`` is its own Expand
    at scale, so uniqueness here counts *duplicated* keys through a
    ``count − count(DISTINCT)`` on the already-aggregated fused pass,
    which Spark plans as two map-side-combined aggregates over one
    scan); results unpivot via ``stack`` into rule rows (constant-size,
    driver never touches data).

    Output: ``(table_name, rule, n_checked, n_failed, fail_ppm, pass)``."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("doc_id").isNull().cast("long")).cast("long").alias(
            "f_id_null"
        ),
        (
            F.count(F.lit(1)) - F.countDistinct("doc_id")
        ).cast("long").alias("f_id_dup"),
        F.sum(F.col("text").isNull().cast("long")).cast("long").alias(
            "f_text_null"
        ),
        F.sum(
            (
                F.col("text").isNotNull()
                & (F.col("n_chars") != F.length("text"))
            ).cast("long")
        ).cast("long").alias("f_nchars"),
        F.sum((F.col("n_chars") < 0).cast("long")).cast("long").alias(
            "f_neg_len"
        ),
    )
    d_rows = d.selectExpr(
        "stack(5,"
        " 'doc_id_not_null', n, f_id_null,"
        " 'doc_id_unique', n, f_id_dup,"
        " 'text_not_null', n, f_text_null,"
        " 'n_chars_matches_text', n, f_nchars,"
        " 'n_chars_non_negative', n, f_neg_len"
        ") AS (rule, n_checked, n_failed)"
    ).select(F.lit("documents").alias("table_name"), "*")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    in_domain = F.col("event_type").isin(*EVENT_TYPES)
    e = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("event_id").isNull().cast("long")).cast("long").alias(
            "f_id_null"
        ),
        (
            F.count(F.lit(1)) - F.countDistinct("event_id")
        ).cast("long").alias("f_id_dup"),
        F.sum((~in_domain).cast("long")).cast("long").alias("f_domain"),
        F.sum((F.col("value") < 0).cast("long")).cast("long").alias("f_neg"),
        F.sum(
            (
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp"))
            ).cast("long")
        ).cast("long").alias("f_ts"),
    )
    e_rows = e.selectExpr(
        "stack(5,"
        " 'event_id_not_null', n, f_id_null,"
        " 'event_id_unique', n, f_id_dup,"
        " 'event_type_in_domain', n, f_domain,"
        " 'value_non_negative', n, f_neg,"
        " 'ts_in_range', n, f_ts"
        ") AS (rule, n_checked, n_failed)"
    ).select(F.lit("events").alias("table_name"), "*")
    out = d_rows.unionByName(e_rows)
    return out.select(
        "table_name",
        "rule",
        "n_checked",
        F.col("n_failed").cast("long").alias("n_failed"),
        F.expr("n_failed * 1000000 DIV n_checked").cast("long").alias(
            "fail_ppm"
        ),
        (F.col("n_failed") == 0).alias("pass"),
    )


def dpp_partition_prune(spark: SparkSession, sf_dir: str,
                        base_dir: str | None = None) -> DataFrame:
    """Dynamic partition pruning end to end — THE join optimization for
    partitioned 100 TB fact tables: the fact side is written
    partitioned by day, the dim side (a tiny campaign calendar) is
    filtered at runtime, and Catalyst injects the dim's surviving keys
    as a partition filter into the fact SCAN (``dynamicpruning``
    subquery in PartitionFilters) — so the job reads ~4/30 of the
    partitions instead of scanning everything and filtering after the
    join.  The pytest plan gate asserts the pruning subquery is
    actually in the scan; this query certifies the RESULT of the
    pruned plan against an unpartitioned oracle.

    Fact: events re-written partitioned by ``day`` (dates derived from
    ts).  Dim: the distinct day calendar with ``is_campaign = (day of
    month % 7 == 1)``, also on disk so the filter is a real scan
    filter, not a folded literal.  Join on day, broadcast dim, rollup
    per event_type.

    Output: ``(event_type, n_rows, sum_value_cents)`` over campaign
    days only."""
    base_dir = base_dir or _session_scratch(spark, "dpp")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("value_cents"),
        # int yyyymmdd key: partition-column type inference reads it back
        # as INT on both the fact and dim sides (a yyyy-MM-dd string would
        # silently come back DATE on the partitioned side only)
        F.date_format("ts", "yyyyMMdd").cast("int").alias("day"),
        F.dayofmonth("ts").alias("dom"),
    )
    ev.drop("dom").write.mode("overwrite").partitionBy("day").parquet(
        f"{base_dir}/fact"
    )
    (
        ev.select("day", "dom").distinct()
        # keep the campaign flag as a raw int: the runtime filter below
        # must stay an EqualTo(attr, literal) — a bare boolean column
        # fails Catalyst's isLikelySelective test after `= true` folds,
        # and no pruning subquery gets inserted at all
        .select("day", (F.col("dom") % 7).alias("dom7"))
        .write.mode("overwrite")
        .parquet(f"{base_dir}/dim")
    )
    fact = spark.read.parquet(f"{base_dir}/fact")
    dim = spark.read.parquet(f"{base_dir}/dim").where(F.col("dom7") == 1)
    joined = fact.join(F.broadcast(dim), "day")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("value_cents").cast("long").alias("sum_value_cents"),
    )


CORRUPT_MOD = 23  # doc_id % mod == 0 lines are truncated (invalid JSON)


def jsonl_corrupt_read(spark: SparkSession, sf_dir: str,
                       base_dir: str | None = None) -> DataFrame:
    """Malformed-record containment at ingest — the PERMISSIVE-mode
    contract every JSONL landing zone relies on: corrupt lines must
    land in ``_corrupt_record`` (whole line preserved for quarantine
    replay) WITHOUT failing the job or polluting typed columns, and
    the valid rows must parse exactly.  A deterministic JSONL render
    of the documents table is written with every ``doc_id % 23 == 0``
    line truncated (always invalid — the closing brace is gone), read
    back with an explicit schema + ``_corrupt_record``, and rolled up
    per category.

    Scale shape: the render is a map-only projection + text sink; the
    read-back rollup is ONE fused conditional aggregate (the
    ``dq_expectations`` shape).  Corrupt-line handling is per-row
    local — no skew, no shuffle amplification.

    Output: ``(category, n_rows)`` where category is the parsed lang
    or '_corrupt'."""
    base_dir = base_dir or _session_scratch(spark, "jsonl")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    line = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('", "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    rendered = docs.withColumn("line", line).select(
        F.when(
            F.col("doc_id") % CORRUPT_MOD == 0,
            F.expr("substr(line, 1, greatest(length(line) - 5, 1))"),
        )
        .otherwise(F.col("line"))
        .alias("value")
    )
    rendered.write.mode("overwrite").text(f"{base_dir}/landing")
    parsed = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{base_dir}/landing")
    )
    return (
        parsed.select(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("_corrupt"))
            .otherwise(F.col("lang"))
            .alias("category")
        )
        .groupBy("category")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
