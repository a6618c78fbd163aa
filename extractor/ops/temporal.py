"""Temporal join operators Spark's DataFrame API lacks: as-of join and
range (interval-containment) join.

The reference has no time-series surface at all; these are the two
canonical "custom operator" gaps called out for training-data pipelines
(event attribution, campaign/window tagging, sensor alignment).  Both are
implemented as compositions of existing DataFrame ops — no Python in the
hot path, no driver-side loops — using the two published scale patterns:

* **as-of** via union + partitioned window ("last non-null carry-forward"),
  the same shape pandas' ``merge_asof`` distributes to: ONE shuffle on the
  key, a single window pass, no per-key iteration and no range explosion.
* **range join** via bin bucketing (the trick behind Databricks'
  ``RANGE_JOIN`` hint): ranges explode to the fixed-width bins they cover,
  points compute their bin for free, the join becomes an equi-join on bin
  followed by an exact between-filter — turning the O(n·m) cross filter
  Catalyst would otherwise plan (BroadcastNestedLoopJoin) into a hash
  join whose cost tracks matches, not pairs.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from extractor.ops import md5_bucket


def _epoch_us(c: Column) -> Column:
    """Exact epoch microseconds for TIMESTAMP and TIMESTAMP_NTZ alike
    (NTZ casts through LTZ using the session zone — pin the session to
    UTC, as ``extractor.session.get_spark`` does, for absolute fidelity;
    differences and bin widths are zone-shift-invariant either way)."""
    return F.unix_micros(c.cast("timestamp_ltz"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    right_cols: tuple = (),
) -> DataFrame:
    """Backward as-of join: for every left row attach the latest right row
    of the same ``user_id`` with ``right.ts <= left.ts`` (ties: the right
    row at the exact same instant matches).  Right columns come back
    prefixed ``asof_``, plus ``asof_lag_us`` (exact integer microsecond
    gap); all NULL when no right row precedes the left row.

    Scale shape: union the two sides (map-only), ONE shuffle partitioning
    by ``user_id``, one ordered window doing last-non-null carry-forward, then
    filter back to left rows.  No join node at all, so no skew/broadcast
    decision to get wrong; cost is a sort within each key partition.
    Right rows sharing an exact (user_id, ts) instant must be unique (dedup
    upstream) — carry-forward would otherwise pick the last in sort
    order, which is nondeterministic across engines."""
    right_cols = tuple(right_cols)
    left_cols = [c for c in left.columns]
    l = left.select(
        *left_cols,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
          for c in right_cols],
        F.lit(None).cast("long").alias("_r_us"),
    )
    r = right.select(
        *[
            F.col(c) if c in ("ts", "user_id") else F.lit(None).cast(
                left.schema[c].dataType
            ).alias(c)
            for c in left_cols
        ],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        _epoch_us(F.col("ts")).alias("_r_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        *left_cols,
        "_side",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
          for c in right_cols],
        F.last("_r_us", ignorenulls=True).over(w).alias("_m_us"),
    )
    out = carried.where(F.col("_side") == 1).drop("_side")
    lag = _epoch_us(F.col("ts")) - F.col("_m_us")
    return out.select(
        *left_cols,
        *[F.col(f"asof_{c}") for c in right_cols],
        lag.alias("asof_lag_us"),
    )


def range_join(
    points: DataFrame,
    ranges: DataFrame,
    bin_us: int = 4 * 3600 * 1_000_000,
) -> DataFrame:
    """Interval-containment join: every (point, range) pair with
    ``start_ts <= ts <= end_ts`` (inclusive both ends).
    Returns all point columns + all range columns.

    Scale shape: each range explodes to the ``ceil(len/bin)+1`` fixed
    bins it covers; each point computes its single bin map-side; the pair
    space is then an equi-join on bin (hash join, AQE-eligible) plus the
    exact between-filter.  A containing pair shares exactly one bin (the
    point's), so no post-join dedup is needed.  Pick ``bin_us`` near the
    median range length: the explode factor stays ~2 rows per range while
    each bin's candidate set stays near its true match set.  Catalyst's
    own plan for the raw inequality predicate is a nested-loop cross —
    O(points × ranges) — which this composition avoids entirely."""
    p = points.withColumn(
        "_bin", F.floor(_epoch_us(F.col("ts")) / F.lit(bin_us))
    )
    r = ranges.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(_epoch_us(F.col("start_ts")) / F.lit(bin_us)),
                F.floor(_epoch_us(F.col("end_ts")) / F.lit(bin_us)),
            )
        ),
    )
    return (
        p.join(r, "_bin")
        .where(
            F.col("ts").between(F.col("start_ts"), F.col("end_ts"))
        )
        .drop("_bin")
    )


LOCF_UNIT_US = 3_600 * 1_000_000  # grid step: one hour


def gap_fill_locf(events: DataFrame) -> DataFrame:
    """Time-series resampling with last-observation-carried-forward: each
    ``user_id``'s events are bucketed onto a regular ``LOCF_UNIT_US`` grid
    spanning its own [min, max] bucket range; buckets with events keep the
    LAST event's ``value`` (latest ``ts``, ``event_id`` desc — deterministic under
    same-instant events), empty buckets carry the previous bucket's value
    forward and are flagged ``is_gap``.  The batch analogue of a
    watermarked streaming resample, and the alignment step every
    sensor/metrics pipeline runs before joins or model features.

    Scale shape (100 TB): the per-bucket reduction is one windowed
    dedup over (key, bucket) — same shuffle the grid join needs; the grid
    itself is generated from the per-key bounds aggregate (one tiny row
    per key) and exploded map-side, so grid cost tracks keys × buckets,
    never raw event count; the carry-forward is ONE ordered window per
    key over grid-sized (not event-sized) data.  No Python, no driver
    loops; value is carried verbatim (no float arithmetic), so the
    output is hash-exact against an independent engine."""
    unit = F.lit(LOCF_UNIT_US)
    e = events.select(
        F.col("user_id").alias("k"),
        _epoch_us(F.col("ts")).alias("us"),
        F.col("value").alias("v"),
        F.col("event_id").alias("tb"),
    ).withColumn("bucket", F.expr(f"us DIV {LOCF_UNIT_US}"))
    w_last = Window.partitionBy("k", "bucket").orderBy(
        F.desc("us"), F.desc("tb")
    )
    per_bucket = (
        e.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select("k", "bucket", "v", F.lit(True).alias("has_row"))
    )
    bounds = e.groupBy("k").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = bounds.select(
        "k", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    w_fill = (
        Window.partitionBy("k")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_bucket, ["k", "bucket"], "left")
        .select(
            F.col("k").alias("user_id"),
            (F.col("bucket") * unit).alias("bucket_us"),
            F.last("v", ignorenulls=True).over(w_fill).alias("value_filled"),
            F.col("has_row").isNull().alias("is_gap"),
        )
    )


ZSCORE_WINDOW = 20
ZSCORE_Z2 = 4  # flag when z² > 4, i.e. |z| > 2


def zscore_outliers(events: DataFrame) -> DataFrame:
    """Rolling z-score outlier detection per user: flag an event whose
    value deviates more than |z| > √ZSCORE_Z2 standard deviations from the
    trailing ``ZSCORE_WINDOW`` events' mean — the batch analogue of a streaming
    anomaly monitor, in EXACT integer arithmetic.

    Values are fixed-pointed to milli-units; the trailing frame
    (``ROWS BETWEEN ZSCORE_WINDOW PRECEDING AND 1 PRECEDING`` — the current
    row never contaminates its own baseline) accumulates Σx and Σx² as
    int64, and the test ``(n·v − s)² > ZSCORE_Z2·(n·q − s²)`` is the z² > ZSCORE_Z2
    inequality cleared of divisions and square roots — every compared
    quantity is an exact integer, so engines agree bit-for-bit and a
    SQL oracle can check the flagged set directly (float window sums
    would differ by summation order: Spark accumulates frames in row
    order, DuckDB uses segment trees).  Only rows with a FULL trailing
    window are eligible (a short history has no stable baseline).

    Magnitude safety: with values ≤ ~5·10^5 milli-units and a window ≤
    ~10³, every term stays ≤ ~10^15 < 2^63.

    Plan: one window over (user_id ORDER BY ts, event_id) — a single
    hash partition + in-partition sort, streaming state of one
    ``ZSCORE_WINDOW``-row ring buffer; no joins, no Python.  Output: the
    flagged events ``(event_id, user_id, value_milli, win_sum,
    win_sumsq)``."""
    v = F.round(F.col("value") * 1000).cast("long")
    base = events.select("event_id", "user_id", "ts", v.alias("value_milli"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZSCORE_WINDOW, -1)
    )
    framed = base.select(
        "event_id",
        "user_id",
        "value_milli",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum("value_milli").over(w).alias("win_sum"),
        F.sum(F.col("value_milli") * F.col("value_milli"))
        .over(w)
        .alias("win_sumsq"),
    )
    n = F.col("n_win")
    s = F.col("win_sum")
    q = F.col("win_sumsq")
    v0 = F.col("value_milli")
    dev2 = (n * v0 - s) * (n * v0 - s)
    var_n2 = n * q - s * s
    return framed.where(
        (n == ZSCORE_WINDOW) & (dev2 > F.lit(ZSCORE_Z2) * var_n2)
    ).select("event_id", "user_id", "value_milli", "win_sum", "win_sumsq")


RETENTION_EPOCH = "2024-01-01"  # week-index origin (testdata starts here)


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention-cohort matrix — the standard activation/churn
    rollup of any event-stream product analytics (and, for a training
    pipeline, the user-activity weighting signal): users are cohorted
    by their FIRST active week, then each (cohort, week-offset) cell
    counts the distinct users active that many weeks later.

    Weeks are pure integers (``floor(datediff(day, epoch, ts) / 7)``) —
    never ``date_trunc('week', ...)``, whose week-start convention is
    an engine-specific trap; integer week indices make the oracle exact
    and the math timezone-free.  FLOOR (not truncate-toward-zero)
    division, so pre-epoch events land in negative weeks identically in
    both engines.

    Output: ``(cohort_week, week_offset, n_users, n_events)``.

    Scale shape (10^12 events): (1) per-user min-week — one map-side-
    combinable agg keyed by user; (2) events⋈cohort hash equi-join on
    user_id (both sides naturally partition by user; no broadcast
    needed, no skew — user activity is the partition key); (3) the
    distinct-user count per cell pre-aggregates on (cohort, offset,
    user) before the final cell rollup, so reducer keys never exceed
    user-cardinality.  Nothing driver-side."""
    wk = F.expr(
        f"CAST(floor(datediff(CAST(ts AS DATE), DATE'{RETENTION_EPOCH}') / 7)"
        " AS BIGINT)"
    )
    e = events.select("user_id", wk.alias("wk"))
    cohort = e.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    cells = (
        e.join(cohort, "user_id")
        .select(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return cells.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
    )


COGROUP_ASOF_SCHEMA = (
    "user_id long, click_event long, click_us long, "
    "view_event long, view_us long, gap_us long"
)


def cogroup_merge_asof(spark, sf_dir: str) -> DataFrame:
    """Backward as-of attribution of every click to the user's latest
    preceding view, via the one Pandas-on-Spark operator family the
    engine didn't yet exercise: ``groupBy().cogroup().applyInPandas``.
    Both streams shuffle ONCE on the grouping key and arrive at the
    same task as two aligned pandas frames — the natural home for
    per-key sorted-merge logic (here ``pd.merge_asof``) that would
    otherwise need the union+window trick of :func:`asof_join`.

    The cogroup key is a deterministic HASH BUCKET of ``user_id``
    (``pmod(xxhash64(user_id), buckets)``), not the raw user: the
    Python function is invoked once per cogroup key, so keying on a
    high-cardinality column pays the dispatch + frame-construction
    overhead per USER (measured ~9 ms × 1.5k users ≈ 9.7 s at sf0.1)
    while the per-user work inside is microseconds.  Bucketing amortises
    the dispatch across ~(users/buckets) users per call and hands the
    per-user alignment to ``merge_asof(by="user_id")`` — the same
    grouped two-pointer pass, run in C over the whole bucket (measured
    1.3 s).  Bucket count follows ``defaultParallelism`` (scale-
    adaptive, never a hard-coded local tune); results are bucket-count-
    invariant because every user lands wholly in one bucket.

    Exactness: timestamps convert to integer epoch microseconds BEFORE
    the merge; views are pre-sorted ``(view_us, view_event)`` so a
    same-instant tie deterministically resolves to the max view_event
    (merge_asof keeps the last matching row IN-GROUP under ``by=``,
    and the sort preserves within-user order) — the oracle replicates
    that with a max() over the tied instant.  Verified row-identical to
    the per-user form at sf0.01/sf0.1.

    Scale posture: cogroup is one hash co-partitioning of each side on
    the bucket (the same single shuffle a join would pay) and the
    per-bucket merge is O(n_views + n_clicks) grouped two-pointer work
    in Arrow batches — no window sort over the union, no broadcast, no
    skew beyond the keys' own activity (salt hyperactive users upstream
    if needed, as in ``salted_skew_join``).

    Output: ``(user_id, click_event, click_us, view_event, view_us,
    gap_us)``; view columns NULL when no view precedes the click."""
    buckets = max(spark.sparkContext.defaultParallelism * 4, 16)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = _epoch_us(F.col("ts"))
    # NULL users get the reserved bucket -1 (pmod is always in [0, B)):
    # xxhash64(NULL) is the SEED (42), not NULL, so without the guard
    # null users would share a bucket with real users and their matching
    # would ride on pandas' NaN-factorization behaviour in merge_asof.
    bk = F.when(
        F.col("user_id").isNull(), F.lit(-1)
    ).otherwise(F.pmod(F.xxhash64("user_id"), F.lit(buckets))).alias("bk")
    clicks = ev.where(F.col("event_type") == "click").select(
        bk,
        "user_id",
        F.col("event_id").cast("long").alias("click_event"),
        us.alias("click_us"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        bk,
        "user_id",
        F.col("event_id").cast("long").alias("view_event"),
        us.alias("view_us"),
    )

    def merge(left, right):
        import pandas as pd

        left = left.sort_values(["click_us", "click_event"])
        right = right.sort_values(["view_us", "view_event"])
        if len(right) and len(left) and left["user_id"].isna().all():
            # the reserved NULL-user bucket (-1) holds exactly the rows
            # the old groupBy(user_id) put in its single null group —
            # which as-of-matched within itself.  merge_asof(by=) NaN
            # matching is a pandas implementation detail, so merge this
            # bucket un-keyed instead.
            out = pd.merge_asof(
                left,
                right[["view_event", "view_us"]],
                left_on="click_us",
                right_on="view_us",
                direction="backward",
            )
        elif len(right):
            out = pd.merge_asof(
                left,
                right[["user_id", "view_event", "view_us"]],
                left_on="click_us",
                right_on="view_us",
                by="user_id",
                direction="backward",
            )
        else:  # no views in this bucket: all-null match, skip the merge
            out = left.copy()
            out["view_event"] = None
            out["view_us"] = None
        out["view_event"] = out["view_event"].astype("Int64")
        out["view_us"] = out["view_us"].astype("Int64")
        out["gap_us"] = (out["click_us"] - out["view_us"]).astype("Int64")
        return out[
            [
                "user_id",
                "click_event",
                "click_us",
                "view_event",
                "view_us",
                "gap_us",
            ]
        ]

    return (
        clicks.groupBy("bk")
        .cogroup(views.groupBy("bk"))
        .applyInPandas(merge, COGROUP_ASOF_SCHEMA)
    )


def scd2_user_history(spark, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 maintenance — the dimensional-
    modeling staple: collapse a change stream into versioned validity
    intervals ``[effective_from, effective_to)`` with an ``is_current``
    flag, one row per attribute VERSION (a new version opens only when
    the tracked attribute actually changes, not on every event).  Here
    the tracked attribute is the user's event_type (their "segment");
    the change stream is the events table ordered by (ts, event_id).

    All-window construction: lag() finds change points, a running
    count of change points numbers the versions, one (user, version)
    rollup takes the interval bounds, lead() closes each interval with
    the next version's start — four operators, ALL on the user_id
    partitioning, so the stream shuffles once.  No self-joins.

    Scale: per-user state is O(1) through every window; the output is
    bounded by the number of CHANGES, not events — exactly why SCD2 is
    the storage format for slowly-changing attributes at 10^12-event
    scale.

    Output: ``(user_id, version_n, segment, effective_from,
    effective_to, is_current)`` — effective_to NULL on the open
    version."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", F.col("event_type").alias("segment")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("segment").over(w).isNull()
        | (F.col("segment") != F.lag("segment").over(w))
    ).cast("long")
    versioned = ev.withColumn(
        "version_n",
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = versioned.groupBy("user_id", "version_n").agg(
        F.min_by("segment", F.struct("ts", "event_id")).alias("segment"),
        F.min("ts").alias("effective_from"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version_n")
    return spans.select(
        "user_id",
        F.col("version_n").cast("long").alias("version_n"),
        "segment",
        "effective_from",
        F.lead("effective_from").over(w2).alias("effective_to"),
        F.lead("effective_from").over(w2).isNull().alias("is_current"),
    )


LATE_WATERMARK_S = 3600   # audited watermark: 1 hour
LATE_MAX_DELAY_S = 7200   # synthetic arrival skew: 0..2h


def late_data_audit(spark, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit — the batch replay every streaming team
    runs before picking ``withWatermark``'s delay: with arrival order
    reconstructed, how many rows would a W-second watermark DROP (rows
    whose event time is more than W behind the max event time already
    seen when they arrive)?  Too-small W silently loses late data;
    too-large W holds state; this measures the actual tail.

    Arrival times are synthesized deterministically (event ts + an
    md5-keyed delay in [0, 2h) — the planted-payload pattern), so both
    engines replay the identical arrival sequence.  The watermark here
    is per event_type — the per-key approximation of Spark's global
    watermark, which is what a per-source audit wants anyway.

    Scale shape: ONE window (running max of event time in arrival
    order, per event_type — streams through the sort, O(1) state) +
    one rollup.  The arrival sort is the audit's inherent cost; a real
    deployment reads arrival order from the ingest log's own order.

    Output: ``(event_type, n_rows, n_late, late_ppm, max_lateness_s)``."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        # epoch seconds, floored — a direct BIGINT cast is illegal for
        # TIMESTAMP_NTZ; integer µs DIV 1e6 floors exactly like the
        # oracle's floor(epoch(ts)), no double ever touched
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) DIV 1000000"
        ).cast("long").alias("ets"),
    )
    delay = md5_bucket("delay:", "event_id", mod=LATE_MAX_DELAY_S)
    arr = ev.withColumn("ats", F.col("ets") + delay)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ats", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = arr.select(
        "event_type",
        "ets",
        (F.coalesce(F.max("ets").over(w), F.lit(0)) - F.col("ets")).alias(
            "lateness_s"
        ),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.col("lateness_s") > LATE_WATERMARK_S).cast("long"))
        .cast("long")
        .alias("n_late"),
        F.expr(
            f"CAST(sum(CASE WHEN lateness_s > {LATE_WATERMARK_S} THEN 1 ELSE 0"
            " END) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("late_ppm"),
        F.max("lateness_s").cast("long").alias("max_lateness_s"),
    )
