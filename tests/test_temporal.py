"""As-of and range joins (extractor/ops/temporal.py).

No reference analogue (the reference has no time-series surface); the
end-to-end semantics are oracle-checked against DuckDB's native ASOF and
inequality joins via the `asof_view_attribution` / `range_join_campaigns`
entries — these tests pin edge semantics and plan shapes.
"""
import datetime as dt

import pytest

from pyspark.sql import functions as F

from extractor.ops.temporal import asof_join, range_join
from extractor.plan_lint import formatted_plan


def _ts(minutes):
    return dt.datetime(2024, 1, 1, 0, minutes)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(10)), (2, 10, _ts(30)), (3, 20, _ts(5)), (4, 30, _ts(7))],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(100, 10, _ts(8), 1.5), (101, 10, _ts(30), 2.5), (102, 20, _ts(6), 3.5)],
        "event_id long, user_id long, ts timestamp_ntz, value double",
    )
    return left, right


def test_asof_backward_and_ties_and_no_match(spark, sides):
    left, right = sides
    out = asof_join(left, right, right_cols=("event_id", "value"))
    got = {r["event_id"]: r.asDict() for r in out.collect()}
    assert len(got) == 4
    # user 10 @10min -> view @8min
    assert got[1]["asof_event_id"] == 100 and got[1]["asof_value"] == 1.5
    assert got[1]["asof_lag_us"] == 2 * 60 * 1_000_000
    # exact-same-instant right row matches (<=, not <)
    assert got[2]["asof_event_id"] == 101 and got[2]["asof_lag_us"] == 0
    # user 20 @5min: the only view is @6min, later -> no match
    assert got[3]["asof_event_id"] is None and got[3]["asof_lag_us"] is None
    # user 30 has no right rows at all
    assert got[4]["asof_event_id"] is None


def test_asof_plan_single_shuffle_no_join(spark, sides):
    left, right = sides
    plan = (asof_join(left, right, right_cols=("value",))
            ._jdf.queryExecution().executedPlan().toString())
    # union + window: exactly one exchange (on the by key), no join node
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_range_join_matches_inclusive_bounds_and_overlaps(spark):
    points = spark.createDataFrame(
        [(1, _ts(0)), (2, _ts(10)), (3, _ts(20)), (4, _ts(59))],
        "pid long, ts timestamp_ntz",
    )
    ranges = spark.createDataFrame(
        [(10, _ts(0), _ts(10)), (11, _ts(10), _ts(25))],
        "rid long, start_ts timestamp_ntz, end_ts timestamp_ntz",
    )
    out = range_join(points, ranges, bin_us=7 * 60 * 1_000_000)
    got = sorted((r["pid"], r["rid"]) for r in out.collect())
    # p2 @10min sits on both ranges' boundary (inclusive both ends)
    assert got == [(1, 10), (2, 10), (2, 11), (3, 11)]


def test_range_join_plan_is_hash_join_not_nested_loop(spark):
    points = spark.createDataFrame([(1, _ts(0))], "pid long, ts timestamp_ntz")
    ranges = spark.createDataFrame(
        [(10, _ts(0), _ts(10))],
        "rid long, start_ts timestamp_ntz, end_ts timestamp_ntz",
    )
    plan = (range_join(points, ranges)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_gap_fill_locf_hand_series(spark):
    from extractor.ops.temporal import gap_fill_locf

    H = dt.timedelta(hours=1)
    t0 = dt.datetime(2024, 1, 1, 0, 30)
    ev = spark.createDataFrame(
        [
            # user 10: events in hours 0 and 3 -> gaps at 1, 2 carry 1.0
            (1, 10, t0, 1.0),
            (2, 10, t0 + 3 * H, 4.0),
            # same-instant tie in hour 3: higher event_id wins
            (3, 10, t0 + 3 * H, 5.0),
            # user 20: single event -> single-bucket grid, no gaps
            (4, 20, t0 + 10 * H, 9.0),
        ],
        "event_id long, user_id long, ts timestamp_ntz, value double",
    )
    out = {
        (r["user_id"], r["bucket_us"]): (r["value_filled"], r["is_gap"])
        for r in gap_fill_locf(ev).collect()
    }
    us = 3_600 * 1_000_000
    h0 = 473_352  # epoch hours of 2024-01-01 00:xx UTC
    assert out[(10, h0 * us)] == (1.0, False)
    assert out[(10, (h0 + 1) * us)] == (1.0, True)  # gap carries 1.0
    assert out[(10, (h0 + 2) * us)] == (1.0, True)
    assert out[(10, (h0 + 3) * us)] == (5.0, False)  # tie: event_id 3 wins
    assert out[(20, (h0 + 10) * us)] == (9.0, False)
    assert len(out) == 5  # user 10: 4 buckets; user 20: 1 bucket


def test_gap_fill_locf_plan_no_python_no_cartesian(spark):
    from extractor.ops.temporal import gap_fill_locf

    ev = spark.createDataFrame(
        [(1, 10, dt.datetime(2024, 1, 1), 1.0)],
        "event_id long, user_id long, ts timestamp_ntz, value double",
    )
    plan = formatted_plan(gap_fill_locf(ev))
    # no Python execution stage (the createDataFrame source's
    # applySchemaToPythonRDD scan is not one) and no cross product
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "MapInArrow",
                 "FlatMapGroupsInArrow", "CartesianProduct"):
        assert node not in plan, node
