"""Focused tests for the bucketed-cogroup form of ``cogroup_merge_asof``
(round-6 optimization): grouping moved from raw ``user_id`` to a hash
bucket, with the per-user alignment done by ``merge_asof(by=...)`` inside
the bucket — results must be bucket-count-invariant and keep the exact
tie/no-match semantics of the per-user form."""

import datetime as dt

import pytest

from extractor.ops.temporal import cogroup_merge_asof


def _ts(sec):
    return dt.datetime(2030, 1, 1, 0, 0, sec)


# (event_id, ts, user_id, event_type)
EVENTS = [
    # user 1: view 100 @t1, views 101+102 tied @t3, clicks @t2/@t3/@t5
    (100, _ts(1), 1, "view"),
    (200, _ts(2), 1, "click"),   # -> view 100 (t1)
    (101, _ts(3), 1, "view"),
    (102, _ts(3), 1, "view"),    # tie: max view_event (102) must win
    (201, _ts(3), 1, "click"),   # same-instant: backward includes t3 -> 102
    (202, _ts(5), 1, "click"),   # -> 102 (t3)
    # user 2: click before any view -> null match; later click -> view
    (210, _ts(1), 2, "click"),   # -> null
    (110, _ts(2), 2, "view"),
    (211, _ts(4), 2, "click"),   # -> 110
    # user 3: views only -> no output rows
    (120, _ts(1), 3, "view"),
    # user 4: clicks only -> null matches
    (220, _ts(9), 4, "click"),
    # NULL user: the old groupBy(user_id) kept one null group that
    # as-of-matched within itself — the null bucket must reproduce that
    (130, _ts(1), None, "view"),
    (230, _ts(3), None, "click"),  # -> view 130
    (231, _ts(0), None, "click"),  # before the null view -> null match
]

EXPECTED = {
    200: (100, 1_000_000),
    201: (102, 0),
    202: (102, 2_000_000),
    210: (None, None),
    211: (110, 2_000_000),
    220: (None, None),
    230: (130, 2_000_000),
    231: (None, None),
}


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("asof"))
    spark.createDataFrame(
        EVENTS, "event_id long, ts timestamp, user_id long, event_type string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")
    return path


@pytest.mark.parametrize("parallelism", [1, 7, 64])
def test_bucketed_asof_semantics_and_invariance(
    spark, events_dir, parallelism, monkeypatch
):
    """The bucket count follows the cluster's parallelism (16, 28 and 256
    buckets here); the result must not."""
    from pyspark import SparkContext

    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: parallelism)
    )
    rows = cogroup_merge_asof(spark, events_dir).collect()
    got = {
        r["click_event"]: (r["view_event"], r["gap_us"]) for r in rows
    }
    assert got == EXPECTED
    # gap_us consistency with the raw columns
    for r in rows:
        if r["view_us"] is not None:
            assert r["gap_us"] == r["click_us"] - r["view_us"]
