"""Small-file compaction (Iceberg rewrite_data_files / OPTIMIZE analogue):
content preservation, crash-leftover cleanup, idempotence, size-derived
target count."""
import os

import pytest
from pyspark.sql import functions as F

from extractor.ops.maintenance import compact_files, _list_parquet_files
from extractor.plan_lint import formatted_plan


def _frag(spark, tmp_path, n_files=12, rows=5000):
    path = str(tmp_path / "tbl")
    spark.range(rows).select(
        "id", (F.col("id") * 3).alias("v"), F.md5(F.col("id").cast("string")).alias("s")
    ).repartition(n_files).write.parquet(path)
    return path


def test_compacts_and_preserves_content(spark, tmp_path):
    path = _frag(spark, tmp_path)
    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    stats = compact_files(spark, path, target_files=3)
    assert stats["files_before"] == 12
    assert stats["files_after"] == 3
    assert len(_list_parquet_files(path)) == 3
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    assert stats["content_match"] is True


def test_idempotent(spark, tmp_path):
    path = _frag(spark, tmp_path)
    compact_files(spark, path, target_files=3)
    stats2 = compact_files(spark, path, target_files=3)
    assert stats2["files_before"] == 3 and stats2["files_after"] == 3


def test_size_derived_target(spark, tmp_path, monkeypatch):
    from extractor.ops import maintenance

    path = _frag(spark, tmp_path)
    total = sum(os.path.getsize(f) for f in _list_parquet_files(path))
    monkeypatch.setattr(maintenance, "COMPACT_TARGET_BYTES", total // 2 + 1)
    stats = compact_files(spark, path)
    assert stats["files_after"] == 2


def test_stale_tmp_and_bak_cleaned(spark, tmp_path):
    path = _frag(spark, tmp_path)
    os.makedirs(f"{path}.tmp/junk")
    os.makedirs(f"{path}.bak/junk")
    stats = compact_files(spark, path, target_files=2)
    assert stats["files_after"] == 2
    assert not os.path.exists(f"{path}.tmp")
    assert not os.path.exists(f"{path}.bak")


def test_crash_between_swap_renames_recovers(spark, tmp_path):
    """Death after table->bak but before tmp->table leaves no live table;
    the next compact_files call must restore the backup, not crash."""
    path = _frag(spark, tmp_path, n_files=6, rows=1000)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    os.rename(path, f"{path}.bak")  # simulate the crash window
    stats = compact_files(spark, path, target_files=2)
    assert stats["files_before"] == 6 and stats["files_after"] == 2
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    assert not os.path.exists(f"{path}.bak")


def test_bucketed_colocated_join_zero_exchange(spark):
    """The whole point of the bucketBy layout: the equi-join AND the
    downstream aggregation on the bucket key plan with ZERO Exchange
    nodes (both sides read co-located buckets; the agg reuses the join's
    output partitioning), via SortMergeJoin."""
    from extractor.ops.maintenance import bucketed_colocated_join

    df = bucketed_colocated_join(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_bucketed_join_matches_plain_join(spark):
    from extractor.ops.maintenance import bucketed_colocated_join
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, bucketed_colocated_join(spark, sf).collect()))
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    plain = sorted(
        map(
            tuple,
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy(orders.o_custkey.alias("custkey"), "c_name")
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
                ).cast("long").alias("total_cents"),
                F.min("o_orderkey").cast("long").alias("first_order"),
            )
            .collect(),
        )
    )
    assert got == plain


# ------------------------------------------------- decile cutoffs / PSI


def test_decile_cutoffs_known_values(spark):
    from extractor.ops.maintenance import decile_cutoffs

    # values 1..10, one each: cut_i = smallest v with cum*10 >= i*10
    df = spark.createDataFrame([(i,) for i in range(1, 11)], "n_chars long")
    cuts = decile_cutoffs(df, "n_chars").collect()[0]["cuts"]
    assert cuts == [1, 2, 3, 4, 5, 6, 7, 8, 9]


def test_bucket_by_cutoffs_boundaries(spark):
    from extractor.ops.maintenance import bucket_by_cutoffs, decile_cutoffs

    df = spark.createDataFrame([(i,) for i in range(1, 11)], "n_chars long")
    cuts = decile_cutoffs(df, "n_chars")
    out = {
        r["n_chars"]: r["bucket"]
        for r in bucket_by_cutoffs(df, "n_chars", cuts).collect()
    }
    # value v lands in bucket v: v exceeds exactly v-1 cutoffs
    assert out == {v: v for v in range(1, 11)}


def test_psi_zero_on_identical_distributions(spark):
    from extractor.ops.maintenance import psi_drift_profile

    df = spark.createDataFrame(
        [(i % 50,) for i in range(500)], "n_chars long"
    )
    out = psi_drift_profile(df, df, "n_chars").collect()
    assert sum(r["psi_micro"] for r in out) == 0
    assert all(r["base_n"] == r["cur_n"] for r in out)


def test_psi_positive_on_shifted_distribution(spark):
    from extractor.ops.maintenance import psi_drift_profile

    base = spark.createDataFrame(
        [(i % 100,) for i in range(1000)], "n_chars long"
    )
    cur = spark.createDataFrame(
        [(50 + i % 100,) for i in range(1000)], "n_chars long"
    )
    out = psi_drift_profile(base, cur, "n_chars").collect()
    total = sum(r["psi_micro"] for r in out)
    # half the current mass sits above base's max bucket: strong drift
    assert total > 200_000  # PSI > 0.2, the standard action threshold


def test_length_curriculum_profile_shape(spark):
    from extractor.ops.sampling import length_curriculum_buckets

    rows = length_curriculum_buckets(spark, "/root/testdata/sf0.001").collect()
    assert 1 <= len(rows) <= 10
    total = sum(r["n_docs"] for r in rows)
    # buckets ordered by length: min/max ranges must not overlap
    srt = sorted(rows, key=lambda r: r["bucket"])
    for a, b in zip(srt, srt[1:]):
        assert a["max_chars"] <= b["min_chars"]
    assert total > 0


def test_zonemap_clustered_prunes_scattered_does_not(spark):
    from extractor.ops.maintenance import zonemap_prune_stats

    rows = zonemap_prune_stats(spark, "/root/testdata/sf0.001").collect()
    by_layout = {"clustered": [], "scattered": []}
    for r in rows:
        by_layout[r["layout"]].append(r)
    # same rows audited under both layouts
    assert sum(r["n_rows"] for r in by_layout["clustered"]) == sum(
        r["n_rows"] for r in by_layout["scattered"]
    )
    # date-clustered files skip; hash-scattered zones mostly span the
    # range (at sf0.001 a ~23-row file can miss the window by chance,
    # so assert the ordering, not absolute zero)
    def pruned_frac(rs):
        return sum(r["pruned"] for r in rs) / len(rs)

    assert pruned_frac(by_layout["clustered"]) > 0.5
    assert (
        pruned_frac(by_layout["clustered"])
        > 2 * pruned_frac(by_layout["scattered"])
    )
    # zones are real bounds
    assert all(r["min_day"] <= r["max_day"] for r in rows)
