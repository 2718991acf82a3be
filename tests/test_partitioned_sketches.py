"""Per-partition sketch fragments (VERDICT r11 item 6): the 100 TB
serving shape the metadata join loop claims — a date-partitioned table
landed one partition at a time, each landing dropping its own CMS/HLL
fragment under ``_sketches/<col>/part_<...>``, merged on read to exactly
the whole table's sketch. The daily job must be IDEMPOTENT: re-landing a
day replaces the data partition (dynamic partition overwrite) and its
fragment (subdirectory overwrite) instead of double-counting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.sketch import (
    choose_join_strategy,
    cms_cardinality,
    cms_sketch,
)
from dwh_etl_framework_spark.sources.sinks import (
    decision_from_metadata,
    read_table_ndv,
    read_table_sketch,
    write_partition_with_sketches,
    write_table_with_sketches,
)

from conftest import SF_DIR


def _orders_by_day(spark, n_days=3):
    """The orders fixture sliced into n_days deterministic 'days'."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    with_day = orders.withColumn(
        "day", (F.col("o_orderkey") % n_days).cast("int")
    )
    return [with_day.filter(F.col("day") == d) for d in range(n_days)]


def test_partitioned_landing_merges_to_the_whole_table_sketch(spark, tmp_path):
    """Three per-day landings must leave (a) a hive layout plain reads
    see whole and sketch-free, (b) fragments whose merge-on-read equals
    the one-shot whole-table sketch bit-for-bit, (c) a metadata-only
    decision identical to the inline-scan decision (the f38 pin, now on
    the partitioned shape)."""
    days = _orders_by_day(spark)
    path = str(tmp_path / "orders_by_day")
    tags = [
        write_partition_with_sketches(d, path, ["o_custkey"], ["day"])
        for d in days
    ]
    assert tags == ["part_day=0", "part_day=1", "part_day=2"]

    # hive layout + plain read unaffected by the metadata dir
    assert sorted(
        p.name for p in (tmp_path / "orders_by_day").glob("day=*")
    ) == ["day=0", "day=1", "day=2"]
    back = spark.read.parquet(path)
    full = days[0].unionByName(days[1]).unionByName(days[2])
    assert back.count() == full.count()

    # merged fragments == the one-shot sketch, cell for cell
    merged, w = read_table_sketch(spark, path, "o_custkey")
    oneshot = cms_sketch(full.select("o_custkey"), "o_custkey", w)
    assert (
        merged.exceptAll(oneshot).count() == 0
        and oneshot.exceptAll(merged).count() == 0
    )

    # decision from partitioned metadata == decision from inline scans
    dim = str(tmp_path / "customer")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    write_table_with_sketches(customer, dim, ["c_custkey"], mode="overwrite")
    got = decision_from_metadata(
        spark, path, "o_custkey", dim, "c_custkey",
        broadcast_threshold_rows=10**9,
    )
    want = choose_join_strategy(
        cms_sketch(full.select("o_custkey"), "o_custkey").localCheckpoint(),
        cms_sketch(customer.select("c_custkey"), "c_custkey").localCheckpoint(),
        broadcast_threshold_rows=10**9,
    )
    assert got == want


def test_reland_is_idempotent_and_reflects_partition_changes(spark, tmp_path):
    """Re-running a day's landing must not double-count (the at-least-once
    orchestration case), and landing a CHANGED day must serve exactly the
    new content — fragment replacement, not accumulation."""
    days = _orders_by_day(spark)
    path = str(tmp_path / "orders_by_day")
    for d in days:
        write_partition_with_sketches(d, path, ["o_custkey"], ["day"])
    merged, _ = read_table_sketch(spark, path, "o_custkey")
    n0 = int(cms_cardinality(merged).first()["n_rows"])
    ndv0 = read_table_ndv(spark, path, "o_custkey")
    full_rows = spark.read.parquet(path).count()
    assert n0 == full_rows

    # idempotent re-land of day 1: identical counts, identical data
    write_partition_with_sketches(days[1], path, ["o_custkey"], ["day"])
    merged, _ = read_table_sketch(spark, path, "o_custkey")
    assert int(cms_cardinality(merged).first()["n_rows"]) == n0
    assert read_table_ndv(spark, path, "o_custkey") == ndv0
    assert spark.read.parquet(path).count() == full_rows

    # re-land day 1 with half its rows: counts track the survivors exactly
    half = days[1].filter(F.col("o_orderkey") % 2 == 0)
    write_partition_with_sketches(half, path, ["o_custkey"], ["day"])
    merged, _ = read_table_sketch(spark, path, "o_custkey")
    n_half = int(cms_cardinality(merged).first()["n_rows"])
    assert n_half == spark.read.parquet(path).count()
    assert n_half < n0


def test_partition_landing_guards(spark, tmp_path):
    """A multi-partition input is a caller bug (it would mislabel the
    fragment), and an explicit width conflicting with landed fragments
    must refuse rather than strand unmergeable metadata."""
    days = _orders_by_day(spark)
    path = str(tmp_path / "orders_by_day")
    two_days = days[0].unionByName(days[1])
    with pytest.raises(ValueError, match="distinct"):
        write_partition_with_sketches(two_days, path, ["o_custkey"], ["day"])
    write_partition_with_sketches(
        days[0], path, ["o_custkey"], ["day"], w=256
    )
    with pytest.raises(ValueError, match="conflicts"):
        write_partition_with_sketches(
            days[1], path, ["o_custkey"], ["day"], w=128
        )
    # omitting w ADOPTS the landed width instead
    write_partition_with_sketches(days[1], path, ["o_custkey"], ["day"])
    _, w = read_table_sketch(spark, path, "o_custkey")
    assert w == 256


def test_partition_pruned_scan_after_partitioned_landing(spark, tmp_path):
    """The landing's whole point at 100 TB: a day-filtered read must
    prune to that day's files (PartitionFilters in the scan, one day's
    rows out)."""
    days = _orders_by_day(spark)
    path = str(tmp_path / "orders_by_day")
    for d in days:
        write_partition_with_sketches(d, path, ["o_custkey"], ["day"])
    scan = spark.read.parquet(path).filter(F.col("day") == 1)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    assert scan.count() == days[1].count()


def test_rebuild_keeps_partition_fragments_so_a_reland_stays_exact(
    spark, tmp_path
):
    """A rebuild of a hive-partitioned table must land per-partition
    fragments under the writer's tags: a whole-table fragment would make
    a later re-land of an existing day add that day's rows a second
    time (the CMS row count is documented as exact)."""
    from dwh_etl_framework_spark.sources.sinks import rebuild_table_sketches

    days = _orders_by_day(spark)
    path = str(tmp_path / "orders_by_day")
    for d in days:
        write_partition_with_sketches(d, path, ["o_custkey"], ["day"])
    assert rebuild_table_sketches(spark, path) == ["o_custkey"]
    frag_dir = tmp_path / "orders_by_day" / "_sketches" / "o_custkey"
    assert sorted(p.name for p in frag_dir.iterdir() if p.is_dir()) == [
        "part_day=0", "part_day=1", "part_day=2",
    ]

    write_partition_with_sketches(days[1], path, ["o_custkey"], ["day"])
    merged, _ = read_table_sketch(spark, path, "o_custkey")
    on_disk = spark.read.parquet(path).count()
    assert int(cms_cardinality(merged).first()["n_rows"]) == on_disk
    assert on_disk == sum(d.count() for d in days)
