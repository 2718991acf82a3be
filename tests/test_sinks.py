"""Sinks (F15-F17): partitioned datalake writes and the partition pruning

they unlock downstream — the reference wrote flat dirs and could never
prune (airflow_etl.py:433-439)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.sources.sinks import overwrite_table, write_table

from conftest import SF_DIR


def test_partitioned_write_and_pruning(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_table(orders, path, partition_by=["order_year"], mode="overwrite")

    back = spark.read.parquet(path)
    assert back.count() == orders.count()

    pruned = back.filter(F.col("order_year") == 1997)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in plan and "order_year" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    expected = orders.filter(F.col("order_year") == 1997).count()
    assert pruned.count() == expected


def test_overwrite_table_truncate_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    df1 = spark.range(100).withColumn("v", F.lit("a"))
    df2 = spark.range(10).withColumn("v", F.lit("b"))
    overwrite_table(df1, path)
    overwrite_table(df2, path)  # truncate + reload (R12/F16)
    back = spark.read.parquet(path)
    assert back.count() == 10
    assert {r.v for r in back.select("v").distinct().collect()} == {"b"}


def test_append_mode(spark, tmp_path):
    path = str(tmp_path / "t2")
    write_table(spark.range(5), path, mode="append", target_file_partitions=2)
    write_table(spark.range(5), path, mode="append", target_file_partitions=2)
    assert spark.read.parquet(path).count() == 10


# ---- sketch metadata at sink time (VERDICT r10 #6) ----------------------


def test_sketch_metadata_rides_invisibly_and_serves_the_decision(spark, tmp_path):
    """write_table_with_sketches lands per-key CMS fragments under
    _sketches/ INSIDE the table dir; a plain read of the table path must
    not see them, and decision_from_metadata must return EXACTLY the
    decision an inline scan-sketch produces — metadata-only planning."""
    from dwh_etl_framework_spark.operators.sketch import (
        choose_join_strategy,
        cms_sketch,
    )
    from dwh_etl_framework_spark.sources.sinks import (
        decision_from_metadata,
        write_table_with_sketches,
    )

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    lp, pp = str(tmp_path / "li"), str(tmp_path / "pt")
    write_table_with_sketches(lineitem, lp, ["l_partkey"], mode="overwrite")
    write_table_with_sketches(part, pp, ["p_partkey"], mode="overwrite")

    # the table read is untouched by the metadata dir
    back = spark.read.parquet(lp)
    assert back.count() == lineitem.count()
    assert sorted(back.columns) == sorted(lineitem.columns)

    got = decision_from_metadata(
        spark, lp, "l_partkey", pp, "p_partkey",
        broadcast_threshold_rows=10**9,
    )
    want = choose_join_strategy(
        cms_sketch(lineitem.select("l_partkey"), "l_partkey").localCheckpoint(),
        cms_sketch(part.select("p_partkey"), "p_partkey").localCheckpoint(),
        broadcast_threshold_rows=10**9,
    )
    assert got == want
    assert got.strategy == "broadcast_right"


def test_appended_sketch_fragments_merge_to_the_union_sketch(spark, tmp_path):
    """Two appends leave two counter fragments; merge-on-read must equal
    the sketch of the unioned data bit-for-bit (CMS is deterministic and
    SUM-mergeable), so incremental loads keep planner statistics exact
    without ever rescanning."""
    from dwh_etl_framework_spark.operators.sketch import cms_sketch
    from dwh_etl_framework_spark.sources.sinks import (
        read_table_sketch,
        write_table_with_sketches,
    )

    a = spark.range(0, 5000).select(F.col("id").alias("k"))
    b = spark.range(5000, 6000).select(F.col("id").alias("k"))
    path = str(tmp_path / "t")
    write_table_with_sketches(a, path, ["k"], mode="append")
    write_table_with_sketches(b, path, ["k"], mode="append")
    merged, w = read_table_sketch(spark, path, "k")
    union_sk = cms_sketch(a.unionByName(b).select("k"), "k", w)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, union_sk.collect())
    )


def test_mixed_width_sketch_fragments_refused(spark, tmp_path):
    import pytest

    from dwh_etl_framework_spark.sources.sinks import (
        read_table_sketch,
        write_table_with_sketches,
    )

    df = spark.range(100).select(F.col("id").alias("k"))
    path = str(tmp_path / "t")
    write_table_with_sketches(df, path, ["k"], mode="append", w=128)
    write_table_with_sketches(df, path, ["k"], mode="append", w=256)
    with pytest.raises(ValueError, match="mixed widths"):
        read_table_sketch(spark, path, "k")


def test_ndv_tier_and_system_r_estimate(spark, tmp_path):
    """The HLL NDV metadata (NOTES r10 weakness #5): appended register
    fragments MAX-merge on read; per-key NDV lands within HLL error of
    the exact distinct count; and the System-R estimate from metadata
    alone is TIGHT on the dim join where the CMS inner-product bound is
    loose — while the CMS bound stays one-sided safe."""
    from dwh_etl_framework_spark.operators.sketch import cms_join_size
    from dwh_etl_framework_spark.sources.sinks import (
        ndv_join_estimate,
        read_table_ndv,
        read_table_sketch,
        write_table_with_sketches,
    )

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    lp, pp = str(tmp_path / "li"), str(tmp_path / "pt")
    # append in two fragments to exercise the merge-on-read path
    half = lineitem.filter(F.col("l_orderkey") % 2 == 0)
    rest = lineitem.filter(F.col("l_orderkey") % 2 != 0)
    write_table_with_sketches(half, lp, ["l_partkey"], mode="append")
    write_table_with_sketches(rest, lp, ["l_partkey"], mode="append")
    write_table_with_sketches(part, pp, ["p_partkey"], mode="overwrite")

    exact_ndv = lineitem.select("l_partkey").distinct().count()
    got_ndv = read_table_ndv(spark, lp, "l_partkey")
    # m=64 registers → ~13% standard error; 3σ bound (the NDV is a
    # costing statistic, not an oracle value)
    assert abs(got_ndv - exact_ndv) <= max(5, 0.4 * exact_ndv)

    est = ndv_join_estimate(spark, lp, "l_partkey", pp, "p_partkey")
    assert est["n_left"] == lineitem.count()
    assert est["n_right"] == part.count()
    exact_join = lineitem.join(
        part, lineitem.l_partkey == part.p_partkey
    ).count()
    # System-R: tight (within 2x either way on the uniform fixture)
    assert exact_join / 2 <= est["est_join_rows_ndv"] <= exact_join * 2
    # CMS: one-sided safe, and looser than the NDV estimate's error
    lsk, _ = read_table_sketch(spark, lp, "l_partkey")
    rsk, _ = read_table_sketch(spark, pp, "p_partkey")
    cms_est = cms_join_size(lsk, rsk).first()["est_join_size"]
    assert cms_est >= exact_join


def test_erasure_subtracts_cms_exactly_and_invalidates_ndv(spark, tmp_path):
    """Right-to-erasure against the metadata tier: a negative CMS
    fragment keeps cardinality and the join-size bound describing
    EXACTLY the surviving rows (counters are linear); the HLL tier
    cannot subtract, so its fragments are removed and a reader fails
    loudly instead of overcounting."""
    import pytest

    from dwh_etl_framework_spark.operators.sketch import (
        cms_cardinality,
        cms_sketch,
    )
    from dwh_etl_framework_spark.sources.sinks import (
        read_table_ndv,
        read_table_sketch,
        subtract_table_sketch,
        write_table_with_sketches,
    )

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    lp = str(tmp_path / "li")
    write_table_with_sketches(lineitem, lp, ["l_partkey"], mode="overwrite")
    erased = lineitem.filter(F.col("l_partkey") % 7 == 0)
    survivors = lineitem.filter(F.col("l_partkey") % 7 != 0)
    subtract_table_sketch(spark, lp, erased, erasure_id="req1")
    # idempotent: re-running the SAME erasure (crash recovery) replaces
    # its fragment instead of double-subtracting
    subtract_table_sketch(spark, lp, erased, erasure_id="req1")

    merged, w = read_table_sketch(spark, lp, "l_partkey")
    assert (
        cms_cardinality(merged).first()["n_rows"] == survivors.count()
    )
    # the subtracted sketch equals the survivors' sketch bit-for-bit
    # on every populated cell (zero-count cells may linger as rows)
    want = {
        (r["r"], r["col"]): r["cnt"]
        for r in cms_sketch(
            survivors.select("l_partkey"), "l_partkey", w
        ).collect()
    }
    got = {
        (r["r"], r["col"]): r["cnt"]
        for r in merged.collect()
        if r["cnt"] != 0
    }
    assert got == want
    with pytest.raises(Exception):
        read_table_ndv(spark, lp, "l_partkey")


def test_erasure_covers_every_sketched_key_by_default(spark, tmp_path):
    """Review r11: repairing one column while others keep counting
    erased rows is silent corruption — the default enumerates every
    sketched key from the metadata dir."""
    from dwh_etl_framework_spark.operators.sketch import cms_cardinality
    from dwh_etl_framework_spark.sources.sinks import (
        read_table_sketch,
        sketched_keys,
        subtract_table_sketch,
        write_table_with_sketches,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "o")
    write_table_with_sketches(
        orders, path, ["o_custkey", "o_orderkey"], mode="overwrite"
    )
    assert sketched_keys(spark, path) == ["o_custkey", "o_orderkey"]
    erased = orders.filter(F.col("o_custkey") % 5 == 0)
    survivors_n = orders.count() - erased.count()
    subtract_table_sketch(spark, path, erased, erasure_id="gdpr-42")
    for col in ("o_custkey", "o_orderkey"):
        merged, _ = read_table_sketch(spark, path, col)
        assert cms_cardinality(merged).first()["n_rows"] == survivors_n, col


# ---- crash consistency + erasure/append interplay (ADVICE r11) ----------


def test_pending_marker_makes_crashed_append_loud_and_rebuild_repairs(
    spark, tmp_path
):
    """ADVICE r11 #1: the data-landed-sketch-missing window of an append
    must never serve an undercounting sketch. A crash inside
    write_table_with_sketches leaves a _pending_ marker; every reader
    refuses until rebuild_table_sketches republishes from a full scan."""
    import pytest

    from dwh_etl_framework_spark.operators.sketch import cms_cardinality
    from dwh_etl_framework_spark.sources.sinks import (
        SKETCH_DIR,
        read_table_ndv,
        read_table_sketch,
        rebuild_table_sketches,
        sketched_keys,
        write_table,
        write_table_with_sketches,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "o")
    write_table_with_sketches(orders, path, ["o_custkey"], mode="overwrite")
    n0 = orders.count()
    assert cms_cardinality(
        read_table_sketch(spark, path, "o_custkey")[0]
    ).first()["n_rows"] == n0

    # simulate the crash window: data appended, sketches never published
    (tmp_path / "o" / SKETCH_DIR / "_pending_deadbeef").write_text("")
    write_table(orders.limit(100), path, mode="append")

    for reader in (
        lambda: read_table_sketch(spark, path, "o_custkey"),
        lambda: read_table_ndv(spark, path, "o_custkey"),
        lambda: sketched_keys(spark, path),
        lambda: write_table_with_sketches(  # a new append must not compound
            orders.limit(1), path, ["o_custkey"], mode="append"
        ),
    ):
        with pytest.raises(IOError, match="pending|crashed"):
            reader()

    rebuilt = rebuild_table_sketches(spark, path)
    assert rebuilt == ["o_custkey"]
    merged, _ = read_table_sketch(spark, path, "o_custkey")
    assert cms_cardinality(merged).first()["n_rows"] == n0 + 100
    assert read_table_ndv(spark, path, "o_custkey") > 0
    assert not (tmp_path / "o" / SKETCH_DIR / "_pending_deadbeef").exists()


def test_append_after_erasure_keeps_ndv_loud_until_rebuild(spark, tmp_path):
    """ADVICE r11 #2: after an erasure removed the HLL tier, a later
    append must NOT quietly recreate it covering only the new rows —
    the tombstone keeps read_table_ndv failing until a full rebuild,
    while the linear CMS tier keeps serving exact counts throughout."""
    import pytest

    from dwh_etl_framework_spark.operators.sketch import cms_cardinality
    from dwh_etl_framework_spark.sources.sinks import (
        HLL_TOMBSTONE_SUFFIX,
        SKETCH_DIR,
        read_table_ndv,
        read_table_sketch,
        rebuild_table_sketches,
        subtract_table_sketch,
        write_table_with_sketches,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    old = orders.filter(F.col("o_orderkey") % 2 == 0)
    new = orders.filter(F.col("o_orderkey") % 2 != 0)
    path = str(tmp_path / "o")
    write_table_with_sketches(old, path, ["o_custkey"], mode="overwrite")
    erased = old.filter(F.col("o_custkey") % 5 == 0)
    subtract_table_sketch(spark, path, erased, erasure_id="req9")
    assert (
        tmp_path / "o" / SKETCH_DIR / f"o_custkey{HLL_TOMBSTONE_SUFFIX}"
    ).exists()

    # the append lands data + CMS fragment but SKIPS the HLL tier
    write_table_with_sketches(new, path, ["o_custkey"], mode="append")
    assert not (tmp_path / "o" / SKETCH_DIR / "o_custkey__hll").exists()
    with pytest.raises(IOError, match="invalidated"):
        read_table_ndv(spark, path, "o_custkey")
    merged, _ = read_table_sketch(spark, path, "o_custkey")
    want = old.count() - erased.count() + new.count()
    assert cms_cardinality(merged).first()["n_rows"] == want

    # rebuild rescans: NDV serves again, covering EVERY on-disk row,
    # and the tombstone is gone
    rebuild_table_sketches(spark, path)
    on_disk = spark.read.parquet(path)
    exact_ndv = on_disk.select("o_custkey").distinct().count()
    est = read_table_ndv(spark, path, "o_custkey")
    assert abs(est - exact_ndv) <= 0.35 * exact_ndv  # m=64 portable HLL
    assert not (
        tmp_path / "o" / SKETCH_DIR / f"o_custkey{HLL_TOMBSTONE_SUFFIX}"
    ).exists()


def test_overwrite_after_erasure_clears_tombstone_with_fresh_full_hll(
    spark, tmp_path
):
    """A full overwrite wipes the table dir (tombstone included) and
    lands a complete fresh HLL — the one append-side path that may
    recreate the NDV tier, because it covers every row again."""
    from dwh_etl_framework_spark.sources.sinks import (
        read_table_ndv,
        subtract_table_sketch,
        write_table_with_sketches,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "o")
    write_table_with_sketches(orders, path, ["o_custkey"], mode="overwrite")
    erased = orders.filter(F.col("o_custkey") % 3 == 0)
    subtract_table_sketch(spark, path, erased, erasure_id="req1")
    survivors = orders.join(erased, ["o_custkey"], "left_anti")
    write_table_with_sketches(survivors, path, ["o_custkey"], mode="overwrite")
    assert read_table_ndv(spark, path, "o_custkey") > 0


class _Crash(Exception):
    pass


def _crash_after(monkeypatch, k: int) -> list[str]:
    """Make the k-th side effect of a sketched write raise right after
    it lands: a marker touch, the data write, or a fragment write.
    Returns the log of side effects seen (k=0 never raises)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from dwh_etl_framework_spark.sources import sinks

    seen: list[str] = []

    def wrap(fn, kind):
        def inner(*args, **kwargs):
            out = fn(*args, **kwargs)
            seen.append(kind)
            if len(seen) == k:
                raise _Crash(kind)
            return out

        return inner

    monkeypatch.setattr(sinks, "_touch", wrap(sinks._touch, "marker"))
    monkeypatch.setattr(sinks, "write_table", wrap(sinks.write_table, "data"))
    monkeypatch.setattr(
        DataFrameWriter, "parquet", wrap(DataFrameWriter.parquet, "fragment")
    )
    return seen


def _assert_readers_refuse(spark, path: str, keys: list[str]) -> None:
    import pytest

    from dwh_etl_framework_spark.sources.sinks import (
        choose_chain_join_order_from_metadata,
        decision_from_metadata,
        ndv_join_estimate,
        read_chain_stats,
        read_table_ndv,
        read_table_sketch,
        sketched_keys,
    )

    k0, k1 = keys
    for reader in (
        lambda: read_table_sketch(spark, path, k0),
        lambda: read_table_ndv(spark, path, k1),
        lambda: read_chain_stats(spark, [(path, k0)], [(path, k1)]),
        lambda: sketched_keys(spark, path),
        lambda: ndv_join_estimate(spark, path, k0, path, k1),
        lambda: decision_from_metadata(spark, path, k0, path, k1),
        lambda: choose_chain_join_order_from_metadata(
            spark, [(path, k0), (path, k1)]
        ),
    ):
        with pytest.raises(IOError, match="pending|crashed"):
            reader()


def _assert_exact(spark, path: str, keys: list[str]) -> None:
    from dwh_etl_framework_spark.sources.sinks import read_chain_stats

    on_disk = spark.read.parquet(path).count()
    ns, ndvs = read_chain_stats(spark, [(path, k) for k in keys], [(path, keys[0])])
    assert ns == [on_disk] * len(keys)
    assert ndvs[0] > 0


def test_append_crash_after_every_side_effect_is_loud_and_rebuildable(
    spark, tmp_path, monkeypatch
):
    """The single crash above, swept: kill an append after each side
    effect in turn (marker, data, each CMS and each HLL fragment). Every
    reader refuses, and a rebuild restores exact counts of the rows on
    disk, whether or not the crashed append's data landed."""
    from dwh_etl_framework_spark.sources.sinks import (
        rebuild_table_sketches,
        write_table_with_sketches,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    keys = ["o_custkey", "o_orderkey"]
    path = str(tmp_path / "o")
    write_table_with_sketches(orders, path, keys, mode="overwrite")
    batch = orders.limit(100)
    with monkeypatch.context() as m:
        effects = _crash_after(m, 0)
        write_table_with_sketches(batch, path, keys, mode="append")
    assert effects == ["marker", "data"] + ["fragment"] * 4
    for k in range(1, len(effects) + 1):
        with monkeypatch.context() as m:
            _crash_after(m, k)
            with pytest.raises(_Crash):
                write_table_with_sketches(batch, path, keys, mode="append")
        _assert_readers_refuse(spark, path, keys)
        assert rebuild_table_sketches(spark, path) == keys
        _assert_exact(spark, path, keys)


def test_partition_crash_after_every_side_effect_then_reland_stays_exact(
    spark, tmp_path, monkeypatch
):
    """The partition writer, swept the same way: a re-land of day 1
    killed after each side effect leaves every reader refusing; a
    rebuild restores exact counts; and a clean re-land of that day after
    the rebuild replaces its rows instead of counting them twice."""
    from dwh_etl_framework_spark.sources.sinks import (
        rebuild_table_sketches,
        write_partition_with_sketches,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "day", (F.col("o_orderkey") % 2).cast("int")
    )
    days = [orders.filter(F.col("day") == d) for d in range(2)]
    half = days[1].filter(F.col("o_orderkey") % 4 == 1)
    key = "o_custkey"  # one key: the append sweep covers the key order
    path = str(tmp_path / "o")
    with monkeypatch.context() as m:
        effects = _crash_after(m, 0)
        for d in days:
            write_partition_with_sketches(d, path, [key], ["day"])
    assert effects == ["marker", "data", "fragment", "fragment"] * 2
    for k in range(1, 5):
        with monkeypatch.context() as m:
            _crash_after(m, k)
            with pytest.raises(_Crash):
                write_partition_with_sketches(half, path, [key], ["day"])
        _assert_readers_refuse(spark, path, [key, key])
        assert rebuild_table_sketches(spark, path) == [key]
        _assert_exact(spark, path, [key])
        write_partition_with_sketches(days[1], path, [key], ["day"])
        _assert_exact(spark, path, [key])


def test_rebuild_refuses_an_unreadable_fragment_unless_given_w(spark, tmp_path):
    """Only a missing fragment dir means "no landed width": a corrupt
    fragment must not silently rebuild a w=64 table at the default
    width. An explicit w repairs it."""
    from dwh_etl_framework_spark.operators.sketch import cms_cardinality
    from dwh_etl_framework_spark.sources.sinks import (
        SKETCH_DIR,
        read_table_sketch,
        rebuild_table_sketches,
        write_table_with_sketches,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "o")
    write_table_with_sketches(orders, path, ["o_custkey"], mode="overwrite", w=64)
    frag_dir = tmp_path / "o" / SKETCH_DIR / "o_custkey"
    (frag := next(frag_dir.glob("part-*.parquet"))).write_bytes(b"not parquet")
    for crc in frag_dir.glob(".*.crc"):
        crc.unlink()
    with pytest.raises(Exception) as err:
        rebuild_table_sketches(spark, path)
    assert not isinstance(err.value, ValueError)
    assert frag.read_bytes() == b"not parquet"

    assert rebuild_table_sketches(spark, path, w=64) == ["o_custkey"]
    merged, w = read_table_sketch(spark, path, "o_custkey")
    assert w == 64
    assert cms_cardinality(merged).first()["n_rows"] == orders.count()
