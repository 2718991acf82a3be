"""Golden on-disk layout of the landed ``_sketches/`` metadata: the same
input landed through every writer (table append, table overwrite,
partition, rebuild, erasure subtract) must leave exactly these fragment
dirs, markers, schemas and fragment rows. Readers merge whatever the
writers leave, so any drift here is a format change, not a refactor."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.sketch import cms_sketch, hll_registers
from dwh_etl_framework_spark.sources.sinks import (
    SKETCH_DIR,
    rebuild_table_sketches,
    subtract_table_sketch,
    write_partition_with_sketches,
    write_table_with_sketches,
)

CMS_SCHEMA = [
    ("r", "int32"), ("col", "int64"), ("cnt", "int64"), ("__cms_w", "int32"),
]
HLL_SCHEMA = [("bucket", "int64"), ("reg", "int64")]


def _input(spark, lo: int, hi: int):
    """Skewed key ``k`` (37 values) plus a 3-valued ``day``."""
    return spark.range(lo, hi).select(
        (F.col("id") % 37).alias("k"),
        (F.col("id") % 3).cast("int").alias("day"),
        F.col("id").alias("v"),
    )


def _layout(root: Path) -> list[str]:
    """Every dir and file under ``_sketches/``, relative to the table
    dir; data files collapse to ``part-*.parquet`` (one entry each)
    and checksum files are skipped."""
    out = []
    for p in (root / SKETCH_DIR).rglob("*"):
        if p.name.startswith("."):
            continue
        rel = p.relative_to(root).as_posix()
        if p.is_file() and p.name.startswith("part-"):
            rel = f"{p.parent.relative_to(root).as_posix()}/part-*.parquet"
        out.append(rel)
    return sorted(out)


def _fragments(root: Path, rel: str, schema) -> list[list[tuple]]:
    """The rows of each data file directly under ``rel``, one sorted
    list per file (files sorted by content), checking each schema."""
    frags = []
    for f in (root / rel).glob("part-*.parquet"):
        t = pq.read_table(f)
        assert [(c.name, str(c.type)) for c in t.schema] == schema, rel
        frags.append(sorted(tuple(r.values()) for r in t.to_pylist()))
    return sorted(frags)


def _cms(df, w: int, sign: int = 1) -> list[tuple]:
    return sorted(
        (r["r"], r["col"], sign * r["cnt"], w)
        for r in cms_sketch(df.select("k"), "k", w).collect()
    )


def _hll(df) -> list[tuple]:
    regs = hll_registers(df.select("k"), [], "k")
    return sorted(tuple(r) for r in regs.collect())


def test_table_append_then_rebuild_layout(spark, tmp_path):
    a, b = _input(spark, 0, 300), _input(spark, 300, 500)
    root = tmp_path / "t"
    write_table_with_sketches(a, str(root), ["k"], mode="append", w=64)
    write_table_with_sketches(b, str(root), ["k"], mode="append", w=64)
    assert _layout(root) == [
        "_sketches/k",
        "_sketches/k/_SUCCESS",
        "_sketches/k/part-*.parquet",
        "_sketches/k/part-*.parquet",
        "_sketches/k__hll",
        "_sketches/k__hll/_SUCCESS",
        "_sketches/k__hll/part-*.parquet",
        "_sketches/k__hll/part-*.parquet",
    ]
    assert _fragments(root, "_sketches/k", CMS_SCHEMA) == sorted(
        [_cms(a, 64), _cms(b, 64)]
    )
    assert _fragments(root, "_sketches/k__hll", HLL_SCHEMA) == sorted(
        [_hll(a), _hll(b)]
    )

    # rebuild without w adopts the landed width and lands one fragment
    # per tier covering every on-disk row
    assert rebuild_table_sketches(spark, str(root)) == ["k"]
    both = a.unionByName(b)
    assert _layout(root) == [
        "_sketches/k",
        "_sketches/k/_SUCCESS",
        "_sketches/k/part-*.parquet",
        "_sketches/k__hll",
        "_sketches/k__hll/_SUCCESS",
        "_sketches/k__hll/part-*.parquet",
    ]
    assert _fragments(root, "_sketches/k", CMS_SCHEMA) == [_cms(both, 64)]
    assert _fragments(root, "_sketches/k__hll", HLL_SCHEMA) == [_hll(both)]


def test_table_overwrite_then_subtract_layout(spark, tmp_path):
    a, b = _input(spark, 0, 300), _input(spark, 300, 500)
    root = tmp_path / "t"
    write_table_with_sketches(a, str(root), ["k"], mode="overwrite")
    write_table_with_sketches(b, str(root), ["k"], mode="overwrite")
    assert _layout(root) == [
        "_sketches/k",
        "_sketches/k/_SUCCESS",
        "_sketches/k/part-*.parquet",
        "_sketches/k__hll",
        "_sketches/k__hll/_SUCCESS",
        "_sketches/k__hll/part-*.parquet",
    ]
    assert _fragments(root, "_sketches/k", CMS_SCHEMA) == [_cms(b, 512)]
    assert _fragments(root, "_sketches/k__hll", HLL_SCHEMA) == [_hll(b)]

    erased = b.filter(F.col("k") % 5 == 0)
    subtract_table_sketch(spark, str(root), erased, erasure_id="e1")
    assert _layout(root) == [
        "_sketches/k",
        "_sketches/k/_SUCCESS",
        "_sketches/k/erasure_e1",
        "_sketches/k/erasure_e1/_SUCCESS",
        "_sketches/k/erasure_e1/part-*.parquet",
        "_sketches/k/part-*.parquet",
        "_sketches/k__hll_invalidated",
    ]
    assert _fragments(root, "_sketches/k", CMS_SCHEMA) == [_cms(b, 512)]
    assert _fragments(root, "_sketches/k/erasure_e1", CMS_SCHEMA) == [
        _cms(erased, 512, sign=-1)
    ]


def test_partition_layout(spark, tmp_path):
    rows = _input(spark, 0, 500)
    root = tmp_path / "t"
    days = [rows.filter(F.col("day") == d) for d in range(3)]
    for d in days:
        write_partition_with_sketches(d, str(root), ["k"], ["day"])
    want = []
    for tier in ("k", "k__hll"):
        want.append(f"_sketches/{tier}")
        for d in range(3):
            want += [
                f"_sketches/{tier}/part_day={d}",
                f"_sketches/{tier}/part_day={d}/_SUCCESS",
                f"_sketches/{tier}/part_day={d}/part-*.parquet",
            ]
    assert _layout(root) == sorted(want)
    for i, d in enumerate(days):
        assert _fragments(
            root, f"_sketches/k/part_day={i}", CMS_SCHEMA
        ) == [_cms(d, 512)]
        assert _fragments(
            root, f"_sketches/k__hll/part_day={i}", HLL_SCHEMA
        ) == [_hll(d)]
