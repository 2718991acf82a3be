"""Count-first CMS/HLL builders are bit-identical to the row-wise form.

``cms_sketch`` and ``hll_registers`` reduce their input to one row per
distinct value before hashing. These tests pin the counters and registers
against the row-wise definition, written in the DuckDB dialect the
registry oracles use (``DUCK_HEX_AT``/``hll_frags``): on a skewed key
with NULLs, on a unique key, and for a grouped HLL. They also pin that
the landed fragment format is unchanged: fragments landed by the
row-wise build merge with fragments the count-first build appends.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.sketch import (
    CMS_D,
    CMS_W,
    DUCK_HEX,
    DUCK_HEX_AT,
    SPARK_HEX,
    SPARK_HEX_AT,
    cms_col_expr,
    cms_sketch,
    hll_frags,
    hll_registers,
)

#: skewed: one hot value (400 rows), a warm band of 37 values, a long
#: tail of singletons, and 25 NULLs
SKEWED = [0] * 400 + [i % 37 for i in range(300)] + [None] * 25 + list(
    range(1000, 1100)
)
UNIQUE = list(range(5000, 5600))


def _tables(spark, rows: list[tuple], schema: list[tuple[str, pa.DataType]]):
    """The same rows as a Spark DataFrame and a DuckDB-readable Arrow
    table (explicit types: no NaN stand-ins for NULL)."""
    cols = list(zip(*rows))
    arrow = pa.table(
        {name: pa.array(list(c), t) for (name, t), c in zip(schema, cols)}
    )
    ddl = ", ".join(
        f"{n} {'bigint' if t == pa.int64() else 'string'}" for n, t in schema
    )
    return spark.createDataFrame(rows, ddl), arrow


def _duck_cms(con, arrow, value: str, w: int = CMS_W) -> list[tuple]:
    con.register("t", arrow)
    try:
        return con.sql(f"""
            WITH rows_d AS (
                SELECT {value}, unnest(generate_series(0, {CMS_D - 1})) AS r
                FROM t
            )
            SELECT r, {cms_col_expr(DUCK_HEX_AT, value, w)} AS col,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM rows_d GROUP BY 1, 2
        """).fetchall()
    finally:
        con.unregister("t")


def _duck_hll(con, arrow, group_cols: list[str], value: str) -> list[tuple]:
    f = hll_frags(DUCK_HEX, value)
    g = "".join(f"{c}, " for c in group_cols)
    con.register("t", arrow)
    try:
        return con.sql(f"""
            WITH sliced AS (
                SELECT {g}{f['bucket'].format(div='//')} AS bucket,
                       {f['w']} AS __w
                FROM (SELECT {g}{f['h']} AS __h FROM t)
            )
            SELECT {g}bucket, MAX({f['rank']}) AS reg
            FROM sliced GROUP BY ALL
        """).fetchall()
    finally:
        con.unregister("t")


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _rowwise_cms(df, value_expr: str, w: int = CMS_W):
    """The row-wise builder the count-first form replaced: hash every
    row, count rows per cell."""
    cells = (
        df.selectExpr(f"md5('cms:' || CAST({value_expr} AS STRING)) AS __h")
        .selectExpr(f"explode(sequence(0, {CMS_D - 1})) AS r", "__h")
        .selectExpr(
            "r",
            "CAST("
            + SPARK_HEX_AT.format(
                expr="__h", start="CAST(1 + r * 8 AS INT)", n=8
            )
            + f" % {w} AS BIGINT) AS col",
        )
    )
    return cells.groupBy("r", "col").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def _rowwise_hll(df, group_cols: list[str], value_expr: str):
    f = hll_frags(SPARK_HEX, value_expr)
    sliced = df.selectExpr(*group_cols, f"{f['h']} AS __h").selectExpr(
        *group_cols,
        f"{f['bucket'].format(div='DIV')} AS bucket",
        f"{f['w']} AS __w",
    )
    return sliced.groupBy(*group_cols, "bucket").agg(
        F.expr(f"MAX({f['rank']})").alias("reg")
    )


@pytest.mark.parametrize("keys", [SKEWED, UNIQUE], ids=["skewed_nulls", "unique"])
def test_cms_counters_equal_rowwise_duckdb(spark, ddb, keys):
    sdf, arrow = _tables(spark, [(k,) for k in keys], [("k", pa.int64())])
    got = _rows(cms_sketch(sdf, "k"))
    want = sorted(_duck_cms(ddb, arrow, "k"), key=repr)
    assert got == want
    # every input row is counted exactly once per hash row, NULLs included
    assert sum(c for _, _, c in got) == CMS_D * len(keys)
    if None in keys:
        assert any(col is None for _, col, _ in got)


@pytest.mark.parametrize("keys", [SKEWED, UNIQUE], ids=["skewed_nulls", "unique"])
def test_hll_registers_equal_rowwise_duckdb(spark, ddb, keys):
    sdf, arrow = _tables(spark, [(k,) for k in keys], [("k", pa.int64())])
    got = _rows(hll_registers(sdf, [], "k"))
    assert got == sorted(_duck_hll(ddb, arrow, [], "k"), key=repr)


def test_hll_registers_with_group_cols_equal_rowwise_duckdb(spark, ddb):
    # a NULL group and a NULL value in a non-NULL group, skewed per group
    rows = [
        (("a", "b", None)[i % 3], None if i % 50 == 0 else (i * 7) % 113)
        for i in range(900)
    ]
    sdf, arrow = _tables(spark, rows, [("g", pa.string()), ("v", pa.int64())])
    got = _rows(hll_registers(sdf, ["g"], "v"))
    assert got == sorted(_duck_hll(ddb, arrow, ["g"], "v"), key=repr)


def test_count_first_keeps_signed_zero_and_nan_apart(spark):
    # grouping normalises -0.0 to 0.0 and folds NaNs, but the hash reads
    # the string form, where "-0.0" and "0.0" differ: the count step
    # groups the string so the counters still equal the row-wise build
    sdf = spark.createDataFrame(
        [(0.0,), (-0.0,), (-0.0,), (float("nan"),), (None,), (1.5,)], "x double"
    )
    assert _rows(cms_sketch(sdf, "x")) == _rows(_rowwise_cms(sdf, "x"))
    assert _rows(hll_registers(sdf, [], "x")) == _rows(
        _rowwise_hll(sdf, [], "x")
    )


def test_rowwise_landed_fragments_merge_with_count_first_appends(
    spark, ddb, tmp_path, monkeypatch
):
    import dwh_etl_framework_spark.operators.sketch as sketch
    from dwh_etl_framework_spark.sources.sinks import (
        SKETCH_DIR,
        read_table_sketch,
        write_table_with_sketches,
    )

    first = [(k,) for k in SKEWED]
    second = [(k % 53,) for k in range(700)] + [(None,)] * 5
    path = str(tmp_path / "t")
    # land the first batch with the row-wise builders...
    with monkeypatch.context() as m:
        m.setattr(sketch, "cms_sketch", _rowwise_cms)
        m.setattr(sketch, "hll_registers", _rowwise_hll)
        write_table_with_sketches(
            _tables(spark, first, [("k", pa.int64())])[0], path, ["k"],
            mode="overwrite",
        )
    # ...append the second with the count-first ones
    write_table_with_sketches(
        _tables(spark, second, [("k", pa.int64())])[0], path, ["k"],
        mode="append",
    )
    _, both = _tables(spark, first + second, [("k", pa.int64())])
    merged, w = read_table_sketch(spark, path, "k")
    assert w == CMS_W
    assert _rows(merged) == sorted(_duck_cms(ddb, both, "k"), key=repr)
    regs = (
        spark.read.parquet(f"{path}/{SKETCH_DIR}/k__hll")
        .groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
    )
    assert _rows(regs) == sorted(_duck_hll(ddb, both, [], "k"), key=repr)
