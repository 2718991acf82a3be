"""Streaming as-of join: single-batch replay must equal the batch as-of

join; multi-batch replay must apply later right-updates forward-only."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.asof import asof_join
from dwh_etl_framework_spark.streaming.asof import (
    stream_asof_join,
    tag_streams,
)

from conftest import await_stream


def _run(spark, tagged_stream, tmp_path, name):
    """foreachBatch collector: unlike the memory sink it supports resuming
    from a checkpoint, which the multi-batch test needs."""
    rows = []

    def capture(batch_df, batch_id):
        rows.extend(batch_df.collect())

    q = (
        stream_asof_join(tagged_stream)
        .writeStream.outputMode("append").foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 180)
    return rows


def _tagged_file_stream(spark, path, batch_schema, files_per_trigger=1):
    return (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


@pytest.fixture()
def data(spark):
    t = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [Row(key=1, lt=t(1), lv=10.0), Row(key=1, lt=t(5), lv=11.0),
         Row(key=1, lt=t(9), lv=12.0), Row(key=2, lt=t(4), lv=20.0),
         Row(key=3, lt=t(2), lv=30.0)]  # key 3: no right rows at all
    )
    right = spark.createDataFrame(
        [Row(key=1, rt=t(0), rv=100.0), Row(key=1, rt=t(5), rv=101.0),
         Row(key=1, rt=t(7), rv=102.0), Row(key=2, rt=t(6), rv=200.0)]
    )
    return left, right


def test_single_batch_equals_batch_asof(spark, tmp_path, data):
    left, right = data
    tagged_batch = tag_streams(left, right, "key", "lt", "rt", "lv", "rv")
    src = str(tmp_path / "src")
    tagged_batch.coalesce(1).write.parquet(src)  # ONE file ⇒ one micro-batch

    stream = _tagged_file_stream(spark, src, tagged_batch.schema)
    got = {
        (r.key, r.ts): r.asof_right
        for r in _run(spark, stream, tmp_path, "sa1")
    }
    expected_df = asof_join(
        left.withColumnRenamed("lt", "ts"), right,
        on=["key"], left_time="ts", right_time="rt", right_payload=["rv"],
    )
    expected = {(r.key, r.ts): r.rv for r in expected_df.collect()}
    assert got == expected
    assert got[(3, datetime(2024, 1, 1, 0, 2))] is None  # no right ⇒ NULL


def test_multi_batch_applies_rights_forward(spark, tmp_path, data):
    """Right updates arriving in a later batch enrich only later batches:

    batch1 = {left@t1}, batch2 = {right@t0, left@t5} ⇒ the t1 event sees no
    right value (update hadn't arrived), the t5 event sees it."""
    t = lambda m: datetime(2024, 1, 1, 0, m)
    schema = "key bigint, ts timestamp, side int, left_val double, right_val double"
    src = str(tmp_path / "src")
    b1 = spark.createDataFrame([(1, t(1), 1, 10.0, None)], schema)
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = _tagged_file_stream(spark, src, b1.schema)
    out1 = {r.ts: r.asof_right for r in _run(spark, stream, tmp_path, "sa2")}
    assert out1 == {t(1): None}

    b2 = spark.createDataFrame(
        [(1, t(0), 0, None, 100.0), (1, t(5), 1, 11.0, None)], schema
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    stream2 = _tagged_file_stream(spark, src, b1.schema)
    out2 = {r.ts: r.asof_right for r in _run(spark, stream2, tmp_path, "sa3")}
    # second run resumes from checkpoint: only batch-2 rows are new
    assert out2 == {t(5): 100.0}
