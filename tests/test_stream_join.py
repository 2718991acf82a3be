"""Stream-stream interval join (R33): streaming replay must agree with the

batch twin (`r33b_interval_join_twin`), including multi-micro-batch
arrival where a purchase lands in a later batch than its click.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.streaming.join import interval_join
from dwh_etl_framework_spark.streaming.windows import events_file_stream

from conftest import await_stream, load_events

COLS = ["user_id", "l_event_id", "r_event_id", "l_ts", "r_ts"]


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_events(spark)


@pytest.fixture(scope="module")
def split_dirs(spark, events_batch, tmp_path_factory):
    """clicks and purchases as separate multi-file stream sources; 4 files

    each so the join must carry state across micro-batches (a click's
    purchase can arrive 3 batches later)."""
    base = tmp_path_factory.mktemp("stream_join")
    for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
        (
            events_batch.filter(F.col("event_type") == etype)
            .repartition(4)
            .write.mode("overwrite")
            .parquet(str(base / sub))
        )
    return str(base / "clicks"), str(base / "purchases")


def _run(spark, stream_df, ckpt_dir):
    name = f"sj_{abs(hash(ckpt_dir)) % 10**8}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{ckpt_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_interval_join_equals_batch_twin(
    spark, events_batch, split_dirs, tmp_path
):
    clicks_dir, purchases_dir = split_dirs
    stream = interval_join(
        events_file_stream(spark, clicks_dir),
        events_file_stream(spark, purchases_dir),
        on="user_id",
        lookback="30 minutes",
        watermark_delay="365 days",  # fixture spans ~a year of event time;
        # arrival order is file order, so a tight watermark would (correctly)
        # drop cross-batch matches — eviction behavior itself is pinned by
        # test_watermark_drops_late_events
    )
    got = _run(spark, stream.select(*COLS), str(tmp_path))

    clicks = events_batch.filter(F.col("event_type") == "click")
    purchases = events_batch.filter(F.col("event_type") == "purchase")
    want = interval_join(
        clicks, purchases, on="user_id", lookback="30 minutes"
    ).select(*COLS)

    key = lambda df: sorted(tuple(r[c] for c in COLS) for r in df.collect())
    assert key(got) == key(want)
    assert len(key(got)) > 0


def test_interval_join_bounds_are_inclusive_and_directional(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k int, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:59:59"),  # before the click: excluded
            (1, "2024-01-01 10:00:00"),  # same instant: included
            (1, "2024-01-01 10:30:00"),  # exactly +30m: included
            (1, "2024-01-01 10:30:01"),  # past the window: excluded
            (2, "2024-01-01 10:00:00"),  # wrong key: excluded
        ],
        "k int, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    out = interval_join(left, right, on="k", lookback="30 minutes")
    got = sorted(str(r["r_ts"]) for r in out.collect())
    assert got == ["2024-01-01 10:00:00", "2024-01-01 10:30:00"]
