"""Streaming sessionization twin (VERDICT r5 item 6).

x47_sessionize is the batch (lag+cumsum) sessionizer; session_window_agg
is the streaming one. Two invariants close the loop:

1. **Replay ≡ one-shot**: the streaming replay over multiple micro-batches
   (4 parquet files, so sessions MERGE across batch boundaries in the
   state store) must produce exactly the sessions the same
   ``session_window`` aggregation produces in one batch pass. This is the
   property that matters at scale: cross-micro-batch session merging is
   where streaming sessionization goes wrong.
2. **Partition conservation vs x47**: both sessionizers partition every
   event into exactly one session, so per-user event totals must agree
   with the batch x47 result even though the two use different boundary
   rules (session_window starts a new session at gap ≥ 30 min, the
   lag+cumsum twin at gap > 30 min — they can only differ on exact-1800 s
   gaps, which we detect and account for).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dwh_etl_framework_spark.queries import QUERIES
from dwh_etl_framework_spark.streaming.windows import (
    events_file_stream,
    session_window_agg,
)

from conftest import SF_DIR, await_stream, load_events

COLS = ["user_id", "session_start", "session_end", "n_events", "sum_value"]


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_events(spark)


@pytest.fixture(scope="module")
def replay_dir(events_batch, tmp_path_factory):
    """Events as a 4-file stream source: sessions span file boundaries, so
    the streaming aggregation must merge session state across
    micro-batches."""
    base = tmp_path_factory.mktemp("stream_sess")
    events_batch.repartition(4).write.mode("overwrite").parquet(str(base))
    return str(base)


def _rows(df):
    return sorted(
        (tuple(str(r[c]) for c in COLS) for r in df.collect())
    )


def test_stream_sessionize_equals_batch_session_window(
    spark, events_batch, replay_dir, tmp_path
):
    stream = session_window_agg(
        events_file_stream(spark, replay_dir),
        watermark="365 days",  # fixture event time spans ~a year; arrival
        # order is file order, so a tight watermark would (correctly) close
        # sessions early — eviction itself is pinned elsewhere
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_replay")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)
    got = _rows(spark.sql("SELECT * FROM sess_replay"))

    want = _rows(session_window_agg(events_batch))
    assert len(got) > 0
    assert got == want


def test_stream_sessions_conserve_x47_event_partition(
    spark, events_batch, replay_dir, tmp_path
):
    """Both sessionizers assign every event to exactly one session: the
    per-user event totals must match x47's batch result exactly, and the
    per-user session COUNTS may differ only where an exact-1800s gap
    exists (the documented boundary-rule difference)."""
    stream = session_window_agg(
        events_file_stream(spark, replay_dir), watermark="365 days"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_replay2")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmp_path}/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)
    stream_totals = {
        r["user_id"]: (r["total"], r["sessions"])
        for r in spark.sql(
            "SELECT user_id, CAST(SUM(n_events) AS BIGINT) AS total,"
            " COUNT(*) AS sessions FROM sess_replay2 GROUP BY user_id"
        ).collect()
    }

    x47 = QUERIES["x47_sessionize"].fn(spark, SF_DIR)
    x47_totals = {
        r["user_id"]: (r["total"], r["sessions"])
        for r in x47.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("total"),
            F.count(F.lit(1)).alias("sessions"),
        )
        .collect()
    }

    # exact-1800s gaps per user: the only place the boundary rules diverge
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    boundary = {
        r["user_id"]: r["n"]
        for r in events_batch.select(
            "user_id", "event_id", F.unix_timestamp("ts").alias("ts_s")
        )
        .withColumn("gap", F.col("ts_s") - F.lag("ts_s").over(w))
        .filter(F.col("gap") == 1800)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    assert set(stream_totals) == set(x47_totals)
    for uid, (total, sessions) in x47_totals.items():
        s_total, s_sessions = stream_totals[uid]
        assert s_total == total, f"user {uid}: event total diverged"
        extra = boundary.get(uid, 0)
        assert sessions <= s_sessions <= sessions + extra, (
            f"user {uid}: session count {s_sessions} outside "
            f"[{sessions}, {sessions + extra}]"
        )
