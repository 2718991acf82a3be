"""Streaming twin for x78: a foreachBatch-maintained hourly rollup

(incremental aggregate maintenance, the f24 operator) replayed over 4
micro-batches must equal the batch rollup exactly — and therefore the
trailing-window anomaly scorer produces identical spikes on top of it.
This is the deployment shape of x78: the rollup is maintained
delta-proportionally as events stream in; the scorer runs on the rollup
(hours × types, tiny), never on raw events.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import aggmaint
from dwh_etl_framework_spark.queries.wave8 import hourly_rollup, score_trailing
from dwh_etl_framework_spark.streaming.windows import EVENTS_STREAM_SCHEMA

from conftest import await_stream, load_events


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_events(spark)


def test_stream_maintained_rollup_equals_batch_scorer(
    spark, events_batch, tmp_path
):
    src = str(tmp_path / "events_src")
    events_batch.repartition(4).write.mode("overwrite").parquet(src)

    state = {"rollup": None}

    def apply_batch(batch_df, _batch_id):
        delta = aggmaint.partial_aggregate(
            hourly_rollup(batch_df),
            ["event_type", "hour_bucket"],
            {"n_events": ("sum", "n_events")},
        )
        if state["rollup"] is None:
            state["rollup"] = delta.localCheckpoint(eager=True)
        else:
            state["rollup"] = aggmaint.combine_partial_aggregates(
                state["rollup"],
                delta,
                ["event_type", "hour_bucket"],
                {"n_events": ("sum", "n_events")},
            ).localCheckpoint(eager=True)

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)

    maintained = state["rollup"]
    assert maintained is not None

    batch = hourly_rollup(events_batch)
    # rollup equality (the aggmaint invariant, per micro-batch replay)
    assert (
        maintained.exceptAll(batch).count() == 0
        and batch.exceptAll(maintained).count() == 0
    )

    # scorer equality on top of it
    got = sorted(
        score_trailing(maintained).collect(),
        key=lambda r: (r.event_type, r.hour_bucket),
    )
    want = sorted(
        score_trailing(batch).collect(),
        key=lambda r: (r.event_type, r.hour_bucket),
    )
    assert got == want
    assert any(r.is_spike is not None for r in want)
