"""Streaming HLL distinct-count (R33×x84): foreachBatch register folding.

Invariants:

1. **Replay ≡ batch**: streaming the event slices as 4 micro-batches
   yields EXACTLY the register table (and so the estimate) of one batch
   pass over the whole data — the mergeable-summaries property, and the
   twin rule every streaming operator in this repo follows.
2. **Idempotent re-delivery**: replaying the same files with a fresh
   checkpoint (so every batch re-delivers) leaves the registers
   unchanged — MAX-merge makes at-least-once delivery safe.
3. **Bounded state**: the persisted state is ≤ m rows per group no
   matter how many batches or rows flow through.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import sketch
from dwh_etl_framework_spark.streaming.distinct import (
    current_estimate,
    stream_distinct_count,
    update_registers,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import SF_DIR, await_stream


def _write_slices(spark, base_dir: str) -> None:
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "user_id"
    )
    for i in range(4):
        path = f"{base_dir}/slice_{i}.parquet"
        events.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _regs_dict(df):
    return {(r["event_type"], r["bucket"]): r["reg"] for r in df.collect()}


def _run_stream(spark, src: str, state_path: str, checkpoint: str):
    state = StreamMasterState(spark, state_path)
    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = stream_distinct_count(
        stream, state, checkpoint, ["event_type"], "user_id"
    )
    await_stream(q, 120)
    return state


def test_stream_registers_equal_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_slices(spark, src)
    state = _run_stream(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    whole = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch_regs = sketch.hll_registers(whole, ["event_type"], "user_id")
    assert _regs_dict(state.read()) == _regs_dict(batch_regs)
    # bounded state: ≤ m registers per group
    per_group = state.read().groupBy("event_type").count().collect()
    assert all(r["count"] <= sketch.HLL_M for r in per_group)
    # the live estimate agrees with the batch estimate
    live = {
        r["event_type"]: r["hll_estimate"]
        for r in current_estimate(state, ["event_type"]).collect()
    }
    batch_est = {
        r["event_type"]: r["hll_estimate"]
        for r in sketch.hll_estimate(batch_regs, ["event_type"]).collect()
    }
    assert live == batch_est


def test_stream_redelivery_is_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_slices(spark, src)
    state_path = str(tmp_path / "state")
    state = _run_stream(spark, src, state_path, str(tmp_path / "ckpt1"))
    before = _regs_dict(state.read())
    # fresh checkpoint: the FileStreamSource re-delivers every slice
    state2 = _run_stream(spark, src, state_path, str(tmp_path / "ckpt2"))
    assert _regs_dict(state2.read()) == before


def test_update_registers_pure_fold_matches(spark, tmp_path):
    """The pure-function fold over slices (no streaming machinery) equals
    the one-shot build — the unit-level mergeability the stream relies
    on."""
    whole = spark.read.parquet(f"{SF_DIR}/events.parquet")
    regs = None
    for i in range(4):
        regs = update_registers(
            regs,
            whole.filter(F.col("event_id") % 4 == i),
            ["event_type"],
            "user_id",
        )
    direct = sketch.hll_registers(whole, ["event_type"], "user_id")
    assert _regs_dict(regs) == _regs_dict(direct)


BUCKET_EXPR = "LEAST(CAST(floor(value) AS BIGINT), 511)"


def _hist_dict(df):
    return {(r["event_type"], r["bucket"]): r["cnt"] for r in df.collect()}


def test_stream_histogram_equals_batch(spark, tmp_path):
    """SUM-merged micro-batch histograms ≡ one batch histogram, and a
    resumed stream (same checkpoint) adds nothing — exactly-once per
    micro-batch via the checkpoint, since SUM is not idempotent."""
    from dwh_etl_framework_spark.streaming.distinct import (
        histogram_of,
        stream_histogram,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    for i in range(4):
        path = f"{src}/slice_{i}.parquet"
        events.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i,) * 2)
        os.utime(path, (1_000_000 + i,) * 2)
    state = StreamMasterState(spark, str(tmp_path / "hist"))
    ckpt = str(tmp_path / "ckpt_h")

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(src)
        )
        q = stream_histogram(stream, state, ckpt, ["event_type"], BUCKET_EXPR)
        await_stream(q, 120)

    run()
    direct = histogram_of(events, ["event_type"], BUCKET_EXPR)
    assert _hist_dict(state.read()) == _hist_dict(direct)
    # resume with the SAME checkpoint: no files are re-delivered, the
    # state must not double-count
    run()
    assert _hist_dict(state.read()) == _hist_dict(direct)


def test_update_histogram_pure_fold(spark):
    from dwh_etl_framework_spark.streaming.distinct import (
        histogram_of,
        update_histogram,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    hist = None
    for i in range(4):
        hist = update_histogram(
            hist,
            events.filter(F.col("event_id") % 4 == i),
            ["event_type"],
            BUCKET_EXPR,
        )
    direct = histogram_of(events, ["event_type"], BUCKET_EXPR)
    assert _hist_dict(hist) == _hist_dict(direct)


def test_histogram_batch_id_guard_blocks_reexecution(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between state.write and the
    checkpoint offset commit re-executes the batch on restart (ADVICE r6).
    Re-folding an already-applied batch_id must be a no-op; the next new
    batch_id must still apply."""
    from dwh_etl_framework_spark.streaming.distinct import (
        current_histogram,
        fold_histogram_batch,
        histogram_of,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    state = StreamMasterState(spark, str(tmp_path / "hist_guard"))
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)
    assert fold_histogram_batch(state, b0, 0, ["event_type"], BUCKET_EXPR)
    assert fold_histogram_batch(state, b1, 1, ["event_type"], BUCKET_EXPR)
    after_both = _hist_dict(current_histogram(state))
    # crash-replay of batch 1 (same id, same rows): must be skipped
    assert not fold_histogram_batch(state, b1, 1, ["event_type"], BUCKET_EXPR)
    assert _hist_dict(current_histogram(state)) == after_both
    # and the combined state equals the one-shot batch histogram
    direct = histogram_of(events, ["event_type"], BUCKET_EXPR)
    assert after_both == _hist_dict(direct)
    # a genuinely new batch still folds
    assert fold_histogram_batch(
        state, b0.limit(7), 2, ["event_type"], BUCKET_EXPR
    )
    assert sum(_hist_dict(current_histogram(state)).values()) == sum(
        after_both.values()
    ) + 7


def test_histogram_guard_is_scoped_to_run_identity(spark, tmp_path):
    """Review r7: batch_ids restart at 0 under a FRESH checkpoint, so a
    guard keyed on batch_id alone would silently DROP genuinely new
    batches folded under a new run identity. A different run_id must
    accept batch 0 even when the stored id is higher; the same run_id
    must still dedupe."""
    from dwh_etl_framework_spark.streaming.distinct import (
        current_histogram,
        fold_histogram_batch,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    state = StreamMasterState(spark, str(tmp_path / "hist_runs"))
    b = events.limit(50)
    assert fold_histogram_batch(state, b, 5, ["event_type"], BUCKET_EXPR, run_id="ckpt-A")
    n_after_a = sum(_hist_dict(current_histogram(state)).values())
    # same run, replayed id: skipped
    assert not fold_histogram_batch(state, b, 5, ["event_type"], BUCKET_EXPR, run_id="ckpt-A")
    # NEW run identity, batch_id restarts at 0: must fold, not drop
    assert fold_histogram_batch(state, b, 0, ["event_type"], BUCKET_EXPR, run_id="ckpt-B")
    assert sum(_hist_dict(current_histogram(state)).values()) == 2 * n_after_a
    # and the new run now dedupes on its own ids
    assert not fold_histogram_batch(state, b, 0, ["event_type"], BUCKET_EXPR, run_id="ckpt-B")


# ---- streamed count-min sketch (x86/x103 fold) ---------------------------


def test_cms_pure_fold_equals_one_shot(spark):
    """SUM-merging per-batch sketches == the one-shot sketch, counter
    for counter — the mergeability claim both x86 and x103 rely on."""
    from dwh_etl_framework_spark.streaming.distinct import update_cms

    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    st = None
    for i in range(4):
        st = update_cms(
            st, events.filter(F.col("user_id") % 4 == i), "user_id", 4096
        )
    direct = sketch.cms_sketch(events, "user_id", 4096)
    fold_d = {(r["r"], r["col"]): r["cnt"] for r in st.collect()}
    one_d = {(r["r"], r["col"]): r["cnt"] for r in direct.collect()}
    assert fold_d == one_d


def test_stream_cms_supports_join_size_estimate(spark, tmp_path):
    """Stream the events sketch in 4 slices, then compute the x103
    join-size estimate from the STREAMED sketch against a batch orders
    sketch — identical to the all-batch x103 number. Also pins bounded
    state and the guard."""
    from dwh_etl_framework_spark.queries.wave16 import (
        JOINSIZE_W,
        x103_join_size_estimate,
    )
    from dwh_etl_framework_spark.streaming.distinct import (
        current_cms,
        fold_cms_batch,
        stream_cms,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    src = str(tmp_path / "src")
    for i in range(4):
        path = f"{src}/slice_{i}.parquet"
        events.filter(F.col("user_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    state = StreamMasterState(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = stream_cms(stream, state, str(tmp_path / "ckpt"), "user_id", JOINSIZE_W)
    await_stream(q, 120)
    streamed = current_cms(state)
    assert streamed.count() <= sketch.CMS_D * JOINSIZE_W  # bounded state
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_custkey")
    b = sketch.cms_sketch(orders, "o_custkey", JOINSIZE_W)
    est = (
        streamed.alias("a")
        .join(b.alias("b"), ["r", "col"])
        .groupBy("r")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("dot"))
        .agg(F.min("dot").alias("est"))
        .first()["est"]
    )
    batch_est = x103_join_size_estimate(spark, SF_DIR).first()["est_join_size"]
    assert est == batch_est
    # guard: same-run re-application of an applied batch_id is a no-op
    # (the stream's run id is its checkpoint's generation id)
    from dwh_etl_framework_spark.streaming.guard import _generation_id

    before = {(r["r"], r["col"]): r["cnt"] for r in current_cms(state).collect()}
    assert not fold_cms_batch(
        state, events, 0, "user_id", JOINSIZE_W,
        run_id=_generation_id(spark, str(tmp_path / "ckpt")),
    )
    after = {(r["r"], r["col"]): r["cnt"] for r in current_cms(state).collect()}
    assert after == before
