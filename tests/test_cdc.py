"""CDC ingestion (streaming/cdc.py): within-batch net-change collapse,

ordered I/U/D apply, streaming replay ≡ sequential batch apply."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dwh_etl_framework_spark.streaming.cdc import (
    apply_cdc_batch,
    latest_change_per_key,
    stream_cdc_to_master,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import await_stream


def _master(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, op string, seq long")


def test_latest_change_per_key_collapses_in_order(spark):
    ch = _changes(
        spark,
        [(1, "a1", "I", 1), (1, "a2", "U", 3), (1, "a-mid", "U", 2),
         (2, "b1", "I", 1)],
    )
    net = {
        r.k: (r.v, r.op)
        for r in latest_change_per_key(ch, ["k"], ["seq"]).collect()
    }
    assert net == {1: ("a2", "U"), 2: ("b1", "I")}


def test_apply_cdc_batch_upserts_and_deletes(spark):
    master = _master(spark, [(1, "old1"), (2, "old2"), (3, "old3")])
    ch = _changes(
        spark,
        [
            (1, "new1", "U", 10),        # update existing
            (2, "ignored", "U", 10),
            (2, None, "D", 11),          # ...then delete wins (later seq)
            (4, "new4", "I", 10),        # brand-new key
            (5, "born", "I", 10),
            (5, "dead", "D", 11),        # insert+delete in one batch → absent
        ],
    )
    out = {
        r.k: r.v
        for r in apply_cdc_batch(master, ch, ["k"], ["seq"]).collect()
    }
    assert out == {1: "new1", 3: "old3", 4: "new4"}


def test_apply_cdc_batch_rejects_unknown_op(spark):
    """Validation is a raise_error branch inside the apply pass (no extra
    per-batch job), so the unknown op surfaces when the plan executes."""
    master = _master(spark, [(1, "x")])
    ch = _changes(spark, [(1, "y", "Z", 1)])
    with pytest.raises(Exception, match="unknown CDC op"):
        apply_cdc_batch(master, ch, ["k"], ["seq"]).collect()


def _master_with_seq(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, seq long")


def test_apply_cdc_batch_drops_stale_cross_batch_updates(spark):
    """A change delivered in a LATER batch with an OLDER ordering value
    (replay / out-of-order transport) must not overwrite newer master
    state — and must not delete it via the changed-keys anti-join either."""
    master = _master_with_seq(spark, [(1, "new", 5), (2, "keep", 9)])
    ch = spark.createDataFrame(
        [(1, "stale", "U", 3),   # older than master seq=5 → ignored
         (2, None, "D", 4),      # stale delete → ignored, row survives
         (3, "fresh", "I", 1)],  # unseen key → applies
        "k long, v string, op string, seq long",
    )
    out = {
        r.k: (r.v, r.seq)
        for r in apply_cdc_batch(master, ch, ["k"], ["seq"]).collect()
    }
    assert out == {1: ("new", 5), 2: ("keep", 9), 3: ("fresh", 1)}


def test_apply_cdc_batch_equal_order_reapplies(spark):
    """An EQUAL ordering tuple re-applies (idempotent replay of the change
    that produced the master row), and a newer change still wins."""
    master = _master_with_seq(spark, [(1, "v5", 5), (2, "b", 2)])
    ch = spark.createDataFrame(
        [(1, "v5-replay", "U", 5), (2, None, "D", 7)],
        "k long, v string, op string, seq long",
    )
    out = {
        r.k: r.v
        for r in apply_cdc_batch(master, ch, ["k"], ["seq"]).collect()
    }
    assert out == {1: "v5-replay"}


def test_stream_cdc_guard_survives_out_of_order_batches(spark, tmp_path):
    """End-to-end: the streaming master stores the order cols, so a stale
    event arriving in a later micro-batch leaves the master untouched."""
    src = tmp_path / "cdc_src3"
    state = StreamMasterState(spark, str(tmp_path / "cdc_master3"))
    ckpt = str(tmp_path / "cdc_ckpt3")

    def run_once():
        stream = (
            spark.readStream.schema("k long, v string, op string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = stream_cdc_to_master(stream, state, ["k"], ["seq"], ckpt)
        await_stream(q, 180)

    _changes(spark, [(1, "newest", "I", 10)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    _changes(spark, [(1, "late-old", "U", 4)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    got = {r.k: r.v for r in state.read().collect()}
    assert got == {1: "newest"}


def test_stream_replay_equals_sequential_apply(spark, tmp_path):
    """Replaying the change files one micro-batch at a time through
    stream_cdc_to_master must land the same master as applying the same
    files sequentially with apply_cdc_batch."""
    batches = [
        [(1, "a1", "I", 1), (2, "b1", "I", 2)],
        [(1, "a2", "U", 3), (3, "c1", "I", 4), (3, "c2", "U", 5)],
        [(2, None, "D", 6), (4, "d1", "I", 7)],
    ]
    src = tmp_path / "cdc_src"
    for i, rows in enumerate(batches):
        _changes(spark, rows).coalesce(1).write.mode("append").parquet(str(src))

    # golden: sequential batch apply in file order — but parquet append
    # order is not the read order, so compute the golden from the GLOBAL
    # seq instead (each key's changes are globally ordered by seq here)
    all_changes = spark.read.parquet(str(src))
    golden_master = _master(spark, []).limit(0)
    golden = apply_cdc_batch(golden_master, all_changes, ["k"], ["seq"])
    golden_rows = {r.k: r.v for r in golden.collect()}
    assert golden_rows == {1: "a2", 3: "c2", 4: "d1"}

    state = StreamMasterState(spark, str(tmp_path / "cdc_master"))
    stream = (
        spark.readStream.schema("k long, v string, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_cdc_to_master(
        stream, state, ["k"], ["seq"], str(tmp_path / "cdc_ckpt")
    )
    await_stream(q, 180)

    got = {r.k: r.v for r in state.read().collect()}
    assert got == golden_rows


def test_stream_resume_applies_only_new_files(spark, tmp_path):
    """Durable checkpoint + disk-backed master: a restarted query applies
    only unseen change files and continues from the stored master."""
    src = tmp_path / "cdc_src2"
    state = StreamMasterState(spark, str(tmp_path / "cdc_master2"))
    ckpt = str(tmp_path / "cdc_ckpt2")

    def run_once():
        stream = (
            spark.readStream.schema("k long, v string, op string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = stream_cdc_to_master(stream, state, ["k"], ["seq"], ckpt)
        await_stream(q, 180)

    _changes(spark, [(1, "a1", "I", 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    assert {r.k: r.v for r in state.read().collect()} == {1: "a1"}

    _changes(spark, [(1, None, "D", 2), (2, "b1", "I", 3)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    assert {r.k: r.v for r in state.read().collect()} == {2: "b1"}
