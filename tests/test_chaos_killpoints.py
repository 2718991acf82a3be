"""Chaos sweep over the streaming state protocol (VERDICT r9 #6): kill
the fold at EVERY write boundary inside EVERY micro-batch, re-deliver
the crashed batch (foreachBatch at-least-once semantics: same batch id),
finish the stream, and require the final state to equal the
uninterrupted run — for merge, cdc, ingest_dedup, entity_folds and the
combined scd2+cms fold. Each harness calls the module's own per-batch
fold, the one its ``stream_*`` entry point runs.

The kill points enumerate every partial-commit state a crash can leave:
k=0 (nothing published), k=1 (first state published, rest lost), …,
k=n_writes (everything published but the checkpoint never committed, so
the batch still re-delivers). StreamMasterState's own pointer protocol
covers torn single writes; this sweep covers the CROSS-state windows —
the full enumeration, which subsumes a randomized sweep at these write
counts (1-2 writes per fold)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.merge import JournalSpec
from dwh_etl_framework_spark.streaming.cdc import fold_cdc_batch
from dwh_etl_framework_spark.streaming.entity_folds import (
    current_entities,
    fold_entity_batch,
)
from dwh_etl_framework_spark.streaming.ingest_dedup import (
    DedupIngestConfig,
    fold_ingest_batch,
)
from dwh_etl_framework_spark.streaming.merge import (
    StreamMasterState,
    fold_merge_batch,
)

from conftest import SF_DIR


class Boom(RuntimeError):
    """Injected crash."""


class KillingState(StreamMasterState):
    """StreamMasterState that crashes once the shared fuse burns out.

    The crash fires BEFORE the underlying atomic write, so the state is
    exactly 'previous version live' — the pointer protocol's guarantee
    for a torn write, which its own tests cover."""

    def __init__(self, spark, path, fuse: dict):
        super().__init__(spark, path)
        self._fuse = fuse

    def write(self, df):
        if self._fuse["left"] <= 0:
            raise Boom()
        self._fuse["left"] -= 1
        super().write(df)


# ---- operator harnesses ------------------------------------------------
# each: (n_states, batches(spark) -> list[DataFrame],
#        fold(states, batch, batch_id), result(states) -> comparable)

T0 = datetime(2024, 3, 1)


def _merge_batches(spark):
    """Journal slices with per-row event time; batch 1 re-versions keys
    1-2, batch 2 re-versions key 1 twice (the later stamp wins)."""

    def b(rows):
        return spark.createDataFrame(
            [(k, v, T0 + timedelta(minutes=m)) for (k, v, m) in rows],
            "account_id long, balance double, __transform_dt timestamp",
        )

    return [
        b([(1, 10.0, 0), (2, 20.0, 1), (3, 30.0, 2)]),
        b([(1, 11.0, 10), (2, 21.0, 11), (4, 40.0, 12)]),
        b([(1, 12.0, 20), (1, 13.0, 21), (5, 50.0, 22)]),
    ]


def _merge_fold(states, batch, batch_id):
    fold_merge_batch(states[0], batch, JournalSpec(primary_key=("account_id",)))


def _master_result(states):
    return sorted(
        (tuple(r) for r in states[0].read().collect()), key=repr
    )


def _cdc_batches(spark):
    def b(rows):
        return spark.createDataFrame(
            [
                (k, v, T0 + timedelta(minutes=m), s, op)
                for (k, v, m, s, op) in rows
            ],
            "k long, v string, ts timestamp, seq long, op string",
        )

    return [
        b([(1, "a", 0, 1, "I"), (2, "b", 1, 2, "I"), (3, "c", 2, 3, "I")]),
        b([(1, "a2", 10, 4, "U"), (2, None, 11, 5, "D"), (4, "d", 12, 6, "I")]),
        # includes a LATE event for key 3 (older than its batch-0 row is
        # newer... ordering guard path) and a fresh update for key 4
        b([(3, "late", 1, 0, "U"), (4, "d2", 20, 7, "U"), (5, "e", 21, 8, "I")]),
    ]


def _cdc_fold(states, batch, batch_id):
    fold_cdc_batch(states[0], batch, ["k"], ["ts", "seq"], "op")


_ING_CFG = DedupIngestConfig()


def _ingest_batches(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 24)
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    base = [(r.doc_id, r.text) for r in rows]
    s0, s1, s2 = base[:8], base[8:16], base[16:24]
    s1 = s1 + [(9000, base[0][1])]  # planted exact dup across batches
    return [
        spark.createDataFrame(s, "doc_id long, text string")
        for s in (s0, s1, s2)
    ]


def _ingest_fold(states, batch, batch_id):
    fold_ingest_batch(states[0], batch, _ING_CFG)


def _ingest_result(states):
    return sorted(r.doc_id for r in states[0].read().select("doc_id").collect())


def _entity_batches(spark):
    parts = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .select("p_partkey", "p_name", "p_retailprice")
        .filter(F.col("p_partkey") < 90)
    )
    return [
        parts.filter(F.col("p_partkey") % 3 == i).localCheckpoint()
        for i in range(3)
    ]


def _entity_fold(states, batch, batch_id):
    stats, edges = states
    fold_entity_batch(
        stats, edges, batch, batch_id,
        "p_name", "p_partkey", "p_retailprice", run_id="chaos",
    )


def _entity_result(states):
    df = current_entities(*states)
    return sorted(
        (
            (r["entity_cluster"], r["n_members"], r["golden_key"])
            for r in df.collect()
        ),
        key=repr,
    )


def _scd2cms_batches(spark):
    """Versioned journal slices for the COMBINED scd2+cms fold — the
    incremental_warehouse example's per-batch shape: one fold maintains
    the interval state AND the planner's sketch from the same batch
    (two cross-state write windows per micro-batch)."""
    schema = (
        "account_id long, balance double, __transform_dt timestamp, "
        "__load_dt timestamp, __seqno long"
    )
    rows = [
        (k, float(100 * d + k), T0 + timedelta(days=d), T0, d * 100 + k)
        for d in range(3)
        for k in range(0, 12, d + 1)
    ]
    k = -(-len(rows) // 3)
    return [
        spark.createDataFrame(rows[i * k : (i + 1) * k], schema)
        for i in range(3)
    ]


def _scd2cms_fold(states, batch, batch_id):
    from dwh_etl_framework_spark.streaming.distinct import fold_cms_batch
    from dwh_etl_framework_spark.streaming.scd2 import fold_scd2_batch

    scd2, cms = states
    fold_scd2_batch(scd2, batch, JournalSpec(primary_key=("account_id",)))
    fold_cms_batch(
        cms, batch.select("account_id"), batch_id, "account_id",
        run_id="chaos_scd2cms",
    )


def _scd2cms_result(states):
    from dwh_etl_framework_spark.streaming.distinct import current_cms
    from dwh_etl_framework_spark.streaming.scd2 import current_scd2

    scd2, cms = states
    iv = current_scd2(scd2)
    cols = sorted(iv.columns)
    intervals = sorted(
        (tuple(r[c] for c in cols) for r in iv.collect()), key=repr
    )
    counters = sorted((tuple(r) for r in current_cms(cms).collect()), key=repr)
    return (intervals, counters)


OPS = {
    "merge": (1, _merge_batches, _merge_fold, _master_result),
    "cdc": (1, _cdc_batches, _cdc_fold, _master_result),
    "ingest_dedup": (1, _ingest_batches, _ingest_fold, _ingest_result),
    "entity_folds": (2, _entity_batches, _entity_fold, _entity_result),
    "scd2_cms": (2, _scd2cms_batches, _scd2cms_fold, _scd2cms_result),
}


def _run(states, batches, fold, kill_batch=None, fuse=None):
    for i, b in enumerate(batches):
        if i == kill_batch:
            try:
                fold(states, b, i)
                raise AssertionError("fuse did not blow")
            except Boom:
                pass
            fuse["left"] = 10**9
            fold(states, b, i)  # at-least-once re-delivery, same batch id
        else:
            fold(states, b, i)


@pytest.mark.parametrize("op", list(OPS))
def test_every_killpoint_re_heals(spark, tmp_path, op):
    n_states, mk_batches, fold, result = OPS[op]
    batches = mk_batches(spark)

    truth_states = [
        StreamMasterState(spark, str(tmp_path / f"truth_{op}_{j}"))
        for j in range(n_states)
    ]
    _run(truth_states, batches, fold)
    truth = result(truth_states)
    assert truth, op

    for kb in range(len(batches)):
        for k in range(n_states + 1):
            fuse = {"left": 10**9}
            states = [
                KillingState(
                    spark, str(tmp_path / f"{op}_b{kb}_k{k}_{j}"), fuse
                )
                for j in range(n_states)
            ]
            # burn normally until the kill batch, then allow k writes
            for i, b in enumerate(batches):
                if i == kb:
                    fuse["left"] = k
                    try:
                        fold(states, b, i)
                        assert k >= n_states, (op, kb, k)
                    except Boom:
                        pass
                    fuse["left"] = 10**9
                    fold(states, b, i)  # re-delivery, same batch id
                else:
                    fold(states, b, i)
            assert result(states) == truth, (op, kb, k)
