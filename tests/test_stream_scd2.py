"""Streaming SCD2 maintenance (streaming/scd2.py) — twin rules:

1. replay ≡ batch ``scd2_intervals`` over the same journal;
2. re-delivery (fresh checkpoint, every batch re-applied) is a no-op;
3. out-of-order arrival converges to the same intervals (late versions
   slot into the middle of their key's history);
4. a PIT join over the STREAMED intervals equals the f33 batch plan;
5. any crash/re-fold interleaving re-heals (fold is a fixed point of
   the deduped version set).
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.merge import (
    JournalSpec,
    pit_join,
    scd2_intervals,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState
from dwh_etl_framework_spark.streaming.scd2 import (
    current_scd2,
    fold_scd2_batch,
    stream_scd2,
)

from conftest import await_stream

SPEC = JournalSpec(primary_key=("account_id",))
T0 = datetime(2024, 1, 1)
SCHEMA = (
    "account_id long, balance double, __transform_dt timestamp, "
    "__load_dt timestamp, __seqno long"
)


def _journal_rows(seed: int = 7, n_keys: int = 25, max_versions: int = 5):
    rng = random.Random(seed)
    rows, seq = [], 0
    for key in range(n_keys):
        for _ in range(rng.randint(1, max_versions)):
            seq += 1
            rows.append(
                (
                    key,
                    float(rng.randint(0, 10_000)),
                    T0 + timedelta(hours=rng.randint(0, 100)),
                    T0 + timedelta(minutes=rng.randint(0, 1000)),
                    seq,
                )
            )
    return rows


def _slices(rows, n=4):
    k = -(-len(rows) // n)
    return [rows[i * k : (i + 1) * k] for i in range(n)]


def _write_slices(spark, slices, base_dir):
    for i, rows in enumerate(slices):
        path = f"{base_dir}/slice_{i}.parquet"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i,) * 2)
        os.utime(path, (1_000_000 + i,) * 2)


def _interval_set(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=repr
    )


def _batch_truth(spark, rows):
    return scd2_intervals(spark.createDataFrame(rows, SCHEMA), SPEC)


def _run_stream(spark, src, state, ckpt):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = stream_scd2(stream, SPEC, state, ckpt)
    await_stream(q, 120)
    return state


def test_stream_replay_equals_batch_intervals(spark, tmp_path):
    rows = _journal_rows()
    _write_slices(spark, _slices(rows), str(tmp_path / "src"))
    state = _run_stream(
        spark, str(tmp_path / "src"),
        StreamMasterState(spark, str(tmp_path / "scd2")),
        str(tmp_path / "ckpt"),
    )
    got = current_scd2(state)
    want = _batch_truth(spark, rows)
    assert sorted(got.columns) == sorted(want.columns)
    assert _interval_set(got) == _interval_set(want)
    # exactly one open interval per key
    opens = got.filter(F.col("is_current")).groupBy("account_id").count()
    assert opens.filter(F.col("count") != 1).count() == 0


def test_redelivery_is_idempotent(spark, tmp_path):
    rows = _journal_rows(seed=11)
    _write_slices(spark, _slices(rows), str(tmp_path / "src"))
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    _run_stream(spark, str(tmp_path / "src"), state, str(tmp_path / "ckpt1"))
    before = _interval_set(current_scd2(state))
    # fresh checkpoint: every file re-delivers against the same state
    _run_stream(spark, str(tmp_path / "src"), state, str(tmp_path / "ckpt2"))
    assert _interval_set(current_scd2(state)) == before


def test_out_of_order_arrival_converges(spark, tmp_path):
    rows = _journal_rows(seed=13)
    # deliver newest-first: every later slice carries OLDER versions
    rows_sorted = sorted(rows, key=lambda r: r[2], reverse=True)
    _write_slices(spark, _slices(rows_sorted), str(tmp_path / "src"))
    state = _run_stream(
        spark, str(tmp_path / "src"),
        StreamMasterState(spark, str(tmp_path / "scd2")),
        str(tmp_path / "ckpt"),
    )
    assert _interval_set(current_scd2(state)) == _interval_set(
        _batch_truth(spark, rows)
    )


def test_pit_join_over_streamed_intervals_matches_batch(spark, tmp_path):
    rows = _journal_rows(seed=17)
    _write_slices(spark, _slices(rows), str(tmp_path / "src"))
    state = _run_stream(
        spark, str(tmp_path / "src"),
        StreamMasterState(spark, str(tmp_path / "scd2")),
        str(tmp_path / "ckpt"),
    )
    facts = spark.createDataFrame(
        [
            (i, k, T0 + timedelta(hours=h))
            for i, (k, h) in enumerate(
                (k, h) for k in range(25) for h in (0, 17, 50, 99)
            )
        ],
        "fact_id long, fk long, ts timestamp",
    )
    got = pit_join(facts, current_scd2(state), "fk", "account_id", "ts")
    want = pit_join(
        facts, _batch_truth(spark, rows), "fk", "account_id", "ts"
    )
    assert _interval_set(got) == _interval_set(want)
    # ≤ 1 dimension version per fact row (half-open interval guarantee)
    per_fact = got.groupBy("fact_id").count()
    assert per_fact.filter(F.col("count") > 1).count() == 0


def test_change_feed_from_streamed_state_matches_batch(spark, tmp_path):
    """Streamed f35 (NOTES r10): the change feed served from the LIVE
    streamed interval state equals the batch ``change_feed`` over the
    full journal, for windows that start before, inside, and spanning
    the version history — including an empty-diff window."""
    from dwh_etl_framework_spark.operators.merge import change_feed
    from dwh_etl_framework_spark.streaming.scd2 import change_feed_from_state

    rows = _journal_rows(seed=23)
    _write_slices(spark, _slices(rows), str(tmp_path / "src"))
    state = _run_stream(
        spark, str(tmp_path / "src"),
        StreamMasterState(spark, str(tmp_path / "scd2")),
        str(tmp_path / "ckpt"),
    )
    journal = spark.createDataFrame(rows, SCHEMA)
    windows = [
        (T0 - timedelta(hours=1), T0 + timedelta(hours=50)),   # spans first-seen
        (T0 + timedelta(hours=10), T0 + timedelta(hours=90)),  # interior
        (T0 + timedelta(hours=100), T0 + timedelta(hours=200)),  # empty diff
    ]
    for t_from, t_to in windows:
        got = change_feed_from_state(state, SPEC, t_from, t_to, ["balance"])
        want = change_feed(journal, SPEC, t_from, t_to, ["balance"])
        assert sorted(got.columns) == sorted(want.columns)
        assert _interval_set(got) == _interval_set(want), (t_from, t_to)


def test_change_feed_from_state_none_before_first_batch(spark, tmp_path):
    from dwh_etl_framework_spark.streaming.scd2 import change_feed_from_state

    state = StreamMasterState(spark, str(tmp_path / "empty"))
    assert (
        change_feed_from_state(state, SPEC, T0, T0 + timedelta(1), ["balance"])
        is None
    )


def test_stamped_path_redelivery_is_idempotent(spark, tmp_path):
    """ADVICE r10 (medium): a stream WITHOUT journal ordering columns is
    stamped per batch; re-delivering a micro-batch within ONE checkpoint
    generation (at-least-once foreachBatch after a crash) must be a
    no-op — stamps are pure functions of (generation anchor, batch_id,
    row content), not current_timestamp()/monotonically_increasing_id()."""
    from dwh_etl_framework_spark.streaming.scd2 import (
        fold_scd2_batch,
        resolve_stamp_base,
        stamp_batch_deterministic,
    )

    raw_schema = "account_id long, balance double"
    rows = [(k, float(v)) for k in range(8) for v in (10 * k, 10 * k + 1)]
    slices = _slices(rows, 2)
    src = str(tmp_path / "src")
    for i, s in enumerate(slices):
        path = f"{src}/slice_{i}.parquet"
        spark.createDataFrame(s, raw_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i,) * 2)
        os.utime(path, (1_000_000 + i,) * 2)
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    ckpt = str(tmp_path / "ckpt1")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    await_stream(stream_scd2(stream, SPEC, state, ckpt), 120)
    before = _interval_set(current_scd2(state))
    got = current_scd2(state)
    assert got.count() == len(rows)
    opens = got.filter(F.col("is_current")).groupBy("account_id").count()
    assert opens.filter(F.col("count") != 1).count() == 0
    # crash re-execution: SAME generation (run_id = the UUID persisted
    # inside the checkpoint dir), same batch ids, same content — the
    # anchor comes back identical from the meta sidecar, so the fold
    # absorbs every replayed batch
    from dwh_etl_framework_spark.streaming.guard import _generation_id

    gen = _generation_id(spark, ckpt)
    meta = StreamMasterState(spark, f"{state.path}__stampmeta")
    for bid, s in enumerate(slices):
        base = resolve_stamp_base(spark, state, meta, run_id=gen)
        replay = stamp_batch_deterministic(
            spark.createDataFrame(s, raw_schema), None, bid, base=base
        )
        fold_scd2_batch(state, replay, SPEC)
    assert _interval_set(current_scd2(state)) == before


def test_stamped_fresh_generation_sorts_above_prior_state(spark, tmp_path):
    """Review r11: batch ids restart at 0 on a fresh checkpoint, and a
    naive epoch stamp would sort the NEW data below the stored versions
    (silent inversion — the stale row stays current). The generation
    anchor must put every new-generation stamp strictly above the
    state's max."""
    from dwh_etl_framework_spark.streaming.scd2 import (
        fold_scd2_batch,
        resolve_stamp_base,
        stamp_batch_deterministic,
    )

    raw_schema = "account_id long, balance double"
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    meta = StreamMasterState(spark, f"{state.path}__stampmeta")
    # generation 1 (ckptA): initial balances, batches 0..1
    for bid, vals in enumerate([[(k, 1.0) for k in range(4)],
                                [(k, 2.0) for k in range(4)]]):
        base = resolve_stamp_base(spark, state, meta, run_id="ckptA")
        fold_scd2_batch(
            state,
            stamp_batch_deterministic(
                spark.createDataFrame(vals, raw_schema), None, bid, base=base
            ),
            SPEC,
        )
    # generation 2 (fresh checkpoint ckptB, batch ids restart at 0):
    # updated balances must become CURRENT, not history
    base2 = resolve_stamp_base(spark, state, meta, run_id="ckptB")
    fold_scd2_batch(
        state,
        stamp_batch_deterministic(
            spark.createDataFrame([(k, 9.0) for k in range(4)], raw_schema),
            None, 0, base=base2,
        ),
        SPEC,
    )
    cur = current_scd2(state).filter(F.col("is_current"))
    assert {(r["account_id"], r["balance"]) for r in cur.collect()} == {
        (k, 9.0) for k in range(4)
    }
    # history depth: 3 versions per key survive
    assert current_scd2(state).count() == 12
    # re-delivering gen-2's batch (same run_id) is still a no-op
    before = _interval_set(current_scd2(state))
    base2b = resolve_stamp_base(spark, state, meta, run_id="ckptB")
    assert base2b == base2
    fold_scd2_batch(
        state,
        stamp_batch_deterministic(
            spark.createDataFrame([(k, 9.0) for k in range(4)], raw_schema),
            None, 0, base=base2b,
        ),
        SPEC,
    )
    assert _interval_set(current_scd2(state)) == before


def test_stamped_old_generation_replay_is_absorbed(spark, tmp_path):
    """Review r11: a replayed batch from an OLDER checkpoint generation
    (failover script pointing at a retired dir) must find its ORIGINAL
    anchor in the multi-generation meta — a freshly minted anchor would
    stamp the STALE payload above generation-2 data and resurrect it as
    current."""
    from dwh_etl_framework_spark.streaming.scd2 import (
        fold_scd2_batch,
        resolve_stamp_base,
        stamp_batch_deterministic,
    )

    raw_schema = "account_id long, balance double"
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    meta = StreamMasterState(spark, f"{state.path}__stampmeta")
    old_batch = [(k, 1.0) for k in range(3)]
    baseA = resolve_stamp_base(spark, state, meta, run_id="ckptA")
    fold_scd2_batch(
        state,
        stamp_batch_deterministic(
            spark.createDataFrame(old_batch, raw_schema), None, 0, base=baseA
        ),
        SPEC,
    )
    baseB = resolve_stamp_base(spark, state, meta, run_id="ckptB")
    fold_scd2_batch(
        state,
        stamp_batch_deterministic(
            spark.createDataFrame([(k, 2.0) for k in range(3)], raw_schema),
            None, 0, base=baseB,
        ),
        SPEC,
    )
    before = _interval_set(current_scd2(state))
    # ckptA's batch 0 re-delivers AFTER generation B exists: the meta
    # still holds ckptA's row, so the stamps reproduce and the fold
    # absorbs the replay — balance 2.0 stays current
    baseA2 = resolve_stamp_base(spark, state, meta, run_id="ckptA")
    assert baseA2 == baseA
    fold_scd2_batch(
        state,
        stamp_batch_deterministic(
            spark.createDataFrame(old_batch, raw_schema), None, 0, base=baseA2
        ),
        SPEC,
    )
    assert _interval_set(current_scd2(state)) == before
    cur = current_scd2(state).filter(F.col("is_current"))
    assert {r["balance"] for r in cur.collect()} == {2.0}


def test_stamped_path_sorts_above_wallclock_legacy_state(spark, tmp_path):
    """Review r11: state folded by the OLD wall-clock stamps (~today)
    must not shadow new deterministic stamps — the anchor clears the
    legacy max, so a new version becomes current."""
    from dwh_etl_framework_spark.operators.merge import stamp_journal_columns
    from dwh_etl_framework_spark.streaming.scd2 import (
        fold_scd2_batch,
        resolve_stamp_base,
        stamp_batch_deterministic,
    )

    raw_schema = "account_id long, balance double"
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    meta = StreamMasterState(spark, f"{state.path}__stampmeta")
    legacy = stamp_journal_columns(
        spark.createDataFrame([(1, 100.0)], raw_schema), None
    )  # current_timestamp ≈ today
    fold_scd2_batch(state, legacy, SPEC)
    base = resolve_stamp_base(spark, state, meta, run_id="ckptNew")
    fold_scd2_batch(
        state,
        stamp_batch_deterministic(
            spark.createDataFrame([(1, 200.0)], raw_schema), None, 0, base=base
        ),
        SPEC,
    )
    cur = current_scd2(state).filter(F.col("is_current")).collect()
    assert [(r["account_id"], r["balance"]) for r in cur] == [(1, 200.0)]


def test_stamp_batch_deterministic_is_pure(spark):
    """Same (base, batch_id, rows) → byte-identical stamps; a later
    batch_id → a later __load_dt (cross-batch ordering preserved)."""
    from dwh_etl_framework_spark.streaming.scd2 import stamp_batch_deterministic

    df = spark.createDataFrame(
        [(1, 5.0), (2, 7.0)], "account_id long, balance double"
    )
    a = stamp_batch_deterministic(df, None, 3).collect()
    b = stamp_batch_deterministic(df, None, 3).collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b))
    c = stamp_batch_deterministic(df, None, 4).collect()
    assert {r["__load_dt"] for r in a} != {r["__load_dt"] for r in c}
    assert all(r["__load_dt"] < c[0]["__load_dt"] for r in a)


def test_crash_refold_any_prefix_re_heals(spark, tmp_path):
    """Simulate every partial-commit interleaving: fold slices 0..i,
    re-fold slice i (the crashed-then-redelivered batch), continue —
    final state must equal the batch truth regardless of i."""
    rows = _journal_rows(seed=19, n_keys=12)
    slices = _slices(rows, 3)
    want = _interval_set(_batch_truth(spark, rows))
    for crash_at in range(3):
        state = StreamMasterState(
            spark, str(tmp_path / f"scd2_{crash_at}")
        )
        for i, s in enumerate(slices):
            batch = spark.createDataFrame(s, SCHEMA)
            fold_scd2_batch(state, batch, SPEC)
            if i == crash_at:
                fold_scd2_batch(state, batch, SPEC)  # re-delivery
        assert _interval_set(current_scd2(state)) == want, crash_at


def test_erasure_removes_history_and_survives_redelivery(spark, tmp_path):
    """Right-to-erasure twin rules: after erase_keys, the erased PKs are
    gone from the interval read AND from every future fold — including
    an at-least-once re-delivery of a PRE-erasure batch (the tombstone
    list fails closed)."""
    from dwh_etl_framework_spark.streaming.scd2 import erase_keys

    rows = _journal_rows(seed=29, n_keys=10)
    slices = _slices(rows, 2)
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    tomb = StreamMasterState(spark, str(tmp_path / "tomb"))
    for i, s in enumerate(slices):
        fold_scd2_batch(
            state, spark.createDataFrame(s, SCHEMA), SPEC, tombstones=tomb
        )
    erased_keys = {0, 3, 7}
    erase_keys(
        state,
        tomb,
        spark.createDataFrame([(k,) for k in erased_keys], "account_id long"),
        SPEC,
    )
    survivors = {r[0] for r in rows if r[0] not in erased_keys}
    got = current_scd2(state)
    assert {r["account_id"] for r in got.collect()} == survivors
    # re-deliver BOTH pre-erasure batches: erased keys must stay gone
    for s in slices:
        fold_scd2_batch(
            state, spark.createDataFrame(s, SCHEMA), SPEC, tombstones=tomb
        )
    assert {
        r["account_id"] for r in current_scd2(state).collect()
    } == survivors
    # the survivors' intervals are untouched by the erase + refold
    truth = _batch_truth(spark, [r for r in rows if r[0] not in erased_keys])
    assert _interval_set(current_scd2(state)) == _interval_set(truth)


def test_erasure_crash_window_fails_closed_and_rerun_completes(spark, tmp_path):
    """Crash between the tombstone write and the state rewrite: the key
    is already blocked from folds (fails closed); re-running the erase
    finishes the removal."""
    from dwh_etl_framework_spark.streaming.scd2 import erase_keys

    rows = _journal_rows(seed=31, n_keys=6)
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    tomb = StreamMasterState(spark, str(tmp_path / "tomb"))
    fold_scd2_batch(state, spark.createDataFrame(rows, SCHEMA), SPEC, tombstones=tomb)
    keys = spark.createDataFrame([(2,)], "account_id long")
    # simulate the crash window: tombstones published, state rewrite lost
    tomb.write(keys)
    # a new batch for the erased key is blocked
    newer = [(2, 1.0, T0 + timedelta(hours=200), T0, 10_000)]
    fold_scd2_batch(state, spark.createDataFrame(newer, SCHEMA), SPEC, tombstones=tomb)
    assert (
        current_scd2(state)
        .filter(F.col("account_id") == 2)
        .filter(F.col("valid_from") == newer[0][2])
        .count()
        == 0
    )
    # re-run the (idempotent) erasure: interval rows now gone too
    erase_keys(state, tomb, keys, SPEC)
    assert current_scd2(state).filter(F.col("account_id") == 2).count() == 0


def test_wiped_and_reused_checkpoint_mints_fresh_generation(spark, tmp_path):
    """ADVICE r11 (medium): wiping and REUSING the same checkpoint path
    (a common ops reset) restarts batch ids at 0; keying the generation
    on the path string would re-serve the OLD anchor and stamp the new
    run's versions below the prior generation's later batches — the
    newest value would no longer be current. The generation UUID lives
    INSIDE the checkpoint dir, so it shares the wipe."""
    import shutil

    from dwh_etl_framework_spark.streaming.guard import _generation_id

    raw_schema = "account_id long, balance double"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def land(slices):
        shutil.rmtree(src, ignore_errors=True)
        for i, s in enumerate(slices):
            path = f"{src}/slice_{i}.parquet"
            spark.createDataFrame(s, raw_schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            for root, _, files in os.walk(path):
                for f_ in files:
                    os.utime(os.path.join(root, f_), (1_000_000 + i,) * 2)
            os.utime(path, (1_000_000 + i,) * 2)

    def run():
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(src)
        )
        state = StreamMasterState(spark, str(tmp_path / "scd2"))
        await_stream(stream_scd2(stream, SPEC, state, ckpt), 120)
        return state

    # generation A: key 1 sees four versions across four batches
    land([[(1, float(v))] for v in (10.0, 20.0, 30.0, 40.0)])
    state = run()
    gen_a = _generation_id(spark, ckpt)
    cur = current_scd2(state).filter(
        (F.col("account_id") == 1) & F.col("is_current")
    )
    assert cur.first()["balance"] == 40.0

    # ops reset: wipe the checkpoint, archive the old files, deliver only
    # the NEW delta — it arrives as batch 0 of the reused path
    shutil.rmtree(ckpt)
    land([[(1, 50.0)]])
    state = run()
    gen_b = _generation_id(spark, ckpt)
    assert gen_b != gen_a  # fresh generation, not the path-keyed old one
    cur = current_scd2(state).filter(
        (F.col("account_id") == 1) & F.col("is_current")
    )
    # the path-keyed bug stamps 50.0 at oldbase+0 — BELOW 40.0's
    # oldbase+3 — demoting the newest value to history
    assert cur.first()["balance"] == 50.0
    hist = (
        state.read()
        .filter(F.col("account_id") == 1)
        .orderBy("valid_from")
        .collect()
    )
    assert [r["balance"] for r in hist] == [10.0, 20.0, 30.0, 40.0, 50.0]


def test_generation_id_stable_within_a_checkpoint_lifetime(spark, tmp_path):
    import shutil

    from dwh_etl_framework_spark.streaming.guard import _generation_id

    ckpt = str(tmp_path / "ck")
    os.makedirs(ckpt)
    g1 = _generation_id(spark, ckpt)
    g2 = _generation_id(spark, ckpt)
    assert g1 == g2
    shutil.rmtree(ckpt)
    os.makedirs(ckpt)
    assert _generation_id(spark, ckpt) != g1


def test_tombstoned_fold_runs_one_empty_check(spark, tmp_path, monkeypatch):
    """With tombstones holding keys, a fold checks emptiness once, after
    the erased-key filter; an erased-only batch still returns False."""
    rows = _journal_rows(seed=37, n_keys=4)
    state = StreamMasterState(spark, str(tmp_path / "scd2"))
    tomb = StreamMasterState(spark, str(tmp_path / "tomb"))
    tomb.write(spark.createDataFrame([(1,)], "account_id long"))
    batch = spark.createDataFrame(rows, SCHEMA)
    calls = []
    real_head = type(batch).head

    def counting_head(self, n=None):
        calls.append(n)
        return real_head(self, n)

    monkeypatch.setattr(type(batch), "head", counting_head)
    assert fold_scd2_batch(state, batch, SPEC, tombstones=tomb) is True
    assert len(calls) == 1
    erased_only = spark.createDataFrame([r for r in rows if r[0] == 1], SCHEMA)
    assert fold_scd2_batch(state, erased_only, SPEC, tombstones=tomb) is False
    assert len(calls) == 2
    assert 1 not in {r["account_id"] for r in current_scd2(state).collect()}
