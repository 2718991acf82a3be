"""Streaming SCD2 maintenance: the batch ``scd2_intervals`` protocol kept
current by a ``foreachBatch`` fold (VERDICT r9 #3).

The batch temporal family (f23 intervals, f32 time travel, f33 PIT join)
assumes the whole journal is re-windowed per run; a continuous feed wants
interval close/open to SURVIVE micro-batches: a new version of key K must
close K's open interval and open its own, late data must slot into the
middle of K's history, and at-least-once re-delivery must change nothing.

Fold design — recompute ONLY the affected keys, from their own stored
history (the cdc.py discipline):

1. the state table stores every version as an interval row PLUS the
   journal ordering columns (``scd2_intervals(keep_order_cols=True)``),
   so any version can be restored to its original journal row;
2. per batch: affected keys = the batch's distinct PKs (broadcast);
   untouched keys' rows pass through byte-identical; affected keys'
   stored versions are restored to journal rows, unioned with the batch,
   deduped on (PK, ordering) and re-windowed — O(batch + affected
   history), never O(state);
3. idempotence is structural, not guarded: the fold is a pure function
   of the deduped version SET, so re-delivering any batch (or any crash/
   re-fold interleaving) is a fixed point — the set-union discipline of
   the corpus folds, no batch-id guard required. Out-of-order batches
   converge for the same reason: a late version joins its key's history
   and the re-window places it correctly.

State publishes through ``StreamMasterState`` (atomic pointer commit), so
a crash mid-write leaves the previous interval table live — intervals
and ordering columns always belong to the same version set.

Reference anchor: the journal keeps full history but the reference ships
no interval/temporal operator at all (``airflow_etl.py:154-223``); its
delta mode is stubbed (``:452-463``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.merge import (
    JournalSpec,
    SYSTEM_COLS,
    change_feed_from_intervals,
    scd2_intervals,
)
from dwh_etl_framework_spark.streaming.guard import start_fold
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

#: ordering columns the state retains per version (``__record_state`` is
#: dropped — interval derivation treats all states alike, exactly like
#: the batch operator).
ORDER_COLS = ("__transform_dt", "__load_dt", "__seqno")
_INTERVAL_COLS = ("valid_from", "valid_to", "is_current")


def _normalize_batch(batch_df: DataFrame) -> DataFrame:
    """Journal-row shape: PK + value columns + the ordering columns."""
    missing = [c for c in ORDER_COLS if c not in batch_df.columns]
    if missing:
        raise ValueError(
            f"SCD2 fold needs journal ordering columns; missing {missing} "
            "— stamp the stream (stamp_journal_columns) before folding"
        )
    return batch_df.drop("__record_state")


def fold_scd2_batch(
    state: StreamMasterState,
    batch_df: DataFrame,
    spec: JournalSpec,
    tombstones: StreamMasterState | None = None,
) -> bool:
    """Fold one micro-batch of journal versions into the interval state.

    Returns False for an empty batch. Safe under re-delivery, partial
    history, and out-of-order arrival (see module docstring). When a
    ``tombstones`` state is supplied (see :func:`erase_keys`), erased
    PKs are filtered OUT of every incoming batch first — so an
    at-least-once re-delivery of a pre-erasure batch cannot resurrect
    an erased key."""
    pk = list(spec.primary_key)
    dedup_cols = pk + list(ORDER_COLS)
    erased = tombstones.read() if tombstones is not None else None
    if erased is not None:
        # one empty check, after the filter: an empty batch and a fully
        # erased one both return False
        batch_df = batch_df.join(F.broadcast(erased), on=pk, how="left_anti")
    if not batch_df.head(1):
        return False
    batch = _normalize_batch(batch_df).dropDuplicates(dedup_cols)
    stored = state.read()
    if stored is None:
        state.write(
            scd2_intervals(batch, spec, keep_order_cols=True).coalesce(1)
        )
        return True
    keys = batch.select(*pk).distinct()
    untouched = stored.join(F.broadcast(keys), on=pk, how="left_anti")
    history = (
        stored.join(F.broadcast(keys), on=pk, how="left_semi")
        .drop(*_INTERVAL_COLS)
    )
    merged = history.unionByName(
        batch.select(*history.columns)
    ).dropDuplicates(dedup_cols)
    rebuilt = scd2_intervals(merged, spec, keep_order_cols=True)
    state.write(
        untouched.unionByName(rebuilt).coalesce(1)
    )
    return True


def current_scd2(state: StreamMasterState) -> DataFrame | None:
    """The live interval table in the batch operator's schema (ordering
    columns stripped; ``None`` before the first batch). Feed this to
    ``operators.merge.pit_join`` for point-in-time reads — the f33 plan
    over streamed intervals."""
    stored = state.read()
    return None if stored is None else stored.drop(*SYSTEM_COLS)


def change_feed_from_state(
    state: StreamMasterState,
    spec: JournalSpec,
    t_from,
    t_to,
    value_cols: tuple[str, ...] | list[str],
) -> DataFrame | None:
    """The change feed (f34/f35 semantics) served from the LIVE streamed
    interval state — the composed end-to-end path: a continuous journal
    feed maintains the intervals (:func:`stream_scd2`), and any
    ``[t_from, t_to]`` window is answered with two pushdown-able
    interval-containment filters and a presence-marker diff, NO window
    function and no journal rescan at read time. Equal to the batch
    ``change_feed`` over the journal the state was folded from (pinned
    in ``tests/test_stream_scd2.py``). ``None`` before the first batch.

    This is the serving shape for the reference's stubbed delta extract
    (``airflow_etl.py:452-463``) at 100 TB: the stream pays O(batch +
    affected history) per fold; consumers pay O(changed keys) per read,
    for any window, from state alone."""
    intervals = current_scd2(state)
    if intervals is None:
        return None
    return change_feed_from_intervals(intervals, spec, t_from, t_to, value_cols)


def erase_keys(
    state: StreamMasterState,
    tombstones: StreamMasterState,
    keys_df: DataFrame,
    spec: JournalSpec,
) -> None:
    """Right-to-erasure for the streamed SCD2 state: persist the PKs to
    the tombstone list, then rewrite the interval state without them
    (the batch ``erase_journal_keys`` applied to the state table).

    Write order is deliberate — tombstones FIRST, so the only crash
    window between the two atomic writes fails CLOSED: the keys are
    already blocked from every future fold, their interval rows linger
    until the erase is re-run (erasure requests are idempotent — re-run
    on recovery). The reverse order would leave a window where a
    re-delivered old batch resurrects a legally erased key."""
    pk = list(spec.primary_key)
    keys = keys_df.select(*pk).distinct().localCheckpoint(eager=True)
    old = tombstones.read()
    all_keys = keys if old is None else old.unionByName(keys).distinct()
    tombstones.write(all_keys.coalesce(1))
    stored = state.read()
    if stored is not None:
        state.write(
            stored.join(F.broadcast(tombstones.read()), on=pk, how="left_anti")
        )


#: fallback stamp base when there is no prior state to anchor above.
_STAMP_EPOCH = __import__("datetime").datetime(2000, 1, 1)


def stamp_batch_deterministic(
    batch_df: DataFrame, transform_dt, batch_id: int, base=None
) -> DataFrame:
    """Re-delivery-safe journal stamps for streams that do NOT carry the
    ordering columns (ADVICE r10, medium): ``stamp_journal_columns`` uses
    ``current_timestamp()`` / ``monotonically_increasing_id()``, so a
    re-executed micro-batch (at-least-once ``foreachBatch``) would get
    DIFFERENT dedup keys and the fold's ``dropDuplicates`` on (PK,
    ORDER_COLS) would miss the replay, accumulating duplicate versions.

    Here every stamp is a pure function of (``base``, ``batch_id``, row
    content):

    - ``__load_dt``  = ``base + batch_id seconds`` — monotone across
      batches within a generation, identical on replay. ``base`` is the
      GENERATION anchor (:func:`resolve_stamp_base`): batch ids restart
      at 0 on a fresh checkpoint, and an absolute epoch would also sort
      below any wall-clock-stamped legacy state, so the anchor must sit
      above everything already folded (review r11);
    - ``__transform_dt`` = caller-fixed ``transform_dt``, a per-row
      event-time column if the stream carries one, else the batch stamp;
    - ``__seqno`` = ``xxhash64(batch_id, <row content>)`` — identical on
      replay; rows with identical content in one batch collapse to one
      version. CAVEAT (documented, review r11): when ONE micro-batch
      carries several DISTINCT versions of the same key, their relative
      order is content-deterministic, NOT arrival order — an unordered
      stream carries no replay-stable arrival signal (partition order
      may differ across executions). Callers that need true in-batch
      ordering must ship ordering columns on the stream.

    The structural-idempotence claim in the module docstring therefore
    holds on the stamped path too, with no batch-id guard state."""
    from datetime import timedelta

    bdt = F.lit(
        (base or _STAMP_EPOCH) + timedelta(seconds=int(batch_id))
    ).cast("timestamp")
    if transform_dt is not None:
        tdt = F.lit(transform_dt).cast("timestamp")
    elif "__transform_dt" in batch_df.columns:
        tdt = F.col("__transform_dt")
    else:
        tdt = bdt
    df = batch_df.withColumn("__transform_dt", tdt).withColumn("__load_dt", bdt)
    content = sorted(c for c in df.columns if c not in ("__seqno", "__record_state"))
    df = df.withColumn(
        "__seqno", F.xxhash64(F.lit(int(batch_id)), *[F.col(c) for c in content])
    )
    if "__record_state" not in df.columns:
        df = df.withColumn("__record_state", F.lit("A"))
    return df


def resolve_stamp_base(spark, state: StreamMasterState, meta: StreamMasterState,
                       run_id: str):
    """The stamp anchor for one checkpoint GENERATION of a stamped
    stream (review r11): chosen once per (state, run_id) as one hour
    past everything already in the state AND past the previous
    generation's anchor, then persisted in the ``meta`` sidecar — so

    - re-delivery within a generation reads the SAME anchor (stamps are
      pure functions again → the fold stays idempotent);
    - a fresh checkpoint (new run_id, batch ids restart at 0) stamps
      strictly ABOVE every previously folded version — no inversion;
    - legacy state stamped by wall clock sorts BELOW the new anchor for
      the same reason (the anchor clears its max).

    The meta keeps EVERY generation's (run_id, base) row, not just the
    latest (review r11): a replayed batch from an OLDER checkpoint
    generation (failover script still pointing at a retired dir, or an
    uncommitted last batch re-delivering) must find its ORIGINAL anchor
    so its stamps reproduce byte-identically and the fold absorbs them —
    a freshly minted anchor would stamp the stale payload ABOVE newer
    generations' data.

    Crash windows: the meta write precedes the fold, so a crash between
    them re-reads the same anchor on re-delivery; a crash after the
    fold re-delivers with the same anchor and the dedup absorbs it."""
    from datetime import timedelta

    stored_meta = meta.read()
    prev_max = None
    if stored_meta is not None:
        mine = stored_meta.filter(F.col("run_id") == run_id).first()
        if mine is not None:
            return mine["base"]
        prev_max = stored_meta.agg(F.max("base").alias("m")).first()["m"]
    base = _STAMP_EPOCH
    stored = state.read()
    if stored is not None and "__load_dt" in stored.columns:
        mx = stored.agg(F.max("__load_dt").alias("m")).first()["m"]
        if mx is not None:
            base = max(base, mx + timedelta(hours=1))
    if prev_max is not None:
        base = max(base, prev_max + timedelta(hours=1))
    row = spark.createDataFrame(
        [(run_id, base)], "run_id string, base timestamp"
    )
    meta.write(
        row if stored_meta is None else stored_meta.unionByName(row)
    )
    return base


def stream_scd2(
    journal_stream: DataFrame,
    spec: JournalSpec,
    state: StreamMasterState,
    checkpoint_dir: str,
    transform_dt=None,
    tombstones: StreamMasterState | None = None,
):
    """Start the availableNow foreachBatch query maintaining the SCD2
    state (protocol: ``streaming/guard.py``). Streams that already carry
    the journal ordering columns are folded as-is (event-time
    versioning); otherwise rows are stamped deterministically from
    (generation anchor, batch_id, row content) — see
    :func:`stamp_batch_deterministic` / :func:`resolve_stamp_base` — so
    at-least-once re-delivery produces byte-identical dedup keys even on
    the stamped path, and a fresh checkpoint or legacy wall-clock state
    never inverts version order."""
    meta = StreamMasterState(state.spark, f"{state.path}__stampmeta")
    anchor: list = []  # memoized: constant for the whole run (one meta
    # read instead of one per micro-batch, review r11)

    def apply(batch_df: DataFrame, batch_id: int, run_id: str) -> None:
        if not all(c in batch_df.columns for c in ORDER_COLS):
            if not anchor:
                anchor.append(
                    resolve_stamp_base(state.spark, state, meta, run_id=run_id)
                )
            batch_df = stamp_batch_deterministic(
                batch_df, transform_dt, batch_id, base=anchor[0]
            )
        fold_scd2_batch(state, batch_df, spec, tombstones=tombstones)

    return start_fold(
        journal_stream, checkpoint_dir, apply, output_mode="update",
        run_scoped=True,
    )
