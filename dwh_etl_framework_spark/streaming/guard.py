"""The foreachBatch fold protocol: how every streaming fold in this
package starts, skips, identifies its run and publishes.

Each ``stream_*`` entry point (merge, cdc, scd2, distinct, corpus_folds,
entity_folds, ingest_dedup, cascade_audit) is a module-level per-batch
fold over ``StreamMasterState`` started through :func:`start_fold`; the
modules keep only their update logic, and the stream, the tests and the
examples run the same fold.

**Trigger.** Every fold query runs ``trigger(availableNow=True)`` with a
``checkpointLocation``: it drains what the source holds and stops. The
caller awaits the returned StreamingQuery and stops it on a timeout.

**Output modes.** The three upserts (merge, cdc, scd2) run ``update``;
every other fold runs the default ``append``. For an aggregated input the
two are not interchangeable: ``update`` re-emits every changed aggregate
row in each batch, so a SUM fold would count it twice.

**Empty skip.** A micro-batch without rows changes no state and is
skipped before any state read. Each batch pays exactly one empty check
(a ``head(1)`` job): the starter runs it for a plain fold; a run-scoped
fold runs it itself, because its per-batch function
(:func:`guarded_fold`, ``scd2.fold_scd2_batch``) returns False on an
empty batch.

**Run identity.** foreachBatch batch ids restart at 0 whenever the stream
gets a fresh checkpoint, so a batch id only means something within one
checkpoint lifetime. A run-scoped fold receives that lifetime's identity,
the *generation id* (:func:`_generation_id`): a UUID minted on first use
into ``<checkpoint>/_stamp_generation``. It shares the directory's fate —
wiped with it (a fresh generation), kept with it (replays see the same
id). Keying the run on the checkpoint *path* was wrong: wiping and reusing
a path (a common ops reset) restarts batch ids at 0 under the old
identity, so the SUM guard dropped the new batches as already applied,
and scd2 re-resolved the old generation's stamp anchor, stamping new
versions below the prior generation's later ones (ADVICE r11).

**Guarded publish.** foreachBatch is at-least-once: a crash after the
state write but before the checkpoint commits its offset re-executes the
batch on restart. MAX-merged (HLL registers) and set-union folds (quota,
weighted sample, phrase index, scd2, edges, ingest, audit) are fixed
points under re-delivery and need nothing. SUM folds (histogram, CMS,
document frequencies, entity stats) run :func:`guarded_fold`: the last
applied batch id and the run id ride as ``__last_batch_id``/``__run_id``
in the same atomically published state version as the counters, so guard
and counters never diverge through a crash, and a batch whose id is ≤ the
stored one under the same run id is skipped (the Delta-style (appId,
version) transaction pattern). A different stored run id accepts the
batch and re-stamps the state. Readers strip the guard columns with
:func:`read_state`.

A state carrying ``__last_batch_id`` but a missing or NULL ``__run_id``
(older writer, manual repair) is guard-unknown: re-applying could
double-count and skipping could drop a batch, so the guard refuses with
:class:`GuardStateError` and names the repair (ADVICE r9 #4).

Upgrade note: guarded state and scd2 stamp metadata persisted by older
builds are keyed by the checkpoint path string. The first post-upgrade
run mints a new generation, which accepts its batches (and, for scd2,
anchors above the old rows' max), so ordering and counts are preserved —
only a batch re-delivered ACROSS the upgrade boundary is re-applied
(start the upgrade from a drained stream).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from dwh_etl_framework_spark.streaming.merge import StreamMasterState

GUARD_COLS = ("__last_batch_id", "__run_id")


class GuardStateError(RuntimeError):
    """Persisted fold state whose re-delivery guard cannot be trusted."""


def start_fold(
    stream: DataFrame,
    checkpoint_dir: str,
    fold: Callable,
    output_mode: str = "append",
    run_scoped: bool = False,
):
    """Start the availableNow foreachBatch query applying ``fold`` to
    each micro-batch (protocol: module docstring). Returns the
    StreamingQuery; the caller awaits/stops it.

    A plain fold is called as ``fold(batch_df, batch_id)`` for non-empty
    batches only. A run-scoped fold is called as ``fold(batch_df,
    batch_id, run_id)`` for every batch and runs the empty check itself;
    ``run_id`` is the checkpoint's generation id, read once at the first
    batch (the checkpoint dir exists once the query runs)."""
    spark = stream.sparkSession
    run: list[str] = []

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not run_scoped:
            if batch_df.head(1):
                fold(batch_df, batch_id)
            return
        if not run:
            run.append(_generation_id(spark, checkpoint_dir))
        fold(batch_df, batch_id, run[0])

    return (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(apply)
        .trigger(availableNow=True)
        .start()
    )


def guarded_fold(
    state: StreamMasterState,
    batch_df: DataFrame,
    batch_id: int,
    run_id: str,
    update: Callable[[DataFrame | None], DataFrame],
) -> bool:
    """Apply one micro-batch to a SUM-merged state exactly once.

    ``update(counters)`` returns the merged state, where ``counters`` is
    the published state without guard columns (None before the first
    batch). Returns False for an empty batch or a re-executed one, True
    once the stamped state is published (single file: coalesce(1))."""
    if not batch_df.head(1):
        return False
    skip, counters = check_batch_guard(state.read(), batch_id, run_id)
    if skip:
        return False
    state.write(stamp_guard(update(counters), batch_id, run_id).coalesce(1))
    return True


def read_state(state: StreamMasterState) -> DataFrame | None:
    """The published fold state without the guard columns (None before
    the first batch lands)."""
    stored = state.read()
    return None if stored is None else stored.drop(*GUARD_COLS)


def check_batch_guard(
    stored: DataFrame | None, batch_id: int, run_id: str
) -> tuple[bool, DataFrame | None]:
    """Decide whether a micro-batch was already applied to ``stored``.

    Returns ``(skip, counters)`` where ``skip`` is True for a detected
    re-execution and ``counters`` is the state with the guard columns
    stripped (``None`` for first-run). Raises :class:`GuardStateError`
    when the state carries a batch-id but no interpretable run-id."""
    if stored is None or "__last_batch_id" not in stored.columns:
        return False, stored
    if "__run_id" not in stored.columns:
        raise GuardStateError(
            "fold state has __last_batch_id but no __run_id column "
            "(written by an older guard?) — cannot tell whether batch "
            f"{batch_id} was applied. Repair: stamp a __run_id column "
            "onto the state, or clear the state and replay the stream "
            "from a fresh checkpoint."
        )
    head = stored.select(
        F.max("__last_batch_id").alias("b"),
        F.any_value("__run_id").alias("r"),
    ).first()
    if head["b"] is not None and head["r"] is None:
        raise GuardStateError(
            "fold state carries __last_batch_id="
            f"{head['b']} but a NULL __run_id — guard-unknown state "
            f"(manual repair?). Cannot tell whether batch {batch_id} "
            "was applied; stamp the state's __run_id or clear it and "
            "replay from a fresh checkpoint."
        )
    skip = (
        head["r"] == run_id
        and head["b"] is not None
        and batch_id <= head["b"]
    )
    return skip, stored.drop(*GUARD_COLS)


def stamp_guard(state: DataFrame, batch_id: int, run_id: str) -> DataFrame:
    """Attach the guard columns for the atomic publish."""
    return state.withColumn("__last_batch_id", F.lit(batch_id)).withColumn(
        "__run_id", F.lit(run_id)
    )


def _generation_id(spark, checkpoint_dir: str) -> str:
    """The identity of one checkpoint LIFETIME, persisted inside the
    checkpoint dir (``<dir>/_stamp_generation``) and minted on first use
    (ADVICE r11; see "Run identity" in the module docstring)."""
    import uuid

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/_stamp_generation")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        stream = fs.open(p)
        try:
            return str(
                jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            ).strip()
        finally:
            stream.close()
    gen = uuid.uuid4().hex
    out = fs.create(p, False)  # no-overwrite: a concurrent creator wins
    try:
        out.write(bytearray(gen, "ascii"))
    finally:
        out.close()
    return gen
