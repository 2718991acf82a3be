"""R33: the journal→master merge as a continuous stream (foreachBatch).

The reference's delta merge (``airflow_etl.py:179-214``) runs once per
Airflow task; here the same DataFrame plan (operators/merge.merge_delta)
runs inside ``foreachBatch`` so each micro-batch of journal rows upserts
into the master — the streaming generalization the reference declared but
left unimplemented (``airflow_etl.py:771-774``).

The master lives at a parquet path with a pointer-file commit protocol
(``StreamMasterState``) making each swap crash-atomic without lakehouse
jars. State per batch = one window dedup over the batch + one
anti-join against the current master: the batch side is small, so Catalyst
broadcasts its distinct-PK set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dwh_etl_framework_spark.operators.merge import (
    JournalSpec,
    merge_delta,
    stamp_journal_columns,
)
from dwh_etl_framework_spark.streaming.guard import start_fold


class StreamMasterState:
    """Parquet-backed master table state for the streaming upsert.

    Existence is determined from DISK, not an in-memory flag: the stream's
    checkpoint is durable across restarts, so the master must be too — a
    fresh StreamMasterState over an existing path resumes from the stored
    master instead of silently rebuilding from one batch.

    **Commit protocol** (ADVICE r7: a plain ``mode("overwrite")`` destroys
    the old state the moment the new write starts, so a crash mid-write
    loses BOTH): each ``write`` lands in a fresh version directory
    ``<path>/_vN`` and is then *published* by atomically replacing the
    ``<path>/_LATEST`` pointer file (``os.replace`` — atomic on POSIX).
    ``read`` only ever follows the pointer, so every crash window is safe:

    - crash while writing ``_vN``: pointer still names ``_vN-1``; the
      orphan directory is swept on the next successful write;
    - crash between parquet write and pointer publish: same as above;
    - crash after publish: ``_vN`` is complete by construction.

    The underscore prefix matters: Spark's listing filter hides ``_*``
    children, so a legacy flat-layout state (pre-r8) stays readable at
    ``path`` even with a half-migrated ``_v1`` beside it, while an
    explicitly addressed ``path/_vN`` root is exempt from the filter.

    This is the poor-man's transaction log of the lakehouse formats
    (Delta's ``_last_checkpoint``, Iceberg's ``version-hint.text``); on an
    object store without atomic rename you'd swap the pointer through the
    real commit service instead. Legacy layouts (parquet files directly at
    ``path``, written by the pre-r8 overwrite protocol) are still read.
    """

    _POINTER = "_LATEST"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _pointer_path(self) -> str:
        import os

        return os.path.join(self.path, self._POINTER)

    def _current_version(self) -> int | None:
        """The published version number, or None when no pointer exists.

        ONLY a genuinely absent pointer maps to None. A pointer that
        exists but cannot be read or parsed (corrupt content, I/O or
        permission error) must PROPAGATE: treating it as 'no pointer'
        would send ``read`` down the legacy path, which sees a healthy
        published layout (nothing but ``_v N``/``_LATEST`` entries) as
        first-run — and the next ``write`` would then rmtree the live
        version and rebuild the master from a single batch (ADVICE r8).
        """
        import os

        try:
            with open(self._pointer_path()) as fh:
                content = fh.read()
        except (FileNotFoundError, NotADirectoryError):
            return None
        try:
            return int(content.strip())
        except ValueError as exc:
            raise ValueError(
                f"corrupt master-state pointer {self._pointer_path()!r}: "
                f"{content!r} — refusing to treat published state as "
                f"first-run; repair or remove the pointer explicitly"
            ) from exc

    def read(self) -> DataFrame | None:
        import os

        from pyspark.errors import AnalysisException

        ver = self._current_version()
        if ver is not None:
            # published version: complete by protocol, any error propagates
            df = self.spark.read.parquet(os.path.join(self.path, f"_v{ver}"))
            df.schema  # force path resolution now
            return df
        try:
            df = self.spark.read.parquet(self.path)
            df.schema
            return df
        except AnalysisException as e:
            # ONLY "never written" means first run. A missing path
            # qualifies; so does a directory holding nothing but hidden
            # entries (the ``_v1`` orphan of a crashed FIRST write — no
            # state was ever published). Anything else must propagate —
            # treating it as first-run would silently rebuild the master
            # from one batch and destroy it.
            if "PATH_NOT_FOUND" in str(e):
                return None
            import os as _os

            if _os.path.isdir(self.path) and all(
                n.startswith(("_", ".")) for n in _os.listdir(self.path)
            ):
                return None
            raise

    def write(self, df: DataFrame) -> None:
        import os
        import shutil

        # materialize BEFORE writing: the plan may read the version we are
        # superseding (read-your-own-input); localCheckpoint breaks the
        # cycle and pins the rows.
        pinned = df.localCheckpoint(eager=True)
        prev = self._current_version()
        nxt = (prev or 0) + 1
        target = os.path.join(self.path, f"_v{nxt}")
        if os.path.exists(target):  # orphan of a crashed attempt
            shutil.rmtree(target)
        pinned.write.mode("errorifexists").parquet(target)
        # publish: write the pointer beside, then atomic-replace into place
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(nxt))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._pointer_path())
        # sweep everything the pointer no longer references: older version
        # dirs, orphans, and any legacy flat-layout parquet files
        for entry in os.listdir(self.path):
            full = os.path.join(self.path, entry)
            if entry in (self._POINTER, f"_v{nxt}"):
                continue
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                try:
                    os.remove(full)
                except OSError:
                    pass


def fold_merge_batch(
    state: StreamMasterState, batch_df: DataFrame, spec: JournalSpec,
    transform_dt=None,
) -> None:
    """Upsert one non-empty micro-batch of journal rows into the master.

    No seqno stride: monotonically_increasing_id's partition bits (≥33)
    would alias any stride anyway, and cross-batch ordering is irrelevant
    here — each batch upserts sequentially into master. Within a batch,
    duplicate-PK rows are ordered by ``__transform_dt``; supply per-row
    event time in the stream (as the tests do) for a meaningful
    within-batch winner."""
    stamped = stamp_journal_columns(batch_df, transform_dt)
    master = state.read()
    if master is None:
        master = stamped.limit(0).drop(
            "__transform_dt", "__load_dt", "__seqno", "__record_state"
        )
    state.write(merge_delta(master, stamped, spec))


def stream_merge_to_master(
    journal_stream: DataFrame,
    spec: JournalSpec,
    state: StreamMasterState,
    checkpoint_dir: str,
    transform_dt=None,
):
    """Start a foreachBatch query upserting each micro-batch into master
    (:func:`fold_merge_batch`; protocol: ``streaming/guard.py``).

    Returns the StreamingQuery; caller awaits/stops it."""
    return start_fold(
        journal_stream, checkpoint_dir,
        lambda b, _: fold_merge_batch(state, b, spec, transform_dt),
        output_mode="update",
    )
