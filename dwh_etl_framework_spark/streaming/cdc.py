"""CDC ingestion: ordered apply of I/U/D change events into a master table.

The reference declares a delta/incremental mode but stubs it
(``airflow_etl.py:452-463``); this is that mode done properly for
change-data-capture feeds (Debezium-shaped: an op column + ordering
columns per change):

1. **within-batch dedupe** — multiple changes for one key inside a
   micro-batch collapse to the LATEST by the ordering columns (one window
   pass over the batch, not the master);
2. **ordered apply** — the net change upserts ('I'/'U') or deletes ('D')
   against the master: one anti-join on the batch's distinct keys (small →
   broadcast) + one union of surviving upserts.

Per batch the master is touched exactly once, and only with O(batch)
joined rows — the shape that stays O(new data) at a 100 TB master when
the master is a real table format (Delta MERGE would replace the
parquet-overwrite in ``StreamMasterState``; the plan is the same).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dwh_etl_framework_spark.streaming.guard import start_fold
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

#: op-column values, Debezium-shaped
OP_INSERT, OP_UPDATE, OP_DELETE = "I", "U", "D"
_VALID_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE)


def latest_change_per_key(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """The NET change per key: latest row by ``order_cols`` (descending,

    ties broken by every remaining column for determinism is the caller's
    job — pass a total order, e.g. (ts, seqno))."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        changes.withColumn("__cdc_rn", F.row_number().over(w))
        .filter(F.col("__cdc_rn") == 1)
        .drop("__cdc_rn")
    )


def apply_cdc_batch(
    master: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Apply one batch of changes: collapse to net-per-key, then

    delete/upsert against master in ONE pass. Master rows whose key has
    any net change are dropped (anti-join on the batch's distinct keys —
    broadcastable); net 'I'/'U' rows are appended. A net 'D' therefore
    deletes; older master rows for changed keys never survive.

    **Cross-batch ordering guard**: when the master itself carries the
    ``order_cols`` (the streaming path stores them for exactly this
    reason), a net change whose ordering tuple is OLDER than the master's
    stored tuple for the same key is discarded — a late-delivered or
    replayed event from a previous batch can no longer overwrite newer
    master state, and its key does not delete the master row either. A
    change with an EQUAL tuple re-applies (idempotent replay). If the
    master lacks the order columns (plain batch masters), cross-batch
    per-key ordering is the transport's responsibility. Both master
    passes (guard + anti-join) probe the master with the broadcast net
    side, so the master is scanned but never shuffled; on an ACID table
    format both collapse into a single MERGE.

    **Op validation** is folded into the apply pass itself (a
    ``raise_error`` branch on the op column) instead of running a
    separate per-batch job: an unknown op value fails the job at action
    time with "unknown CDC op".
    """
    net = latest_change_per_key(changes, key_cols, order_cols)
    checked_op = F.when(
        F.col(op_col).isin(*_VALID_OPS), F.col(op_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("unknown CDC op '"),
                F.coalesce(F.col(op_col), F.lit("NULL")),
                F.lit(f"'; expected one of {_VALID_OPS}"),
            )
        )
    )
    net = net.withColumn(op_col, checked_op)
    if all(c in master.columns for c in order_cols):
        net_ord = F.struct(*[F.col(c) for c in order_cols])
        m_ord = master.select(
            *key_cols,
            F.struct(*[F.col(c) for c in order_cols]).alias("__m_ord"),
        )
        # only the changed keys' stored tuples matter: probe the master
        # with the broadcast net keys (≤ |net| result rows), then the
        # guard join itself is small-vs-small
        relevant = m_ord.join(
            F.broadcast(net.select(*key_cols)), on=list(key_cols), how="inner"
        )
        net = (
            net.join(F.broadcast(relevant), on=list(key_cols), how="left")
            .filter(
                F.col("__m_ord").isNull()
                # a NULL comparison (null ordering value on either side)
                # means age is unknowable — apply the change
                | F.coalesce(net_ord >= F.col("__m_ord"), F.lit(True))
            )
            .drop("__m_ord")
        )
    changed_keys = net.select(*key_cols).distinct()
    survivors = master.join(
        F.broadcast(changed_keys), on=list(key_cols), how="left_anti"
    )
    upserts = net.filter(F.col(op_col) != OP_DELETE).select(*master.columns)
    return survivors.unionByName(upserts)


def fold_cdc_batch(
    state: StreamMasterState, batch_df: DataFrame, key_cols: Sequence[str],
    order_cols: Sequence[str], op_col: str = "op",
) -> None:
    """Apply one non-empty micro-batch of change events to the durable
    master. The bootstrapped master schema DELIBERATELY retains the
    ``order_cols`` (everything but the op column): each master row
    remembers the ordering tuple of the change that produced it, which is
    what lets ``apply_cdc_batch`` reject out-of-order deliveries that span
    micro-batches (see its cross-batch ordering guard)."""
    master = state.read()
    if master is None:
        master = batch_df.drop(op_col).limit(0)
    state.write(apply_cdc_batch(master, batch_df, key_cols, order_cols, op_col))


def stream_cdc_to_master(
    change_stream: DataFrame,
    state: StreamMasterState,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    checkpoint_dir: str,
    op_col: str = "op",
):
    """Continuous CDC apply: each micro-batch of change events is collapsed

    and applied to the durable master (disk-backed ``StreamMasterState`` —
    resumes correctly after restart, like the journal stream merge) by
    :func:`fold_cdc_batch`. Returns the StreamingQuery; caller
    awaits/stops it."""
    return start_fold(
        change_stream, checkpoint_dir,
        lambda b, _: fold_cdc_batch(state, b, key_cols, order_cols, op_col),
        output_mode="update",
    )
