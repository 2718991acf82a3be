"""Streaming distinct-count via mergeable HLL registers (foreachBatch).

The batch shape is x84_hll_distinct (``queries/wave10.py``): per-group
HyperLogLog registers from ``operators/sketch.hll_registers``. This module
maintains that register table continuously — each micro-batch's registers
MAX-merge into the persisted state — so a dashboard reads an
always-current approximate distinct count without the stream ever
shuffling raw values or holding per-key state.

Why a sketch and not streaming ``dropDuplicates``+count: exact streaming
distinct state grows with the key domain (every id ever seen), which is
unbounded on a 100 TB feed; the HLL state is a FIXED ≤ m rows per group
forever, and — because merge is MAX — re-delivered micro-batches are
idempotent for free, making at-least-once delivery safe with no dedup
bookkeeping. The same register table also merges ACROSS streams/tables
(e.g. per-datacenter feeds) by another MAX — the classic mergeable-
summaries property (Agarwal et al., "Mergeable Summaries", PODS 2012).

State durability follows ``streaming/merge.StreamMasterState``: the
register table is a parquet path, so a restarted stream resumes from the
stored registers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.sketch import (
    hll_estimate,
    hll_merge,
    hll_registers,
)
from dwh_etl_framework_spark.streaming.guard import (
    guarded_fold,
    read_state,
    start_fold,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState


def update_registers(
    state_regs: DataFrame | None,
    batch: DataFrame,
    group_cols: list[str],
    value_expr: str,
) -> DataFrame:
    """Fold one batch into the register table. Pure function over
    DataFrames (no I/O) so the batch path and the foreachBatch path share
    one implementation — the twin-testing rule every streaming operator
    in this repo follows."""
    batch_regs = hll_registers(batch, group_cols, value_expr)
    if state_regs is None:
        return batch_regs
    return hll_merge(state_regs, batch_regs)


def fold_registers_batch(
    state: StreamMasterState, batch_df: DataFrame, group_cols: list[str],
    value_expr: str,
) -> None:
    """MAX-merge one non-empty micro-batch's registers into the state
    (register tables are tiny, ≤ m rows/group: one-file write)."""
    merged = update_registers(state.read(), batch_df, group_cols, value_expr)
    state.write(merged.coalesce(1))


def stream_distinct_count(
    stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    group_cols: list[str],
    value_expr: str,
):
    """Start a foreachBatch query maintaining the per-group HLL register

    table at ``state``. Readers call :func:`current_estimate` at any time
    for the live approximate distinct counts. Returns the StreamingQuery;
    caller awaits/stops it."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, _: fold_registers_batch(state, b, group_cols, value_expr),
    )


def current_estimate(
    state: StreamMasterState, group_cols: list[str]
) -> DataFrame | None:
    """The live estimate from the persisted registers (None before the
    first batch lands)."""
    regs = state.read()
    return None if regs is None else hll_estimate(regs, group_cols)


# ---- streaming mergeable histogram (the x88 counter table) -------------
# Same state discipline as the HLL registers above, but the merge is SUM,
# which is not idempotent: the fold is guarded (``streaming/guard.py``,
# "Guarded publish"). Bounded state: ≤ buckets rows per group.


def histogram_of(
    df: DataFrame, group_cols: list[str], bucket_expr: str
) -> DataFrame:
    """One partial+final (group, bucket) aggregate — the batch building
    block shared by the batch path (x88) and the stream fold."""
    return df.selectExpr(*group_cols, f"{bucket_expr} AS bucket").groupBy(
        *group_cols, "bucket"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def update_histogram(
    state_hist: DataFrame | None,
    batch: DataFrame,
    group_cols: list[str],
    bucket_expr: str,
) -> DataFrame:
    """Fold one batch into the histogram state (pure function, twin rule)."""
    batch_hist = histogram_of(batch, group_cols, bucket_expr)
    if state_hist is None:
        return batch_hist
    return (
        state_hist.unionByName(batch_hist)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def fold_histogram_batch(
    state: StreamMasterState,
    batch_df: DataFrame,
    batch_id: int,
    group_cols: list[str],
    bucket_expr: str,
    run_id: str = "",
) -> bool:
    """Apply one micro-batch to the persisted histogram, exactly once
    (:func:`~dwh_etl_framework_spark.streaming.guard.guarded_fold`).
    Returns False for an empty batch or a skipped re-execution."""
    return guarded_fold(
        state, batch_df, batch_id, run_id,
        lambda hist: update_histogram(hist, batch_df, group_cols, bucket_expr),
    )


def current_histogram(state: StreamMasterState) -> DataFrame | None:
    """The live counter table without the batch-id guard columns (None
    before the first batch lands)."""
    return read_state(state)


def stream_histogram(
    stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    group_cols: list[str],
    bucket_expr: str,
):
    """Maintain the per-group histogram continuously; quantile reads
    against the state table use the x88 integer rank arithmetic at any
    time without touching raw history."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, i, run: fold_histogram_batch(
            state, b, i, group_cols, bucket_expr, run
        ),
        run_scoped=True,
    )


# ---- streamed count-min sketch (x86/x103 fold) --------------------------
# CMS counters SUM-merge exactly like the histogram buckets above, so the
# fold is the same guarded pattern; the state is ≤ d·w counter rows
# forever. A sketch maintained this way serves BOTH consumers at read
# time: point frequency estimates (x86) and the join-size inner product
# against any other sketch of the same width (x103) — the streaming
# realization of "sketches merge across days/streams".


def update_cms(
    state_counters: DataFrame | None,
    batch: DataFrame,
    value_expr: str,
    w: int | None = None,
) -> DataFrame:
    """Fold one batch's CMS counters into the state (pure function).

    The state persists its width as a constant ``__cms_w`` column
    (ADVICE r10): two counter tables only merge — and two sketches only
    inner-product (``cms_join_size``) — when they hash into the SAME
    width, so the width must travel with the state rather than live in
    the caller's head. Folding a contribution at a different explicit
    ``w`` than the state was built with raises instead of silently
    producing counters that never align."""
    from dwh_etl_framework_spark.operators.sketch import CMS_W, cms_sketch

    stored_w = None
    if state_counters is not None and "__cms_w" in state_counters.columns:
        stored_w = state_counters.select(
            F.any_value("__cms_w").alias("w")
        ).first()["w"]
        state_counters = state_counters.drop("__cms_w")
    if stored_w is not None and w is not None and int(w) != int(stored_w):
        raise ValueError(
            f"CMS fold state was built at w={int(stored_w)}; refusing to "
            f"fold a w={int(w)} contribution — counters at different "
            "widths do not merge"
        )
    eff = int(w or stored_w or CMS_W)
    contrib = cms_sketch(batch, value_expr, eff)
    if state_counters is None:
        merged = contrib
    else:
        merged = (
            state_counters.unionByName(contrib)
            .groupBy("r", "col")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    # Only certify a width we actually KNOW covers the whole state: a
    # legacy width-less state merged with a new contribution could have
    # been built at any width, and stamping the contribution's width
    # onto it would falsely certify the merged counters (review r11) —
    # leave such state width-less so the plans/steps guard keeps using
    # its conservative max-col probe.
    if stored_w is not None or state_counters is None:
        return merged.withColumn("__cms_w", F.lit(eff))
    return merged


def fold_cms_batch(
    state: StreamMasterState,
    batch_df: DataFrame,
    batch_id: int,
    value_expr: str,
    w: int | None = None,
    run_id: str = "",
) -> bool:
    """Apply one micro-batch to the persisted sketch, exactly once
    (:func:`~dwh_etl_framework_spark.streaming.guard.guarded_fold`).
    Returns False for an empty batch or a skipped re-execution."""
    return guarded_fold(
        state, batch_df, batch_id, run_id,
        lambda counters: update_cms(counters, batch_df, value_expr, w),
    )


def current_cms(state: StreamMasterState) -> DataFrame | None:
    """The live (r, col, cnt) counter table without guard/width columns."""
    sk = current_histogram(state)
    return None if sk is None else sk.drop("__cms_w")


def cms_state_width(state: StreamMasterState) -> int | None:
    """The width the persisted sketch was built at (``None`` for state
    written before widths were persisted, or before the first batch)."""
    stored = state.read()
    if stored is None or "__cms_w" not in stored.columns:
        return None
    return int(stored.select(F.any_value("__cms_w").alias("w")).first()["w"])


def stream_cms(
    stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    value_expr: str,
    w: int | None = None,
):
    """Maintain the count-min sketch continuously; point estimates
    (operators/sketch.cms_estimate) and join-size inner products (x103)
    read the state table at any time without touching raw history."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, i, run: fold_cms_batch(state, b, i, value_expr, w, run),
        run_scoped=True,
    )
