"""Streaming twin of the entity-resolution golden record (x101).

The batch x101 (queries/wave16.py) resolves fuzzy natural keys into
entities and elects a golden row per entity. This module maintains the
same resolution CONTINUOUSLY over an append-only row stream, with state
that stays VOCABULARY-sized no matter how many rows arrive — the
100 TB property the batch plan's tiers already have:

- **value stats** — one row per distinct value: row count (SUM-merged,
  guarded: ``streaming/guard.py``, "Guarded publish"),
  stable node id ``vid`` = MIN key over every row carrying the value
  (MIN is idempotent and order-free, so the streamed vid converges to
  the batch pipeline's global min regardless of arrival order), and
  the value's best survivorship struct (MAX-merged — idempotent).
- **edges** — qualifying value pairs (levenshtein ≤ k), set-union
  merged. Each micro-batch discovers exactly the pairs that involve a
  NEW value via ``edit_distance_pairs_cross`` (probe = values first
  seen this batch, index = every value seen so far): under append-only
  ingest every unordered value pair has a unique "later value" batch,
  so the union over batches equals the one-shot value self-join — the
  ``cascade_audit`` losslessness argument, applied to edit distance.

The entity report (cluster, member count, golden key) is computed at
READ time: connected components + one aggregate over the
vocabulary-sized state. The stream never runs CC; ingest cost per batch
is probe-vs-index, never corpus-rescan.

Crash discipline: edges publish BEFORE the guarded stats write. A crash
between the two re-runs the batch — the edge set-union is a fixed point
and the stats guard still sees the old batch id, so the re-run applies
exactly once. Both states are crash-atomic via ``StreamMasterState``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.editjoin import edit_distance_pairs_cross
from dwh_etl_framework_spark.operators.graph import dedup_clusters
from dwh_etl_framework_spark.streaming.guard import (
    guarded_fold,
    read_state,
    start_fold,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState


def batch_value_stats(
    batch: DataFrame, val_col: str, key_col: str, price_col: str
) -> DataFrame:
    """One batch's per-value contribution: (val, n_rows, vid, best)
    where ``best`` = struct(max price, negated min-key tiebreak) — the
    x101 survivorship struct, MAX-mergeable across batches."""
    return (
        batch.filter(F.col(val_col).isNotNull())
        .groupBy(F.col(val_col).alias("val"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(key_col).alias("vid"),
            F.max(
                F.struct(
                    F.col(price_col).alias("p"),
                    (-F.col(key_col)).alias("nk"),
                )
            ).alias("best"),
        )
    )


def update_value_stats(
    state: DataFrame | None, contrib: DataFrame
) -> DataFrame:
    """Merge a batch contribution into the per-value stats (pure
    function): SUM row counts, MIN vids, MAX survivorship structs."""
    if state is None:
        return contrib
    return (
        state.unionByName(contrib)
        .groupBy("val")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("vid").alias("vid"),
            F.max("best").alias("best"),
        )
    )


def fold_entity_batch(
    stats_state: StreamMasterState,
    edges_state: StreamMasterState,
    batch_df: DataFrame,
    batch_id: int,
    val_col: str,
    key_col: str,
    price_col: str,
    k: int = 1,
    run_id: str = "",
) -> bool:
    """Apply one micro-batch exactly once
    (:func:`~dwh_etl_framework_spark.streaming.guard.guarded_fold`, guard
    carried by the stats state). Returns False for an empty batch or a
    skipped re-execution. The update publishes the edges first: their
    write is idempotent, so it needs no guard (see the module
    crash-discipline note)."""

    def update(stats: DataFrame | None) -> DataFrame:
        # ---- edges first (idempotent set-union) ----
        batch_vals = (
            batch_df.filter(F.col(val_col).isNotNull())
            .select(F.col(val_col).alias("val"))
            .distinct()
        )
        if stats is None:
            all_vals = new_vals = batch_vals
        else:
            known_vals = stats.select("val")
            all_vals = known_vals.unionByName(batch_vals).distinct()
            new_vals = batch_vals.join(known_vals, "val", "left_anti")
        new_edges = edit_distance_pairs_cross(
            new_vals, all_vals, "val", "val", k=k
        ).select(F.col("id_a").alias("val_a"), F.col("id_b").alias("val_b"))
        old_edges = edges_state.read()
        merged_edges = (
            new_edges if old_edges is None
            else old_edges.unionByName(new_edges)
        ).dropDuplicates(["val_a", "val_b"])
        edges_state.write(merged_edges.coalesce(1))

        # ---- stats second (guarded SUM/MIN/MAX merge) ----
        contrib = batch_value_stats(batch_df, val_col, key_col, price_col)
        return update_value_stats(stats, contrib)

    return guarded_fold(stats_state, batch_df, batch_id, run_id, update)


def stream_entity_resolution(
    stream: DataFrame,
    stats_state: StreamMasterState,
    edges_state: StreamMasterState,
    checkpoint_dir: str,
    val_col: str,
    key_col: str,
    price_col: str,
    k: int = 1,
):
    """Maintain the vocabulary-sized entity-resolution state
    continuously. Returns the StreamingQuery."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, i, run: fold_entity_batch(
            stats_state, edges_state, b, i, val_col, key_col, price_col, k, run
        ),
        run_scoped=True,
    )


def current_entities(
    stats_state: StreamMasterState,
    edges_state: StreamMasterState,
) -> DataFrame | None:
    """The live entity report from the persisted state: one row per
    entity — (entity_cluster, n_members, golden_key) — identical to the
    batch x101 result projected to entity grain over all rows ever
    streamed. Connected components + one aggregate, all over
    vocabulary-sized tables; None before the first batch lands."""
    stats = read_state(stats_state)
    if stats is None:
        return None
    edges = edges_state.read()
    vid_of = stats.select("val", "vid")
    if edges is None:
        labels = stats.select("vid", F.col("vid").alias("entity_cluster"))
    else:
        vedges = (
            edges.join(
                vid_of.select(F.col("val").alias("val_a"), F.col("vid").alias("doc_a")),
                "val_a",
            )
            .join(
                vid_of.select(F.col("val").alias("val_b"), F.col("vid").alias("doc_b")),
                "val_b",
            )
            .select("doc_a", "doc_b")
        )
        labels = dedup_clusters(stats.select("vid"), vedges, "vid").select(
            "vid", F.col("cluster").alias("entity_cluster")
        )
    return (
        stats.join(labels, "vid")
        .groupBy("entity_cluster")
        .agg(
            F.sum("n_rows").cast("long").alias("n_members"),
            F.max("best").alias("__g"),
        )
        .select(
            "entity_cluster",
            "n_members",
            (-F.col("__g.nk")).alias("golden_key"),
        )
    )
