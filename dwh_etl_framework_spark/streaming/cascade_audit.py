"""Streaming twin of the composed cascade recall audit (x97).

The batch x97 (queries/wave14.py) runs the lossless prefix-filter join
to find every TRUE near-dup pair, then flags each with whether the LSH
banding tier recalled it. This module maintains the same audit
CONTINUOUSLY over an append-only document stream: each micro-batch
discovers exactly the new true pairs that involve a batch document
(old×new via the persisted index, new×new via the batch self-join),
flags them against the same banding construction, and appends them to
the audit state. Under the append-only corpus model every unordered
pair has a unique "later doc" batch, so the union over batches equals
the one-shot audit — the twin test pins replay ≡ batch x97.

Two design points that differ from the batch plan, deliberately:

1. **Prefixes are digest-ASC, not df-ASC.** The prefix filter is
   lossless under ANY global total order (operators/setjoin.py); the
   batch plan orders by document frequency because low-df prefixes
   minimize candidate fanout, but df DRIFTS as the corpus grows — a
   df-ordered incremental index would need prefix recomputation of the
   whole corpus whenever frequencies shift (both sides of the pigeonhole
   argument must use ONE order). The md5-digest order never changes, so
   each document's prefix is computed once, forever — and it is simply a
   ``slice`` of the already-sorted digest set, no window at all. The
   price is df-blind candidate fanout; the audit's oracle-checked output
   is identical either way (the x94 losslessness proof is order-free).
2. **Every state merge is a set-union** (sets/signatures keyed by doc,
   audit rows keyed by pair), so re-delivered batches are a fixed point
   — no batch-id guard, the ``update_quota`` precedent. This also makes
   PARTIAL state application safe: the three states are published
   independently (each crash-atomic via StreamMasterState), and a crash
   between writes just means the re-run re-derives the same rows.

At 100 TB the sets/signature states are the persistent dedup index the
x50 ingest tier already maintains (band table partitioned by band hash,
probed per increment); the audit increment's cost is
batch-vs-index-probe, never corpus-rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.dedup import (
    lsh_candidate_pairs,
    lsh_candidate_pairs_cross,
    minhash_signatures_portable,
    shingle_table,
)
from dwh_etl_framework_spark.streaming.guard import start_fold
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

AUDIT_COLS = (
    "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard", "lsh_recalled"
)


def digest_sets(batch: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, __set sorted array<binary>, __n) — the setjoin verify-side
    representation (16-byte md5 digests, the repo-wide digest rule)."""
    sh = shingle_table(batch, text_col, id_col, n).select(
        F.col(id_col), F.unhex(F.md5(F.col("shingle"))).alias("__g")
    )
    return sh.groupBy(id_col).agg(
        F.sort_array(F.collect_set("__g")).alias("__set"),
        F.count(F.lit(1)).alias("__n"),
    )


def _prefix_explode(sets_df: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """(id, digest) prefix rows under the digest-ASC order: the first
    L(d) = n - ceil(t·n) + 1 elements of the (already sorted) digest
    array — a slice, no window, stable as the corpus grows."""
    lcol = (
        F.col("__n")
        - F.ceil(F.lit(float(threshold)) * F.col("__n")).cast("int")
        + F.lit(1)
    )
    return sets_df.select(
        F.col(id_col),
        F.explode(F.slice(F.col("__set"), F.lit(1), lcol)).alias("__g"),
    )


def _verify(cand: DataFrame, sets_df: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The setjoin verify stage over candidate (doc_a, doc_b) pairs."""
    sa = sets_df.select(
        F.col(id_col).alias("doc_a"),
        F.col("__set").alias("__sa"),
        F.col("__n").alias("n_a"),
    )
    sb = sets_df.select(
        F.col(id_col).alias("doc_b"),
        F.col("__set").alias("__sb"),
        F.col("__n").alias("n_b"),
    )
    len_ok = F.least("n_a", "n_b").cast("double") >= (
        F.greatest("n_a", "n_b").cast("double") * float(threshold) - 1e-9
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(len_ok)
        .withColumn(
            "n_common",
            F.size(F.array_intersect("__sa", "__sb")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def update_cascade_audit(
    sets_state: DataFrame | None,
    sigs_state: DataFrame | None,
    audit_state: DataFrame | None,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold one batch; returns (new_sets, new_sigs, new_audit).

    Pure function over DataFrames (twin rule). New audit rows are the
    true pairs whose LATER document is in this batch: old×new pairs via
    the persisted index, new×new via the batch self-join; both deduped
    against the audit state, so re-delivery (including after a partial
    multi-state crash) is a fixed point.
    """
    b_sets = digest_sets(batch, text_col, id_col, n).localCheckpoint(eager=True)
    b_sigs = minhash_signatures_portable(
        batch, text_col, id_col, n=n, k=k
    ).localCheckpoint(eager=True)

    all_sets = b_sets if sets_state is None else (
        sets_state.unionByName(b_sets).dropDuplicates([id_col])
    )
    all_sets = all_sets.localCheckpoint(eager=True)
    all_sigs = b_sigs if sigs_state is None else (
        sigs_state.unionByName(b_sigs).dropDuplicates([id_col])
    )

    # exact tier: batch prefixes vs (corpus ∪ batch) prefixes. Pair
    # normalization (a < b) + distinct folds the new×new mirror and the
    # re-delivery overlap (batch docs already merged into the index)
    # into one row per unordered pair.
    bp = _prefix_explode(b_sets, id_col, threshold)
    ap = _prefix_explode(all_sets, id_col, threshold)
    cand = (
        bp.select(F.col(id_col).alias("__x"), "__g")
        .join(ap.select(F.col(id_col).alias("__y"), "__g"), "__g")
        .filter(F.col("__x") != F.col("__y"))
        .select(
            F.least("__x", "__y").alias("doc_a"),
            F.greatest("__x", "__y").alias("doc_b"),
        )
        .distinct()
    )
    exact = _verify(cand, all_sets, id_col, threshold)

    # LSH tier: the same banding construction the batch audit flags
    # against, evaluated over the pairs reachable from this batch.
    # Uncapped (max_bucket_size=None): the audit's contract — a cap
    # activating would silently change which pairs count as recalled.
    self_rec = lsh_candidate_pairs(
        b_sigs, id_col, bands=bands, rows_per_band=rows_per_band,
        est_threshold=threshold, max_bucket_size=None,
    ).select("doc_a", "doc_b")
    if sigs_state is not None:
        cross = lsh_candidate_pairs_cross(
            sigs_state, b_sigs, id_col, bands=bands,
            rows_per_band=rows_per_band, est_threshold=threshold,
            max_bucket_size=None,
        ).select(
            F.least("doc_corpus", "doc_batch").alias("doc_a"),
            F.greatest("doc_corpus", "doc_batch").alias("doc_b"),
        )
        recalled = self_rec.unionByName(cross).distinct()
    else:
        recalled = self_rec
    recalled = recalled.withColumn("__hit", F.lit(True))

    new_rows = exact.join(recalled, ["doc_a", "doc_b"], "left").select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("lsh_recalled"),
    )
    new_audit = new_rows if audit_state is None else (
        audit_state.unionByName(new_rows).dropDuplicates(["doc_a", "doc_b"])
    )
    return all_sets, all_sigs, new_audit


def fold_audit_batch(
    sets_state: StreamMasterState, sigs_state: StreamMasterState,
    audit_state: StreamMasterState, batch_df: DataFrame, text_col: str,
    id_col: str, n: int = 3, threshold: float = 0.5, k: int = 64,
    bands: int = 16, rows_per_band: int = 4,
) -> None:
    """Fold one non-empty micro-batch and publish the three states."""
    new_sets, new_sigs, new_audit = update_cascade_audit(
        sets_state.read(), sigs_state.read(), audit_state.read(),
        batch_df, text_col, id_col, n=n, threshold=threshold,
        k=k, bands=bands, rows_per_band=rows_per_band,
    )
    # audit LAST: its rows are derivable from (sets, sigs) + batch, so the
    # weakest crash window (indexes advanced, audit not) is healed by the
    # re-run's dedup; the reverse order could publish audit rows whose
    # index entries a crash then loses.
    sets_state.write(new_sets)
    sigs_state.write(new_sigs)
    audit_state.write(new_audit)


def stream_cascade_audit(
    stream: DataFrame,
    sets_state: StreamMasterState,
    sigs_state: StreamMasterState,
    audit_state: StreamMasterState,
    checkpoint_dir: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
):
    """Maintain the recall audit continuously; ``audit_state`` holds
    exactly the batch x97 rows over all documents ever streamed. The
    three states publish independently (each crash-atomic); every merge
    is a set-union, so any crash window re-heals on re-delivery."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, _: fold_audit_batch(
            sets_state, sigs_state, audit_state, b, text_col, id_col,
            n, threshold, k, bands, rows_per_band,
        ),
    )
