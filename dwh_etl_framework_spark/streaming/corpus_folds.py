"""Streaming twins of the wave-13 corpus operators (VERDICT r8 #5).

**Quota sample** (x95): the bottom-k-by-hash reservoir is MERGEABLE —
bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ B) — so the persisted state is
just the current ≤ n survivors per stratum, and each micro-batch folds
in with one bounded-input rank. Because the merge is over the row SET
(dedup on (stratum, id) first), re-delivered batches are idempotent for
FREE, exactly like the MAX-merged HLL registers in
``streaming/distinct.py``: re-adding rows the state already holds is a
fixed point. No batch-id guard needed.

**Weighted sample** (x98): the same mergeable-bottom-k argument with
min-of-w-hashes keys — the state is the current global bottom-n with
their weights and keys, each micro-batch first runs the batch operator
on itself (≤ n survivors) and the fold ranks ≤ 2n rows. Set-merge ⇒
re-delivery idempotent for free, like the quota fold.

**Boilerplate document frequencies** (x96): per-(source, shingle) df
counters merge by SUM, which is NOT idempotent — the fold is guarded
(``streaming/guard.py``, "Guarded publish"). Correctness assumes the
append-only corpus model x96 itself assumes: a doc_id arrives in
exactly one batch (documents are immutable corpus rows, not updates).
The report (top-5 per source, df ratio, template flag) is computed
from the vocabulary-sized state at READ time — the stream never runs
the ranking window.

State durability for both: ``StreamMasterState`` (pointer-file commit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_etl_framework_spark.operators.dedup import shingle_table
from dwh_etl_framework_spark.operators.sampling import weighted_sample
from dwh_etl_framework_spark.streaming.guard import (
    guarded_fold,
    read_state,
    start_fold,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState


# ---- streaming exact-quota sample (x95 fold) ---------------------------


def update_quota(
    state: DataFrame | None,
    batch: DataFrame,
    strata_cols: list[str],
    id_col: str,
    n_per_stratum: int,
    salt: str = "quota:",
) -> DataFrame:
    """Fold one batch into the per-stratum bottom-n reservoir.

    Pure function over DataFrames (twin rule). The union is ≤ n rows per
    stratum from the state plus the batch; the rank runs over that
    bounded set, never a whole stratum — the streaming analogue of the
    x95 tournament's round 2. ``dropDuplicates`` on (stratum, id) makes
    re-delivery a fixed point: a row the state already holds cannot
    occupy a second quota slot.
    """
    cand = batch.select(*strata_cols, id_col)
    if state is not None:
        cand = state.select(*strata_cols, id_col).unionByName(cand)
    cand = cand.dropDuplicates([*strata_cols, id_col])
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy("__h")
    return (
        cand.withColumn("__h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_per_stratum)
        .drop("__h")
    )


def fold_quota_batch(
    state: StreamMasterState, batch_df: DataFrame, strata_cols: list[str],
    id_col: str, n_per_stratum: int, salt: str = "quota:",
) -> None:
    """Fold one non-empty micro-batch into the persisted reservoir."""
    merged = update_quota(
        state.read(), batch_df, strata_cols, id_col, n_per_stratum, salt
    )
    state.write(merged.coalesce(1))  # ≤ n rows per stratum


def stream_quota_sample(
    stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    strata_cols: list[str],
    id_col: str,
    n_per_stratum: int,
    salt: str = "quota:",
):
    """Maintain the exact-quota sample continuously; the state table IS
    the sample (with ``rk``), identical to the batch x95 result over all
    rows ever streamed. Returns the StreamingQuery."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, _: fold_quota_batch(
            state, b, strata_cols, id_col, n_per_stratum, salt
        ),
    )


# ---- streaming weighted sample (x98 fold) -------------------------------


def update_weighted(
    state: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "wsample:",
) -> DataFrame:
    """Fold one batch into the global bottom-n weighted reservoir.

    Pure function over DataFrames (twin rule). The batch side runs the
    x98 operator itself (``weighted_sample`` — map-side min-of-w-hashes
    keys, tournament rank), so the fold's candidate set is ≤ n state
    rows plus ≤ n batch survivors; the final rank is over that ≤ 2n-row
    set — the single-partition window is bounded by construction, the
    same class as ``update_quota``'s per-stratum rank. Mergeable by the
    bottom-k sketch property (bottom-n(A∪B) = bottom-n(bottom-n(A) ∪
    bottom-n(B))); ``dropDuplicates`` on id makes re-delivery a fixed
    point under the append-only corpus model (a doc's (weight, wkey)
    never changes, so a re-delivered row collapses into the copy the
    state already holds).
    """
    cand = weighted_sample(batch, id_col, weight_col, n, salt).select(
        id_col, weight_col, "wkey"
    )
    if state is not None:
        cand = state.select(id_col, weight_col, "wkey").unionByName(cand)
    cand = cand.dropDuplicates([id_col])
    w = Window.orderBy("wkey")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
    )


def fold_weighted_batch(
    state: StreamMasterState, batch_df: DataFrame, id_col: str,
    weight_col: str, n: int, salt: str = "wsample:",
) -> None:
    """Fold one non-empty micro-batch into the persisted reservoir."""
    merged = update_weighted(state.read(), batch_df, id_col, weight_col, n, salt)
    state.write(merged.coalesce(1))  # ≤ n rows


def stream_weighted_sample(
    stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "wsample:",
):
    """Maintain the weighted bottom-n sample continuously; the state
    table IS the sample (with ``wkey`` and ``rk``), identical to the
    batch x98 result over all rows ever streamed. Returns the
    StreamingQuery."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, _: fold_weighted_batch(state, b, id_col, weight_col, n, salt),
    )


# ---- streaming boilerplate document frequencies (x96 fold) -------------


def batch_dfreq(
    batch: DataFrame, text_col: str, id_col: str, source_col: str, n: int = 3
) -> DataFrame:
    """One batch's (source, shingle, df) + (source, n_docs) contribution,
    as a single unioned counter table (``shingle`` NULL on the doc-count
    rows). Shared by the batch path and the stream fold (twin rule)."""
    sh = shingle_table(
        batch.select(id_col, source_col, text_col), text_col, id_col, n
    )
    src = batch.select(id_col, source_col)
    dfreq = (
        sh.join(src, id_col)
        .groupBy(source_col, "shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ndocs = (
        batch.groupBy(source_col)
        .agg(F.countDistinct(id_col).cast("long").alias("cnt"))
        .withColumn("shingle", F.lit(None).cast("string"))
        .select(source_col, "shingle", "cnt")
    )
    return dfreq.unionByName(ndocs)


def update_dfreq(
    state_counts: DataFrame | None,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    n: int = 3,
) -> DataFrame:
    """Fold one batch's counters into the state by SUM (pure function).

    Sound under the append-only corpus model (each doc_id in exactly one
    batch): a shingle's df is then the sum of per-batch dfs, and
    n_docs likewise. NOT idempotent — callers must use the batch-id
    guard (``fold_dfreq_batch``)."""
    contrib = batch_dfreq(batch, text_col, id_col, source_col, n)
    if state_counts is None:
        return contrib
    return (
        state_counts.unionByName(contrib)
        .groupBy(source_col, "shingle")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def fold_dfreq_batch(
    state: StreamMasterState,
    batch_df: DataFrame,
    batch_id: int,
    text_col: str,
    id_col: str,
    source_col: str,
    n: int = 3,
    run_id: str = "",
) -> bool:
    """Apply one micro-batch exactly once
    (:func:`~dwh_etl_framework_spark.streaming.guard.guarded_fold`).
    Returns False for an empty batch or a skipped re-execution."""
    return guarded_fold(
        state, batch_df, batch_id, run_id,
        lambda counts: update_dfreq(
            counts, batch_df, text_col, id_col, source_col, n
        ),
    )


def stream_dfreq(
    stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    text_col: str,
    id_col: str,
    source_col: str,
    n: int = 3,
):
    """Maintain the (source, shingle) df counter table continuously."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, i, run: fold_dfreq_batch(
            state, b, i, text_col, id_col, source_col, n, run
        ),
        run_scoped=True,
    )


def current_boilerplate(
    state: StreamMasterState,
    source_col: str = "source",
    top_k: int = 5,
    flag_ratio: float = 0.1,
) -> DataFrame | None:
    """The live x96 report from the persisted counters: top-``top_k``
    most document-frequent shingles per source with df ratio and the
    template flag. Runs entirely over the vocabulary-sized state (None
    before the first batch lands). Matches x96's output contract."""
    counts = read_state(state)
    if counts is None:
        return None
    nd = counts.filter(F.col("shingle").isNull()).select(
        source_col, F.col("cnt").alias("n_docs")
    )
    dfreq = counts.filter(F.col("shingle").isNotNull()).select(
        source_col, "shingle", F.col("cnt").alias("df")
    )
    w = Window.partitionBy(source_col).orderBy(F.desc("df"), F.asc("shingle"))
    return (
        dfreq.join(nd, source_col)
        .withColumn("df_ratio", F.col("df").cast("double") / F.col("n_docs"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(
            source_col, "shingle", "df", "n_docs", "df_ratio",
            (F.col("df_ratio") >= flag_ratio).alias("is_boilerplate"), "rk",
        )
    )


# ---- streaming positional phrase index (x102 fold) -----------------------


def update_phrase_postings(
    state: DataFrame | None,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    phrases: list[tuple[int, str]],
) -> DataFrame:
    """Fold one batch's vocabulary-restricted postings into the index
    (pure function). Set-union on (doc_id, i, term) — a position either
    holds the term or it does not, so re-delivered batches are a fixed
    point: no guard needed (the update_quota class). The state is the
    workload's postings slice (Σ df(word) rows, positions + short
    terms); document text never persists."""
    from dwh_etl_framework_spark.queries.wave16 import phrase_postings

    contrib = phrase_postings(batch, text_col, id_col, phrases)
    if state is not None:
        contrib = state.unionByName(contrib)
    return contrib.dropDuplicates(["doc_id", "i", "term"])


def fold_phrase_batch(
    state: StreamMasterState, batch_df: DataFrame, text_col: str,
    id_col: str, phrases: list[tuple[int, str]],
) -> None:
    """Fold one non-empty micro-batch's postings into the persisted index."""
    state.write(
        update_phrase_postings(
            state.read(), batch_df, text_col, id_col, phrases
        ).coalesce(1)
    )


def stream_phrase_index(
    stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    text_col: str,
    id_col: str,
    phrases: list[tuple[int, str]],
):
    """Maintain the positional phrase index continuously; reads run the
    x102 match plan against the state at any time (the index-once/
    query-many retrieval shape, incrementally). Returns the
    StreamingQuery."""
    return start_fold(
        stream, checkpoint_dir,
        lambda b, _: fold_phrase_batch(state, b, text_col, id_col, phrases),
    )


def current_phrase_matches(
    state: StreamMasterState, phrases: list[tuple[int, str]]
) -> DataFrame | None:
    """The live x102 report from the persisted postings (None before
    the first batch lands) — the SAME match plan the batch query runs,
    over the streamed index instead of a corpus scan."""
    from dwh_etl_framework_spark.queries.wave16 import phrase_matches

    stored = state.read()
    return None if stored is None else phrase_matches(stored, phrases)
