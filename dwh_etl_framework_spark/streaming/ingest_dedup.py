"""X1 as a continuous stream: deduplicating corpus ingest (foreachBatch).

The batch shape is x50_incremental_dedup (``queries/dedup_ops.py:298``):
each increment is screened against the existing corpus — exact tier by
text digest, near tier by MinHash-LSH restricted to corpus×batch
candidates (``operators/dedup.lsh_candidate_pairs_cross``) — and only
survivors are appended. This module runs that same screen inside
``foreachBatch``, so a document stream (a crawl feed) lands continuously
into an always-deduplicated corpus; the reference has no streaming tier
at all (its delta mode is declared and unimplemented,
``airflow_etl.py:452-463``), so this is the R33×X1 composition a training
-data pipeline actually needs.

Scope, per x50's contract: batch-INTERNAL exact duplicates collapse to
the min-id survivor inside the batch; batch-internal NEAR duplicates are
out of scope here (they are a separate, much smaller self-join job —
``lsh_jaccard_cascade`` over the post-ingest corpus periodically), and
corpus×corpus pairs never re-form because the corpus only ever grows by
screened survivors.

Scale shape: per micro-batch cost is index-probe, not corpus-rescan — the
exact tier probes a digest column, the near tier probes the corpus band
table (at production scale the band table is a persistent table
partitioned by (band_idx, band_hash); here it is derived per batch from
the parquet corpus, which the tests keep fixture-sized). Both band sides
stay bucket-capped through ``lsh_candidate_pairs_cross``.

Corpus durability follows ``streaming/merge.StreamMasterState``: state is
the parquet path on disk, so a restarted stream resumes from the stored
corpus (at-least-once per micro-batch; the exact tier makes re-delivered
batches idempotent — a replayed document is its own digest-duplicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup
from dwh_etl_framework_spark.streaming.guard import start_fold
from dwh_etl_framework_spark.streaming.merge import StreamMasterState


class DedupIngestConfig:
    """Knobs for the ingest screen — defaults mirror x50/x03 exactly."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        k: int = 64,
        bands: int = 16,
        rows_per_band: int = 4,
        est_threshold: float = 0.5,
    ):
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.k = k
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.est_threshold = est_threshold


def screen_batch(
    corpus: DataFrame | None, batch: DataFrame, cfg: DedupIngestConfig
) -> DataFrame:
    """Return the batch rows that survive the x50 screen vs ``corpus``.

    Pure function over DataFrames (no I/O) so the batch path and the
    foreachBatch path share one implementation — the twin-testing rule
    every streaming operator in this repo follows."""
    id_c, txt = cfg.id_col, cfg.text_col
    # batch-internal exact tier: min-id survivor per identical text
    w_min = F.min(F.col(id_c)).over(Window.partitionBy(F.md5(F.col(txt))))
    batch = (
        batch.withColumn("__keep_id", w_min)
        .filter(F.col(id_c) == F.col("__keep_id"))
        .drop("__keep_id")
    )
    if corpus is None:
        return batch
    # exact tier vs corpus: digest anti-probe (text never shuffles)
    corpus_digests = corpus.select(F.md5(F.col(txt)).alias("__digest"))
    batch = batch.withColumn("__digest", F.md5(F.col(txt))).join(
        corpus_digests, "__digest", "left_anti"
    ).drop("__digest")
    # near tier: corpus×batch LSH candidates only
    corpus_sigs = dedup.minhash_signatures(
        corpus, txt, id_c, n=cfg.n, k=cfg.k
    )
    batch_sigs = dedup.minhash_signatures(batch, txt, id_c, n=cfg.n, k=cfg.k)
    near = dedup.lsh_candidate_pairs_cross(
        corpus_sigs,
        batch_sigs,
        id_c,
        bands=cfg.bands,
        rows_per_band=cfg.rows_per_band,
        est_threshold=cfg.est_threshold,
    ).select(F.col("doc_batch").alias(id_c)).distinct()
    return batch.join(near, id_c, "left_anti")


def fold_ingest_batch(
    state: StreamMasterState, batch_df: DataFrame, cfg: DedupIngestConfig
) -> None:
    """Append one non-empty micro-batch's screened survivors to the
    corpus."""
    corpus = state.read()
    survivors = screen_batch(corpus, batch_df, cfg)
    state.write(
        corpus.unionByName(survivors) if corpus is not None else survivors
    )


def stream_ingest_dedup(
    doc_stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    cfg: DedupIngestConfig | None = None,
):
    """Start a foreachBatch query appending screened survivors to the

    corpus (:func:`fold_ingest_batch`). Returns the StreamingQuery;
    caller awaits/stops it."""
    cfg = cfg or DedupIngestConfig()
    return start_fold(
        doc_stream, checkpoint_dir, lambda b, _: fold_ingest_batch(state, b, cfg)
    )
