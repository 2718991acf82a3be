"""X1 as a continuous stream: deduplicating corpus ingest (foreachBatch).

Each micro-batch is screened against the corpus stored so far with
``operators/dedup.screen_increment`` — x50_incremental_dedup's
composition (exact tier by text digest, near tier by MinHash-LSH over
corpus×batch candidates only) with x03's xxhash64 signature flavour —
and only survivors are appended, so a document stream (a crawl feed)
lands continuously into an always-deduplicated corpus. The reference has
no streaming tier at all (its delta mode is declared and unimplemented,
``airflow_etl.py:452-463``).

Scope: batch-INTERNAL exact duplicates collapse to the min-id survivor
inside the batch; batch-internal NEAR duplicates are out of scope here
(a separate, much smaller self-join job — ``lsh_jaccard_cascade`` over
the post-ingest corpus periodically), and corpus×corpus pairs never
re-form because the corpus only ever grows by screened survivors.

Cost: every micro-batch re-reads the whole stored corpus and re-signs it
together with the batch (one text scan, one signature pass). A
persistent corpus band index partitioned by (band_idx, band_hash), which
would make the per-batch cost an index probe, is future work. Both band
sides stay bucket-capped at 5000 (the ``lsh_candidate_pairs_cross``
default).

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
    """Knobs for the ingest screen: shingle size ``n``, signature width
    ``k`` and the LSH geometry. The defaults are x50's (3-grams, k=64,
    16×4 bands, estimated Jaccard ≥ 0.5); signatures are x03's xxhash64
    flavour."""

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
    """Return the batch rows that survive the screen vs ``corpus``.

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
    docs = corpus.select(id_c, txt).withColumn("__side", F.lit(False)).unionByName(
        batch.withColumn("__side", F.lit(True)), allowMissingColumns=True
    )
    screened = dedup.screen_increment(
        docs, F.col("__side"), txt, id_c, n=cfg.n, k=cfg.k, bands=cfg.bands,
        rows_per_band=cfg.rows_per_band, est_threshold=cfg.est_threshold,
    )
    return screened.filter("kept").select(*batch.columns)


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
