"""Streaming deduplicating ingest (R33×X1): foreachBatch replay of the

x50 incremental screen. Invariants:

1. **Replay ≡ sequential fold**: streaming the document slices as 4
   micro-batches (file order pinned via mtimes + maxFilesPerTrigger=1)
   yields exactly the corpus produced by folding ``screen_batch`` over
   the same slices in the same order — the twin rule every streaming
   operator in this repo follows.
2. **Planted duplicates are screened**: an exact copy and a near-copy
   (one token changed) planted in later slices are dropped; a genuinely
   novel document is kept.
3. **Idempotent re-ingest**: replaying the same files against the
   existing corpus (fresh checkpoint, so every batch re-delivers) adds
   zero rows — the digest tier makes at-least-once delivery safe.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dwh_etl_framework_spark.streaming.ingest_dedup import (
    DedupIngestConfig,
    screen_batch,
    stream_ingest_dedup,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import SF_DIR, await_stream


def _slices(spark):
    """Four ordered document slices with planted duplicates in later
    slices: slice 1 re-ships slice-0 text under a new id (exact dup),
    slice 2 ships a one-token-changed copy (near dup), slice 3 a novel
    doc. Base docs are fixture rows, so the screen runs on real text."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    base = [(r.doc_id, r.text) for r in rows]
    s0, s1, s2, s3 = base[:10], base[10:20], base[20:30], base[30:40]
    exact_copy = (1000, base[0][1])
    toks = base[1][1].split(" ")
    toks[len(toks) // 2] = "mutated_token_xyz"
    near_copy = (1001, " ".join(toks))
    novel = (1002, "entirely novel zebra quasar melon " * 8)
    return [s0, s1 + [exact_copy], s2 + [near_copy], s3 + [novel]]


def _write_slices(spark, slices, base_dir):
    for i, rows in enumerate(slices):
        path = f"{base_dir}/slice_{i}.parquet"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        # FileStreamSource orders by modification time: pin it explicitly
        # so micro-batch order == slice order on any filesystem
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_stream_ingest_equals_sequential_fold(spark, tmp_path):
    cfg = DedupIngestConfig()
    slices = _slices(spark)
    src = str(tmp_path / "src")
    _write_slices(spark, slices, src)

    # sequential batch fold — the semantic ground truth
    corpus = None
    for rows in slices:
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        survivors = screen_batch(corpus, batch, cfg).localCheckpoint()
        corpus = survivors if corpus is None else corpus.unionByName(survivors)
    expected = _ids(corpus)

    # streaming replay, one file per micro-batch, in mtime order
    state = StreamMasterState(spark, str(tmp_path / "corpus"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = stream_ingest_dedup(
        stream, state, str(tmp_path / "ckpt"), cfg
    )
    await_stream(q, 120)
    got = _ids(state.read())

    assert got == expected
    assert 1000 not in got          # exact copy screened
    assert 1001 not in got          # near copy screened by cross-LSH
    assert 1002 in got              # novel doc kept
    # corpus carries no exact duplicates
    n_texts = state.read().select("text").distinct().count()
    assert n_texts == len(got)

    # idempotent re-ingest: a fresh checkpoint re-delivers every file as
    # if the feed replayed; the digest tier must add zero rows
    # (at-least-once safety) — continues the SAME corpus state
    q2 = stream_ingest_dedup(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src),
        state,
        str(tmp_path / "ckpt2"),
        cfg,
    )
    await_stream(q2, 120)
    assert _ids(state.read()) == got
