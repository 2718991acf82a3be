"""Streaming twin of the composed cascade recall audit (x97).

Invariants (the repo's streaming twin rule):

1. **Replay ≡ batch**: streaming the documents in 4 slices yields
   EXACTLY the one-shot audit — same pair set, same jaccard/n values,
   same ``lsh_recalled`` flags — even though the streaming exact tier
   uses digest-ASC prefixes where the batch tier uses df-ASC (both are
   lossless; the output is order-free).
2. **Idempotent re-delivery**: every state merge is a set-union, so
   re-streaming all slices through a FRESH checkpoint leaves all three
   states unchanged (the quota-reservoir property — no guard).
3. **Crash-window heal**: the weakest window (index states published,
   audit not) re-heals on re-fold — the re-run re-derives the same
   audit rows and the dedup folds them in.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup, setjoin
from dwh_etl_framework_spark.streaming.cascade_audit import (
    stream_cascade_audit,
    update_cascade_audit,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import SF_DIR, await_stream

DOC_SCHEMA = "doc_id long, text string"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _expected_audit(spark):
    """The batch x97 pipeline over the same docs (wave14's operators)."""
    docs = _docs(spark)
    exact = setjoin.prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    sigs = dedup.minhash_signatures_portable(docs, "text", "doc_id", n=3, k=64)
    recalled = dedup.lsh_candidate_pairs(
        sigs, "doc_id", bands=16, rows_per_band=4, est_threshold=0.5,
        max_bucket_size=None,
    ).select("doc_a", "doc_b", F.lit(True).alias("__hit"))
    return exact.join(recalled, ["doc_a", "doc_b"], "left").select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("lsh_recalled"),
    )


def _audit_dict(df):
    return {
        (r["doc_a"], r["doc_b"]): (
            r["n_common"], r["n_a"], r["n_b"],
            round(r["jaccard"], 12), r["lsh_recalled"],
        )
        for r in df.collect()
    }


def _write_doc_slices(spark, base_dir: str) -> None:
    docs = _docs(spark)
    for i in range(4):
        path = f"{base_dir}/slice_{i}.parquet"
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _doc_stream(spark, src: str):
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )


def _run(spark, src, base, ckpt):
    states = [
        StreamMasterState(spark, f"{base}/{nm}")
        for nm in ("sets", "sigs", "audit")
    ]
    q = stream_cascade_audit(
        _doc_stream(spark, src), *states, checkpoint_dir=ckpt,
        text_col="text", id_col="doc_id",
    )
    await_stream(q, 300)
    return states


def test_replay_equals_batch_and_redelivery_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_doc_slices(spark, src)
    want = _audit_dict(_expected_audit(spark))
    assert want  # the fixture genuinely has near-dup pairs

    base = str(tmp_path / "state")
    states = _run(spark, src, base, str(tmp_path / "ckpt1"))
    got = _audit_dict(states[2].read())
    assert got == want

    # index states cover exactly the shingled docs
    n_docs_with_shingles = (
        _docs(spark)
        .filter(F.size(F.split("text", " ")) >= 3)
        .count()
    )
    assert states[0].read().count() == n_docs_with_shingles
    assert states[1].read().count() == n_docs_with_shingles

    # re-deliver EVERYTHING through a fresh checkpoint: set-union states
    # must be a fixed point
    _run(spark, src, base, str(tmp_path / "ckpt2"))
    assert _audit_dict(states[2].read()) == want
    assert states[0].read().count() == n_docs_with_shingles


def test_crash_window_heals(spark, tmp_path):
    docs = _docs(spark).filter(F.col("doc_id") < 60)
    b1 = docs.filter(F.col("doc_id") < 30)
    b2 = docs.filter(F.col("doc_id") >= 30)
    base = str(tmp_path / "st")
    sets_s = StreamMasterState(spark, f"{base}/sets")
    sigs_s = StreamMasterState(spark, f"{base}/sigs")
    audit_s = StreamMasterState(spark, f"{base}/audit")

    s1, g1, a1 = update_cascade_audit(None, None, None, b1, "text", "doc_id")
    sets_s.write(s1); sigs_s.write(g1); audit_s.write(a1)

    # crash window: fold b2, publish the INDEX states, lose the audit
    s2, g2, a2 = update_cascade_audit(
        sets_s.read(), sigs_s.read(), audit_s.read(), b2, "text", "doc_id"
    )
    want = _audit_dict(a2)
    # count BEFORE the writes: g2's lineage reads the sigs _v1 parquet,
    # which write() sweeps once _v2 is published (the module's own fold
    # is safe — every consumer of a superseded version is checkpointed
    # upstream — but a test-held handle is not)
    n_sets2, n_sigs2 = s2.count(), g2.count()
    sets_s.write(s2); sigs_s.write(g2)  # audit write "crashes"

    # re-delivery of b2 against the advanced indexes must re-derive the
    # same audit rows (pair normalization + dedup absorb the overlap)
    s3, g3, a3 = update_cascade_audit(
        sets_s.read(), sigs_s.read(), audit_s.read(), b2, "text", "doc_id"
    )
    assert _audit_dict(a3) == want
    assert s3.count() == n_sets2
    assert g3.count() == n_sigs2
