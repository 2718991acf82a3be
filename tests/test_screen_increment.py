"""Contract of ``operators/dedup.screen_increment`` on hand-built frames.

An exact corpus copy is ``dup_exact``, a one-token edit of a corpus doc
is ``dup_near``, a novel doc is ``kept``, a re-delivered doc (same id and
text on both sides) is screened, ``kept`` is exactly "neither", and the
flags do not depend on how the sides are spelled: an id predicate over
one table (x50's form) and a side column over a union (the ingest
stream's form) give the same rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup


def _text(seed: int, n: int = 40) -> str:
    return " ".join(f"w{seed}_{i}" for i in range(n))


CORPUS = [(1, _text(1)), (2, _text(2)), (3, _text(3))]
_near = _text(2).split(" ")
_near[20] = "edited"
BATCH = [(10, _text(1)), (11, " ".join(_near)), (12, _text(9))]
WANT = {  # id -> (dup_exact, dup_near, kept)
    10: (True, True, False),
    11: (False, True, False),
    12: (False, False, True),
}
SCHEMA = "doc_id long, text string"


def _flags(df) -> dict[int, tuple[bool, bool, bool]]:
    rows = df.select("doc_id", "dup_exact", "dup_near", "kept").collect()
    return {r.doc_id: (r.dup_exact, r.dup_near, r.kept) for r in rows}


def _sided(spark, corpus, batch):
    return (
        spark.createDataFrame(corpus, SCHEMA).withColumn("side", F.lit(False))
        .unionByName(
            spark.createDataFrame(batch, SCHEMA).withColumn("side", F.lit(True))
        )
    )


def test_id_split_and_side_column_give_the_same_flags(spark):
    one_table = spark.createDataFrame(CORPUS + BATCH, SCHEMA)
    by_id = dedup.screen_increment(
        one_table, F.col("doc_id") >= 10, "text", "doc_id",
        signatures=dedup.minhash_signatures_portable,
    )
    by_side = dedup.screen_increment(
        _sided(spark, CORPUS, BATCH), F.col("side"), "text", "doc_id",
        signatures=dedup.minhash_signatures_portable,
    )
    assert _flags(by_id) == _flags(by_side) == WANT
    assert set(by_id.columns) == {"doc_id", "text", "dup_exact", "dup_near", "kept"}


def test_redelivered_doc_is_screened_and_kept_means_neither(spark):
    batch = BATCH + [CORPUS[2]]  # doc 3 again, same id and text
    got = _flags(
        dedup.screen_increment(
            _sided(spark, CORPUS, batch), F.col("side"), "text", "doc_id"
        )
    )
    assert got == {**WANT, 3: (True, True, False)}
    assert all(kept == (not (ex or nr)) for ex, nr, kept in got.values())
