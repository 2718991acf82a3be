"""Streaming twin of x101 entity resolution (streaming/entity_folds.py).

Invariants (the repo's streaming twin rule):

1. **Replay ≡ batch**: streaming the part rows in 4 slices yields the
   same entity report (cluster, member count, golden key) as the batch
   x101 projected to entity grain — including fuzzy pairs whose two
   VALUES first appear in different batches (the old×new probe path).
2. **Guarded re-delivery**: the stats SUM is not idempotent — same-run
   re-application of a batch_id is a recorded no-op; the edge set-union
   needs no guard.
3. **Bounded state**: stats rows = distinct values, edges = qualifying
   value pairs — never row-sized.
4. **Pure fold ≡ one-shot**: folding slices through the update
   functions directly matches the batch pipeline.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dwh_etl_framework_spark.queries.wave16 import x101_entity_golden_record
from dwh_etl_framework_spark.streaming.entity_folds import (
    batch_value_stats,
    current_entities,
    fold_entity_batch,
    stream_entity_resolution,
    update_value_stats,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import SF_DIR, await_stream

PART_SCHEMA = "p_partkey long, p_name string, p_retailprice double"


def _parts(spark):
    return spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_name", "p_retailprice"
    )


def _write_part_slices(spark, base_dir: str) -> None:
    parts = _parts(spark)
    for i in range(4):
        path = f"{base_dir}/slice_{i}.parquet"
        parts.filter(F.col("p_partkey") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _batch_entity_grain(spark):
    return {
        (r["entity_cluster"]): (r["n_members"], r["golden_partkey"])
        for r in x101_entity_golden_record(spark, SF_DIR)
        .select("entity_cluster", "n_members", "golden_partkey")
        .distinct()
        .collect()
    }


def _report_dict(df):
    return {
        r["entity_cluster"]: (r["n_members"], r["golden_key"])
        for r in df.collect()
    }


def test_stream_entities_equal_batch_x101(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_part_slices(spark, src)
    stats = StreamMasterState(spark, str(tmp_path / "stats"))
    edges = StreamMasterState(spark, str(tmp_path / "edges"))
    stream = (
        spark.readStream.schema(PART_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = stream_entity_resolution(
        stream, stats, edges, str(tmp_path / "ckpt"),
        "p_name", "p_partkey", "p_retailprice",
    )
    await_stream(q, 180)
    live = current_entities(stats, edges)
    assert _report_dict(live) == _batch_entity_grain(spark)
    # bounded state: stats = distinct values, never rows
    parts = _parts(spark)
    n_vals = parts.select("p_name").distinct().count()
    assert stats.read().count() == n_vals
    assert edges.read().count() < n_vals * n_vals


def test_fold_guard_blocks_same_run_redelivery(spark, tmp_path):
    parts = _parts(spark).limit(80)
    stats = StreamMasterState(spark, str(tmp_path / "stats"))
    edges = StreamMasterState(spark, str(tmp_path / "edges"))
    assert fold_entity_batch(
        stats, edges, parts, 0, "p_name", "p_partkey", "p_retailprice",
        run_id="run-a",
    )
    before = {r["val"]: r["n_rows"] for r in stats.read().collect()}
    assert not fold_entity_batch(
        stats, edges, parts, 0, "p_name", "p_partkey", "p_retailprice",
        run_id="run-a",
    )
    after = {r["val"]: r["n_rows"] for r in stats.read().collect()}
    assert after == before


def test_pure_fold_matches_batch(spark):
    parts = _parts(spark)
    st = None
    for i in range(4):
        st = update_value_stats(
            st,
            batch_value_stats(
                parts.filter(F.col("p_partkey") % 4 == i),
                "p_name", "p_partkey", "p_retailprice",
            ),
        )
    # folded stats must agree with the one-shot per-value aggregate
    direct = batch_value_stats(parts, "p_name", "p_partkey", "p_retailprice")
    fold_d = {
        r["val"]: (r["n_rows"], r["vid"], r["best"]) for r in st.collect()
    }
    one_d = {
        r["val"]: (r["n_rows"], r["vid"], r["best"]) for r in direct.collect()
    }
    assert fold_d == one_d


def test_cross_batch_value_pairs_are_found(spark, tmp_path):
    """A fuzzy value pair whose two values first appear in DIFFERENT
    batches must still produce an edge (the old×new probe path)."""
    from pyspark.sql import Row

    stats = StreamMasterState(spark, str(tmp_path / "stats"))
    edges = StreamMasterState(spark, str(tmp_path / "edges"))
    b1 = spark.createDataFrame(
        [Row(v="aa", k=1, p=10.0), Row(v="zz", k=2, p=5.0)]
    )
    b2 = spark.createDataFrame([Row(v="ab", k=3, p=30.0)])
    fold_entity_batch(stats, edges, b1, 0, "v", "k", "p", run_id="r")
    fold_entity_batch(stats, edges, b2, 1, "v", "k", "p", run_id="r")
    got = {(r["val_a"], r["val_b"]) for r in edges.read().collect()}
    assert got == {("aa", "ab")}
    rep = _report_dict(current_entities(stats, edges))
    # aa+ab merge into entity 1 (min vid), golden = key 3 (price 30);
    # zz stays its own entity
    assert rep == {1: (2, 3), 2: (1, 2)}
