"""Regression tests for the round-1 code-review findings (each pinned to

the exact failure scenario the review identified)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import SF_DIR, await_stream


def test_multi_write_journal_merge_prefers_latest_write(spark):
    """Finding 1: with transform_dt=None and multi-partition writes, the

    second write must win the merge for overlapping keys (previously the
    seqno stride aliased with monotonically_increasing_id partition bits
    and the tie was arbitrary)."""
    from dwh_etl_framework_spark.plans.config import TableConfig
    from dwh_etl_framework_spark.plans.pipeline import Pipeline

    pipe = Pipeline(
        spark=spark,
        table=TableConfig(target="t", primary_key=("k",)),
    )
    w1 = spark.createDataFrame([(k, "first") for k in range(50)], "k long, v string") \
        .repartition(8)
    w2 = spark.createDataFrame([(k, "second") for k in range(50)], "k long, v string") \
        .repartition(8)
    pipe.write_journal(w1, transform_dt=None)
    pipe.write_journal(w2, transform_dt=None)
    master = {r.k: r.v for r in pipe.merge("full").collect()}
    assert master == {k: "second" for k in range(50)}


def test_stream_master_state_survives_new_instance(spark, tmp_path):
    """Finding 2: a fresh StreamMasterState over an existing parquet master

    must resume from disk, not report None."""
    from dwh_etl_framework_spark.streaming.merge import StreamMasterState

    path = str(tmp_path / "m")
    s1 = StreamMasterState(spark, path)
    assert s1.read() is None  # nothing on disk yet
    s1.write(spark.createDataFrame([Row(k=1, v=2.0)]))
    s2 = StreamMasterState(spark, path)  # simulates process restart
    got = s2.read()
    assert got is not None and got.count() == 1


def test_extract_delta_single_scan_freeze(spark, tmp_path):
    """Finding 3: the slice content is frozen (materialized) before the

    watermark advances — re-consuming the returned DataFrame cannot see a
    different row set than what set the watermark."""
    from dwh_etl_framework_spark.plans.incremental import (
        WatermarkStore, extract_delta,
    )

    store = WatermarkStore(str(tmp_path / "wm.json"))
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    s = extract_delta(orders, "o_orderdate", store, "o")
    assert s.count() == s.count() == orders.count()  # stable on re-read


def test_range_join_left_with_null_columns(spark):
    """Finding 5: a matched fact carrying a NULL column must appear exactly

    once in a left range join (previously duplicated via the anti-join on
    all columns)."""
    from dwh_etl_framework_spark.operators.rangejoin import range_join

    facts = spark.createDataFrame(
        [Row(id=1, x=5.0, note=None), Row(id=2, x=999.0, note="hi")]
    )
    ivals = spark.createDataFrame([Row(band="a", lo=0.0, hi=10.0)])
    rows = range_join(facts, ivals, "x", "lo", "hi", 10.0, how="left").collect()
    assert len(rows) == 2
    got = {r.id: r.band for r in rows}
    assert got == {1: "a", 2: None}


def test_salted_join_rejects_outer(spark):
    """Finding 6: right/full outer would replicate unmatched right rows."""
    from dwh_etl_framework_spark.operators.skew import salted_join

    df = spark.createDataFrame([Row(k=1)])
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(df, df, on=["k"], how="full")


def test_asof_join_rejects_column_collision(spark):
    """Finding 7: colliding payload names must error, not silently clobber."""
    from dwh_etl_framework_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(k=1, t=1.0, value=10.0)])
    right = spark.createDataFrame([Row(k=1, rt=0.5, value=99.0)])
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on=["k"], left_time="t", right_time="rt")


def test_lsh_estimate_uses_signature_length(spark):
    """Finding 8: k=128 signatures banded 16×4 must estimate in [0,1]

    (previously divided by 64 → up to 2.0)."""
    from dwh_etl_framework_spark.operators import dedup

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g h"), Row(doc_id=2, text="a b c d e f g h")]
    )
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3, k=128)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", bands=16, rows_per_band=4,
                                      est_threshold=0.5).collect()
    assert len(pairs) == 1
    assert pairs[0].est_jaccard == 1.0  # identical docs; would be 2.0 before


def test_fill_parameters_brace_hint():
    """Finding 9: literal braces produce an actionable error + escape works."""
    from dwh_etl_framework_spark.plans.params import fill_sql_parameters

    with pytest.raises(KeyError, match="escaped"):
        fill_sql_parameters("""SELECT '{"a": 1}'""", {})
    out = fill_sql_parameters("""SELECT '{{"a": {v}}}'""", {"v": 1})
    assert out == 'SELECT \'{"a": 1}\''


def test_connected_components_convergence_error(spark):
    """Finding 10: exceeding max_iter must raise, not return split clusters."""
    from dwh_etl_framework_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    ok = connected_components(chain, max_iter=2, strict=False)
    assert ok.count() == 11  # approximate labels still returned when opted in


def test_stream_asof_multi_chunk_groups(spark, tmp_path):
    """Finding 4: groups spanning several Arrow chunks must still process in

    global event-time order (right updates can't apply 'backwards'). Forced
    by shrinking the Arrow batch size below the group size."""
    from dwh_etl_framework_spark.streaming.asof import stream_asof_join
    from dwh_etl_framework_spark.operators.asof import asof_join

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # one key, 60 interleaved rows -> ~9 chunks at batch size 7
        rows = []
        for i in range(30):
            rows.append((1, datetime(2024, 1, 1, 0, 2 * i), 1, float(i), None))      # left
            rows.append((1, datetime(2024, 1, 1, 0, 2 * i + 1), 0, None, float(i)))  # right
        schema = "key bigint, ts timestamp, side int, left_val double, right_val double"
        tagged = spark.createDataFrame(rows, schema)
        src = str(tmp_path / "src")
        tagged.coalesce(1).write.parquet(src)

        got_rows = []

        def cap(bdf, bid):
            got_rows.extend(bdf.collect())

        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream_asof_join(stream).writeStream.outputMode("append")
             .foreachBatch(cap).option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        await_stream(q, 120)

        # invariant: never joined to a right update from the future
        assert got_rows and all(
            r.asof_right_ts is None or r.asof_right_ts <= r.ts for r in got_rows
        )
        # full parity with the batch as-of on the same data
        left = spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 0, 2 * i), float(i)) for i in range(30)],
            "key bigint, ts timestamp, left_val double")
        right = spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 0, 2 * i + 1), float(i)) for i in range(30)],
            "key bigint, rts timestamp, rv double")
        expected = {(r.key, r.ts): r.rv for r in asof_join(
            left, right, on=["key"], left_time="ts", right_time="rts",
            right_payload=["rv"]).collect()}
        got = {(r.key, r.ts): r.asof_right for r in got_rows}
        assert got == expected
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_lsh_banding_guard_raises_on_short_signature(spark):
    """Review-2: bands*rows_per_band > len(signature) must error, not

    degenerate to an all-pairs join via constant empty-slice hashes."""
    from dwh_etl_framework_spark.operators import dedup

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="f g h i j")]
    )
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3, k=64)
    with pytest.raises(Exception, match="signature shorter"):
        dedup.lsh_candidate_pairs(sigs, "doc_id", bands=16, rows_per_band=8).collect()


def test_dedup_clusters_forwards_convergence_params(spark):
    """Review-2: dedup_clusters exposes max_iter/strict so the escape hatch

    in the convergence error is actually reachable."""
    from dwh_etl_framework_spark.operators.graph import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(11)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(ids, chain, "doc_id", max_iter=2)
    ok = dedup_clusters(ids, chain, "doc_id", max_iter=2, strict=False)
    assert ok.count() == 11
    full = dedup_clusters(ids, chain, "doc_id", max_iter=30)
    assert {r.cluster for r in full.collect()} == {0}


def test_stream_master_state_raises_on_corrupt_path(spark, tmp_path):
    """Review-2, updated for the r8 pointer-commit protocol: a PUBLISHED
    state that cannot be read must raise, not be treated as first-run
    (which would silently rebuild from one batch). An empty directory is
    no longer corruption — no crash window can tear published state away
    under the protocol, so empty means 'never published'."""
    import shutil

    from dwh_etl_framework_spark.streaming.merge import StreamMasterState

    path = tmp_path / "master"
    path.mkdir()
    st = StreamMasterState(spark, str(path))
    assert st.read() is None  # pre-created empty dir = first run
    st.write(spark.createDataFrame([(1,)], "k long"))
    # corruption: the pointer names a version directory that is gone
    shutil.rmtree(path / "_v1")
    with pytest.raises(Exception):
        StreamMasterState(spark, str(path)).read()


def test_write_journal_monotonic_under_clock_skew(spark, monkeypatch):
    """Review-2: a backwards clock step between writes must not reorder

    merges (load_dt stamps are forced monotonic)."""
    from datetime import datetime, timedelta

    from dwh_etl_framework_spark.plans.config import TableConfig
    from dwh_etl_framework_spark.plans.pipeline import Pipeline
    import dwh_etl_framework_spark.plans.pipeline as pipeline_mod

    pipe = Pipeline(spark=spark, table=TableConfig(target="t", primary_key=("k",)))
    w1 = spark.createDataFrame([(k, "first") for k in range(10)], "k long, v string")
    w2 = spark.createDataFrame([(k, "second") for k in range(10)], "k long, v string")
    pipe.write_journal(w1, transform_dt=None)
    # simulate the clock stepping BACK 1 hour before the second write
    pipe._last_load_dt = pipe._last_load_dt + timedelta(hours=1)
    pipe.write_journal(w2, transform_dt=None)
    m = {r.k: r.v for r in pipe.merge("full").collect()}
    assert all(v == "second" for v in m.values())
