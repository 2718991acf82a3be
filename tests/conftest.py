from __future__ import annotations

import duckdb
import pytest

from dwh_etl_framework_spark.session import SessionFactory
from dwh_etl_framework_spark.sources.registry import (
    FIXTURE_TABLES,
    normalize_ts_flavor,
)

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def await_stream(q, timeout: float) -> None:
    """Wait for an availableNow query; on a timeout stop it and fail the
    test, so no assertion runs against partial state and the query does
    not keep writing into later tests."""
    if not q.awaitTermination(timeout):
        q.stop()
        pytest.fail(f"streaming query {q.id} still running after {timeout} s")


def load_events(spark, sf_dir: str = SF_DIR):
    """Events fixture with ``ts`` normalized to session-TZ TimestampType,

    whatever timestamp flavor the driver's parquet writer used (ns-long or
    naive µs/TIMESTAMP_NTZ). Streaming tests share this instead of each
    hand-rolling a conversion that assumes one flavor."""
    return normalize_ts_flavor(spark.read.parquet(f"{sf_dir}/events.parquet"))


#: Test-session core count (round 16, VERDICT r15 #2): the suite runs
#: fixture-scale (sf0.001) data where 32-way task scheduling is pure
#: overhead — PERF_r15's scaling block showed sub-2 s jobs run FASTER
#: at 8 cores, and a direct A/B of the streaming-heavy files confirmed
#: it (test_stream_scd2.py: 237-268 s at local[32] vs 156 s at
#: local[8], cold JVM both ways). Pinning the TEST session to 8 cores
#: cuts the full-suite wall time so the driver's pytest window sees a
#: completed run; it changes no semantics (shuffle_partitions was
#: already 8). Override with SPARK_GRAFT_TEST_CPUS; SPARK_GRAFT_CPUS
#: (the bench/driver knob) is deliberately NOT consulted here so a
#: driver exporting 32 for the bench doesn't slow the tests back down.
TEST_CPUS = int(
    os.environ.get("SPARK_GRAFT_TEST_CPUS")
    or min(8, os.cpu_count() or 8)
)


@pytest.fixture(scope="session")
def spark():
    spark = SessionFactory(
        app_name="dwh-etl-framework-spark-tests",
        master=f"local[{TEST_CPUS}]",
        shuffle_partitions=8,
    ).build()
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
