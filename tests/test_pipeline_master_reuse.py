"""Master reuse in ``run_pipeline_config``.

A master that a later table names in ``depends_on`` is persisted before
its landing, so the dependents' join planning and SQL read the cached
rows instead of re-running the upstream merge. These tests pin that the
dependent really reads the cache, that the outputs are those of a run
without reuse, that the run leaves nothing of its own cached behind, and
that landing the upstream with ``sketch_keys`` does not drop the cache
before the dependents read it.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.storagelevel import StorageLevel

from dwh_etl_framework_spark.plans.config import parse_pipeline_config
from dwh_etl_framework_spark.plans.pipeline import Pipeline, run_pipeline_config
from dwh_etl_framework_spark.sources.sinks import (
    read_table_sketch,
    write_table_with_sketches,
)
from tests.conftest import SF_DIR

UPSTREAM = "stg.orders_open"
VIEW = "stg_orders_open"


def _config(root, depends: bool, mart_sql: str | None = None):
    mart = {
        "target": "mart.customer_open",
        "primary_key": ["o_custkey"],
        "dependencies": [
            {"alias": "customer", "path": f"{SF_DIR}/customer.parquet"},
        ],
        "transform": {"full": [{
            "type": "select",
            "sql": mart_sql or (
                f"SELECT s.o_custkey, c.c_nationkey,"
                f" CAST(COUNT(*) AS BIGINT) AS n_orders,"
                # integer cents: a double SUM depends on the row order
                f" SUM(CAST(ROUND(s.o_totalprice * 100) AS BIGINT)) AS cents"
                f" FROM {VIEW} s JOIN customer c ON s.o_custkey = c.c_custkey"
                f" GROUP BY s.o_custkey, c.c_nationkey"
            ),
            "join_strategy": {
                "left": VIEW, "right": "customer",
                "left_key": "o_custkey", "right_key": "c_custkey",
            },
        }]},
        "landing": {"path": f"{root}/mart", "sketch_keys": ["o_custkey"]},
    }
    if depends:
        mart["depends_on"] = [UPSTREAM]
    return parse_pipeline_config({"tables": [
        {
            "target": UPSTREAM,
            "primary_key": ["o_orderkey"],
            "dependencies": [
                {"alias": "orders", "path": f"{SF_DIR}/orders.parquet"},
            ],
            "transform": {"full": [{
                "type": "select",
                "sql": (
                    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
                    " WHERE o_orderstatus = 'O'"
                ),
            }]},
            # sketch_keys: the upstream lands through
            # write_table_with_sketches, which must leave the kept cache
            "landing": {"path": f"{root}/stg", "sketch_keys": ["o_custkey"]},
        },
        mart,
    ]})


def _run(spark, cfg):
    return run_pipeline_config(
        spark, cfg, merge_mode="full", transform_dt=datetime(2024, 1, 1)
    )


def _spy_landings(monkeypatch) -> dict:
    """Record, per table, the master handed to its landing with its
    executed plan and whether it was cached at that moment (for the
    dependent, the plan its landing executes)."""
    seen = {}
    original = Pipeline.land_master

    def spy(self, master):
        plan = master._jdf.queryExecution().executedPlan().toString()
        seen[self.table.target] = (master, plan, not _uncached(master))
        return original(self, master)

    monkeypatch.setattr(Pipeline, "land_master", spy)
    return seen


def _landed(spark, path: str) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _uncached(df) -> bool:
    return df.storageLevel == StorageLevel.NONE


def test_dependent_reads_kept_master_and_outputs_match(
    spark, tmp_path, monkeypatch
):
    seen = _spy_landings(monkeypatch)
    reuse, plain = tmp_path / "reuse", tmp_path / "plain"
    pipes = _run(spark, _config(reuse, depends=True))
    # the staging landing scans the kept master, and the mart's executed
    # plan reads the staging master (the relation with the staging
    # columns) from the cache
    assert "InMemoryTableScan" in seen[UPSTREAM][1]
    cached = [
        line for line in seen["mart.customer_open"][1].splitlines()
        if "InMemoryRelation [" in line
    ]
    assert any("o_orderkey" in line for line in cached), cached
    # the run released what it kept, and the mart landing released its own
    assert _uncached(pipes[UPSTREAM].master)
    assert _uncached(spark.table(VIEW))
    assert _uncached(pipes["mart.customer_open"].master)

    # the same config without depends_on keeps nothing (the pre-reuse
    # behaviour): every landed table and sketch is identical
    plain_pipes = _run(spark, _config(plain, depends=False))
    assert "InMemoryRelation" not in seen["mart.customer_open"][1]
    for table in ("stg", "mart"):
        assert _landed(spark, f"{reuse}/{table}") == _landed(
            spark, f"{plain}/{table}"
        )
        a, wa = read_table_sketch(spark, f"{reuse}/{table}", "o_custkey")
        b, wb = read_table_sketch(spark, f"{plain}/{table}", "o_custkey")
        assert wa == wb
        assert sorted(a.collect()) == sorted(b.collect())
    assert (
        pipes["mart.customer_open"].last_join_decisions
        == plain_pipes["mart.customer_open"].last_join_decisions
    )


def test_kept_master_released_when_a_dependent_fails(
    spark, tmp_path, monkeypatch
):
    seen = _spy_landings(monkeypatch)
    cfg = _config(
        tmp_path, depends=True, mart_sql=f"SELECT no_such_col FROM {VIEW}"
    )
    with pytest.raises(Exception, match="no_such_col"):
        _run(spark, cfg)
    master, _, cached_at_landing = seen[UPSTREAM]
    assert cached_at_landing and _uncached(master)


def test_sketch_landing_leaves_a_cache_it_did_not_create(spark, tmp_path):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_custkey")
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        write_table_with_sketches(df, str(tmp_path / "a"), ["o_custkey"])
        assert not _uncached(df)
    finally:
        df.unpersist()
    # a cache the writer creates for itself is released
    fresh = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey")
    write_table_with_sketches(fresh, str(tmp_path / "b"), ["o_orderkey"])
    assert _uncached(fresh)
