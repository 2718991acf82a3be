"""Pipeline orchestration (F22-F24) — the reference's Airflow task factories

(``airflow_etl.py:486-538``, ``:736-774``) re-expressed as a plain Python
API. Orchestration contributes no query semantics (SURVEY.md §3), so a
pipeline is just: register sources → run steps → write journal → merge.
An Airflow/cron wrapper can call these methods 1:1.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from dwh_etl_framework_spark.operators.merge import (
    JournalSpec,
    flip_journal_state,
    merge_delta,
    merge_full,
    stamp_journal_columns,
)
from dwh_etl_framework_spark.plans.config import (
    TableConfig,
    VALID_MERGE_MODES,
    VALID_WRITE_MODES,
)
from dwh_etl_framework_spark.plans.params import resolve_parameters
from dwh_etl_framework_spark.plans.steps import StepContext, run_transform_steps
from dwh_etl_framework_spark.sources.registry import register_sources


@dataclass
class Pipeline:
    """One target table's ETL run (transform_db parity, F24).

    In-memory journal/master state doubles as the storage layer for tests;
    production would back these with parquet/Delta paths via
    ``sources.sinks`` — the merge plans are identical either way.
    """

    spark: SparkSession
    table: TableConfig
    variable_resolver: object = None
    checkpoint_mode: str = "persist"
    sql_base_dir: str | None = None  # sql_file step paths resolve against this
    connections: dict = field(default_factory=dict)  # F8/F25 jdbc registry
    journal: DataFrame | None = None
    master: DataFrame | None = None
    #: JoinDecisions recorded by the last transform() run's steps that
    #: declared join_strategy (keyed by step alias) — the run's plan
    #: audit trail, surfaced for logging/inspection.
    last_join_decisions: dict = field(default_factory=dict)

    def spec(self) -> JournalSpec:
        if not self.table.primary_key:
            raise ValueError(f"table {self.table.target!r} declares no primary_key")
        return JournalSpec(primary_key=tuple(self.table.primary_key))

    # -- stage 1: sources ---------------------------------------------------
    def register_dependencies(self) -> dict[str, DataFrame]:
        """load_dependencies parity (``airflow_etl.py:299-375``)."""
        specs = [d.to_source_spec() for d in self.table.dependencies]
        return register_sources(self.spark, specs)

    # -- stage 2: migration + transform ------------------------------------
    def run_migration(self) -> None:
        """F22 — optional one-off DDL (``airflow_etl.py:694-700``; optional,

        fixing the reference's unconditional KeyError)."""
        for ddl in self.table.migration:
            self.spark.sql(ddl)

    def register_functions(self) -> None:
        """Register the table's SQL UDF declarations (``functions:``
        config block, round-12 surface): validated at parse time to be
        ``CREATE OR REPLACE TEMPORARY FUNCTION``, so re-running is a
        no-op replace and the definitions die with the session."""
        for ddl in self.table.functions:
            self.spark.sql(ddl)

    def transform(self, read_mode: str = "full") -> DataFrame:
        """F14/F24: run the configured steps; last select result wins."""
        self.register_functions()
        ctx = StepContext(
            spark=self.spark,
            parameters=resolve_parameters(
                self.table.parameters, self.variable_resolver
            ),
            dataframes=dict(),
            sql_base_dir=self.sql_base_dir,
            checkpoint_mode=self.checkpoint_mode,
            connections=self.connections,
        )
        result = run_transform_steps(ctx, list(self.table.steps_for(read_mode)))
        self.last_join_decisions = dict(ctx.join_decisions)
        if result is None:
            raise ValueError(
                f"{read_mode!r} steps for {self.table.target!r} produced no DataFrame"
            )
        return result

    # -- stage 3: journal write + merge -------------------------------------
    def write_journal(
        self, df: DataFrame, transform_dt, write_mode: str = "append"
    ) -> DataFrame:
        """Journal write (``airflow_etl.py:719-726``): stamp system columns,

        then append to (or truncate-overwrite) ``<target>__journal``.

        Each write gets a distinct driver-captured ``__load_dt`` (micro-
        second-bumped per write): within the unioned journal plan,
        ``current_timestamp()`` would evaluate to ONE value for all writes,
        and ``monotonically_increasing_id`` puts the partition id in bits
        ≥33, so no seqno stride can disambiguate writes — the load
        timestamp is the write-order tiebreaker, exactly as the reference's
        protocol intends (__load_dt DESC before __seqno).
        """
        from datetime import datetime, timedelta

        if write_mode not in VALID_WRITE_MODES:
            raise ValueError(f"invalid write_mode {write_mode!r}")
        # monotonic per-write stamp: a backwards wall-clock step (NTP, VM
        # migration) must not reorder writes, so never go below the
        # previous write's stamp + 1µs
        now = datetime.now()
        prev = getattr(self, "_last_load_dt", None)
        if prev is not None and now <= prev:
            now = prev + timedelta(microseconds=1)
        self._last_load_dt = now
        stamped = stamp_journal_columns(df, transform_dt, load_dt=now)
        if write_mode == "overwrite" or self.journal is None:
            self.journal = stamped
        else:
            self.journal = self.journal.unionByName(stamped)
        return self.journal

    def merge(self, merge_mode: str = "full") -> DataFrame | None:
        """F19/F20 + F21 (``airflow_etl.py:131-223``)."""
        if merge_mode not in VALID_MERGE_MODES:
            raise ValueError(f"invalid merge_mode {merge_mode!r}")
        if merge_mode == "none" or self.journal is None:
            return self.master
        spec = self.spec()
        if merge_mode == "full":
            self.master = merge_full(self.journal, spec)
        else:
            base = (
                self.master
                if self.master is not None
                else self.journal.limit(0).drop("__rnk", *_system_cols())
            )
            self.master = merge_delta(base, self.journal, spec)
        self.journal = flip_journal_state(self.journal)
        return self.master

    def run(
        self,
        read_mode: str = "full",
        write_mode: str = "append",
        merge_mode: str = "full",
        transform_dt=None,
    ) -> DataFrame | None:
        """Full lifecycle, mirroring EP2 of the reference (SURVEY.md §3)."""
        master = self.build_master(read_mode, write_mode, merge_mode, transform_dt)
        if master is not None and getattr(self.table, "landing", None):
            self.land_master(master)
        return master

    def build_master(
        self,
        read_mode: str = "full",
        write_mode: str = "append",
        merge_mode: str = "full",
        transform_dt=None,
    ) -> DataFrame | None:
        """Every stage of :meth:`run` but the landing: sources, migration,
        transform, journal write and merge. Returns the (lazy) master."""
        self.register_dependencies()
        self.run_migration()
        result = self.transform(read_mode)
        self.write_journal(result, transform_dt, write_mode)
        return self.merge(merge_mode)

    def land_master(self, master: DataFrame) -> None:
        """F17 from config: land the merged master at the declared
        datalake path — with per-key CMS planner sketches when the
        ``landing`` block names ``sketch_keys`` (metadata-only join
        planning downstream; ``sources/sinks``). Mode defaults to
        overwrite because the master IS the current state."""
        from dwh_etl_framework_spark.sources.sinks import (
            write_table,
            write_table_with_sketches,
        )

        spec = dict(self.table.landing)
        layout = spec.get("layout")
        if layout:
            # zone-mapped fragmented landing (config._parse_layout shape):
            # fragment id from the declared layout, per-fragment min/max
            # landed beside the data, pruned reads served downstream via
            # steps' ``pruned_scans`` (sources/zonemaps.py)
            from pyspark.sql import functions as F

            from dwh_etl_framework_spark.sources.zonemaps import (
                FRAGMENT_COL,
                fragment_expr_for_layout,
                write_table_with_zonemaps,
            )

            frag = fragment_expr_for_layout(layout)
            write_table_with_zonemaps(
                master.withColumn(FRAGMENT_COL, F.expr(frag)),
                spec["path"],
                list(spec["zonemap_cols"]),
            )
            return
        kwargs = dict(
            fmt=spec.get("format", "parquet"),
            mode=spec.get("mode", "overwrite"),
            partition_by=(
                list(spec["partition_by"]) if spec.get("partition_by") else None
            ),
        )
        keys = spec.get("sketch_keys")
        if keys:
            write_table_with_sketches(
                master, spec["path"], list(keys), w=spec.get("w"), **kwargs
            )
        else:
            write_table(master, spec["path"], **kwargs)


def _system_cols() -> list[str]:
    from dwh_etl_framework_spark.operators.merge import SYSTEM_COLS

    return list(SYSTEM_COLS)


def run_pipeline_config(
    spark: SparkSession,
    config,
    read_mode: str = "full",
    write_mode: str = "append",
    merge_mode: str = "full",
    transform_dt=None,
    variable_resolver=None,
    sql_base_dir: str | None = None,
    connections: dict | None = None,
) -> dict[str, "Pipeline"]:
    """Run every table of a PipelineConfig in declaration order — the

    reference's table-config loop (``airflow_etl.py:687``). Each table's
    master is registered as a temp view named after its target (dots →
    underscores), so later tables can depend on earlier ones' outputs —
    the multi-table DWH layering (staging → marts) the reference's
    config.yaml encodes.

    Master reuse: a master that a LATER table names in ``depends_on`` is
    persisted (MEMORY_AND_DISK) before its landing, so the landing
    materializes it once and the dependents' sketch-driven join planning
    and SQL read the cached rows instead of re-running the upstream
    merge. Nothing else decides it — a table that reads an upstream view
    without declaring ``depends_on`` recomputes it, as before. The run
    releases every cache it created for reuse when it returns (or
    raises); the returned pipelines' masters stay valid, lazily.
    """
    # targets that a LATER table names in depends_on
    needed: set[str] = set()
    consumed: set[str] = set()
    for table in reversed(config.tables):
        if table.target in needed:
            consumed.add(table.target)
        needed.update(table.depends_on)
    kept: list[DataFrame] = []
    pipelines: dict[str, Pipeline] = {}
    try:
        for table in config.tables:
            pipe = Pipeline(
                spark=spark,
                table=table,
                variable_resolver=variable_resolver,
                sql_base_dir=sql_base_dir,
                connections=dict(connections or {}),
            )
            master = pipe.build_master(
                read_mode=read_mode,
                write_mode=write_mode,
                merge_mode=merge_mode,
                transform_dt=transform_dt,
            )
            if master is not None:
                if table.target in consumed:
                    pipe.master = master = master.persist(
                        StorageLevel.MEMORY_AND_DISK
                    )
                    kept.append(master)
                if getattr(table, "landing", None):
                    pipe.land_master(master)
                master.createOrReplaceTempView(table.target.replace(".", "_"))
            pipelines[table.target] = pipe
    finally:
        for master in kept:
            master.unpersist()
    return pipelines
