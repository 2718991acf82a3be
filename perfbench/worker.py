"""The Spark side of the benchmark: one process, one session, one workload.

``run.py`` starts this as ``python worker.py <spec.json>`` as the leader
of a new session, in a work directory, and reads the result JSON the worker
writes to ``spec["out"]``. The worker builds an engine session, runs the
workload's first pass, then ``spec["warmup_ops"]`` warm-up ops and
``spec["warm_ops"]`` measured warm ops, checks the outputs against DuckDB
(untimed) and, when ``spec["trace"]`` is set, attributes the Spark event
log to the layers it called into.

Ops: a ``run_pipeline_config`` call (``pipeline_batch``); one upsert cycle
followed by one pass over a set of scan-heavy registry queries
(``upsert_and_scan``); one pass over the build-heavy registry queries
(``query_build_heavy``). A query is its ``fn()`` plus a noop write. Each op
is timed twice: wall clock, and the CPU seconds of every process of the
worker's session (this process, the JVM and the JVM's Python workers). An
op that raises, or a stream that does not finish within
``spec["cycle_timeout"]``, counts as failed and gives no sample.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import Tracer, job_costs, layer_costs, parse_event_log, wrapped  # noqa: E402

QUERY_SETS = {
    # one of each operator family of the scan-heavy set: aggregate, join,
    # latest-row-per-key merge (shared with the pipeline), exact dedup
    "upsert_and_scan": (
        "r16_agg_pricing_summary", "r14_inner_join_agg", "f20_merge_delta",
        "x01_exact_dedup",
    ),
    "query_build_heavy": (
        "f38_metadata_join_decision", "x108_kcenter_coreset",
        "x116_cc_components", "x105_join_strategy_decision",
        "x20_dedup_clusters",
    ),
}

STAGING_SQL = """
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
       CAST(o.o_orderdate AS DATE) AS order_date,
       CAST(l.l_shipdate AS DATE) AS ship_date,
       l.l_quantity, l.l_extendedprice, l.l_discount,
       CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
         * CAST(ROUND(100 - l.l_discount * 100) AS BIGINT) AS net_revenue_e4
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '{cutoff} 00:00:00'
"""

MART_SQL = """
SELECT s.o_custkey, c.c_name, c.c_mktsegment,
       COUNT(DISTINCT s.l_orderkey) AS n_orders,
       COUNT(*) AS n_lines,
       SUM(s.net_revenue_e4) AS net_revenue_e4,
       MAX(s.ship_date) AS last_ship_date
FROM stg_lineitem_orders s JOIN customer c ON s.o_custkey = c.c_custkey
GROUP BY s.o_custkey, c.c_name, c.c_mktsegment
"""

ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)


class StreamTimeout(RuntimeError):
    pass


def engine_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by the processes of this
    process's session, counting the children they have reaped.

    Unlike wall time this leaves out the time the host takes the CPUs away
    (steal on a shared virtual machine), which on a busy host can be half
    of an op's wall time."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            ticks += sum(int(f) for f in fields[11:15])  # utime .. cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Workload:
    """One workload's ops, samples, failures and output checks."""

    def __init__(self, spark, spec: dict, tracer: Tracer):
        self.spark = spark
        self.spec = spec
        self.tracer = tracer
        self.data = spec["data_dir"]
        self.work = Path(spec["work_dir"])
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: per succeeded op: wall seconds and engine CPU seconds
        self.wall: dict[int, float] = {}
        self.cpu: dict[int, float] = {}

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {exc}"[:400])

    def check(self, what: str, actual, expected) -> None:
        """One untimed correctness check, counted as an op."""
        from checks import compare_tables

        self.attempted += 1
        problem = compare_tables(actual, expected)
        if problem:
            self.fail(f"check {what}", problem)

    def run_op(self, i: int) -> None:
        """Run and time op ``i``; a failed op leaves no sample."""
        self.tracer.op = i
        self.attempted += 1
        cpu, start = engine_cpu_s(), time.perf_counter()
        try:
            self.op(i)
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            self.fail(f"op {i}", f"{type(exc).__name__}: {exc}")
            return
        self.wall[i] = time.perf_counter() - start
        self.cpu[i] = engine_cpu_s() - cpu

    def timings(self, warmup_ops: int) -> dict:
        """The first pass (op 0) and the measured warm ops (those after the
        ``warmup_ops`` warm-up ops): their median wall time and their least
        CPU time. Interference from the host only ever adds CPU time (cache
        and core sharing), so the cheapest of the repeats is the one it
        disturbed least."""
        nan = float("nan")
        wall = [v for i, v in self.wall.items() if i > warmup_ops]
        cpu = [v for i, v in self.cpu.items() if i > warmup_ops]
        return {
            "first_pass_s": self.wall.get(0, nan),
            "first_pass_cpu_s": self.cpu.get(0, nan),
            "warm_op_s": statistics.median(wall) if wall else nan,
            "warm_op_cpu_s": min(cpu) if cpu else nan,
            "wall": self.wall,
            "cpu": self.cpu,
        }


class PipelineBatch(Workload):
    """Two-table pipeline config: staging lineitem ⋈ orders, then a mart."""

    def __init__(self, spark, spec, tracer):
        super().__init__(spark, spec, tracer)
        from dwh_etl_framework_spark.plans.config import parse_pipeline_config

        self.stg_path = str(self.work / "landing" / "stg_lineitem_orders")
        self.mart_path = str(self.work / "landing" / "mart_customer_revenue")
        self.config = parse_pipeline_config({"tables": [
            {
                "target": "stg.lineitem_orders",
                "primary_key": ["l_orderkey", "l_linenumber"],
                "dependencies": [
                    {"alias": "lineitem", "path": f"{self.data}/lineitem.parquet"},
                    {"alias": "orders", "path": f"{self.data}/orders.parquet"},
                ],
                "parameters": [{"name": "cutoff", "value": spec["cutoff"]}],
                "transform": {"full": [{
                    "type": "select", "alias": "staged", "cache": True,
                    "sql": STAGING_SQL,
                }]},
                "landing": {"path": self.stg_path, "format": "parquet"},
            },
            {
                "target": "mart.customer_revenue",
                "primary_key": ["o_custkey"],
                "depends_on": ["stg.lineitem_orders"],
                "dependencies": [
                    {"alias": "customer", "path": f"{self.data}/customer.parquet"},
                ],
                "transform": {"full": [{
                    "type": "select", "alias": "customer_revenue",
                    "sql": MART_SQL,
                    "join_strategy": {
                        "left": "stg_lineitem_orders", "right": "customer",
                        "left_key": "o_custkey", "right_key": "c_custkey",
                    },
                }]},
                "landing": {"path": self.mart_path, "sketch_keys": ["o_custkey"]},
            },
        ]})

    def op(self, i: int) -> None:
        from dwh_etl_framework_spark.plans.pipeline import run_pipeline_config

        with self.tracer.span("plans.pipeline", "run_pipeline_config"):
            run_pipeline_config(
                self.spark, self.config, read_mode="full", merge_mode="full"
            )
        # each run starts from an empty cache, like a scheduled run
        self.spark.catalog.clearCache()

    def verify(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in ("lineitem", "orders", "customer"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        con.sql(
            "CREATE VIEW stg_lineitem_orders AS "
            + STAGING_SQL.format(cutoff=self.spec["cutoff"])
        )
        landed = "SELECT * FROM read_parquet('{}/*.parquet')"
        self.check(
            "staging",
            con.sql(landed.format(self.stg_path)).fetch_arrow_table(),
            con.sql("SELECT * FROM stg_lineitem_orders").fetch_arrow_table(),
        )
        self.check(
            "mart",
            con.sql(landed.format(self.mart_path)).fetch_arrow_table(),
            con.sql(MART_SQL).fetch_arrow_table(),
        )


class IncrementalUpsert(Workload):
    """Delta loads through ``stream_merge_to_master``: one landed journal
    file and one ``availableNow`` trigger per cycle, with one checkpoint
    and one master state across cycles."""

    def __init__(self, spark, spec, tracer):
        super().__init__(spark, spec, tracer)
        from dwh_etl_framework_spark.operators.merge import JournalSpec
        from dwh_etl_framework_spark.streaming.merge import StreamMasterState

        self.journals = [Path(p) for p in spec["journals"]]
        self.inbox = self.work / "inbox"
        self.inbox.mkdir(parents=True, exist_ok=True)
        self.landed: list[Path] = []
        self.state = StreamMasterState(spark, str(self.work / "master"))
        self.key = JournalSpec(primary_key=("o_orderkey",))
        self.stream = spark.readStream.schema(ORDERS_DDL).parquet(str(self.inbox))
        self.add_batch: dict[int, float] = {}
        self.write_amp: dict[int, float] = {}

    def land(self, i: int) -> Path:
        """Publish journal file ``i`` atomically (hidden name, then rename)."""
        src = self.journals[i]
        tmp = self.inbox / f".{src.name}"
        shutil.copyfile(src, tmp)
        dst = self.inbox / src.name
        os.replace(tmp, dst)
        self.landed.append(dst)
        return dst

    def op(self, i: int) -> None:
        from dwh_etl_framework_spark.streaming.merge import stream_merge_to_master

        with self.tracer.span("streaming.merge", f"cycle_{i}"):
            landed = self.land(i)
            q = stream_merge_to_master(
                self.stream, self.key, self.state, str(self.work / "ckpt")
            )
            if not q.awaitTermination(self.spec["cycle_timeout"]):
                q.stop()
                raise StreamTimeout(
                    f"cycle {i} still running after {self.spec['cycle_timeout']} s"
                )
        self.add_batch[i] = sum(
            p["durationMs"].get("addBatch", 0) for p in q.recentProgress
        ) / 1000.0
        version = self.state._current_version()
        master_bytes = _dir_bytes(Path(self.state.path) / f"_v{version}")
        self.write_amp[i] = master_bytes / max(1, landed.stat().st_size)

    def verify(self) -> None:
        import duckdb

        from checks import expected_latest_per_key

        master = self.state.read()
        con = duckdb.connect()
        self.check(
            "master",
            master.toArrow() if master is not None else None,
            expected_latest_per_key(con, self.landed, "o_orderkey"),
        )


class Queries(Workload):
    """Registry queries: an op is one pass over the set."""

    def __init__(self, spark, spec, tracer):
        super().__init__(spark, spec, tracer)
        self.names = QUERY_SETS[spec["workload"]]
        self.plan_s: dict[int, float] = {}

    def op(self, i: int) -> None:
        for name in self.names:
            self.query(name)

    def query(self, name: str) -> None:
        """One registry query: its ``fn()`` plus a noop write."""
        from dwh_etl_framework_spark.queries import QUERIES

        with self.tracer.span("queries.build", name):
            df = QUERIES[name].fn(self.spark, self.data)
        with self.tracer.span("queries.exec", name):
            df.write.format("noop").mode("overwrite").save()
        if self.tracer.sc is not None:
            op = self.tracer.op
            self.plan_s[op] = self.plan_s.get(op, 0.0) + _catalyst_seconds(df)

    def verify(self) -> None:
        import duckdb

        from dwh_etl_framework_spark.queries import QUERIES
        from gen import FIXTURE_TABLES

        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for name in self.names:
            qd = QUERIES[name]
            try:
                actual = qd.fn(self.spark, self.data).toArrow()
            except Exception as exc:  # noqa: BLE001
                self.attempted += 1
                self.fail(f"check {name}", f"{type(exc).__name__}: {exc}")
                continue
            self.check(name, actual, con.sql(qd.oracle).fetch_arrow_table())


class UpsertAndScan(IncrementalUpsert, Queries):
    """The warehouse between batch runs: an op is one upsert cycle, then one
    pass over a set of scan-heavy registry queries."""

    def op(self, i: int) -> None:
        IncrementalUpsert.op(self, i)
        Queries.op(self, i)

    def verify(self) -> None:
        IncrementalUpsert.verify(self)
        Queries.verify(self)


WORKLOADS = {
    "pipeline_batch": PipelineBatch,
    "upsert_and_scan": UpsertAndScan,
    "query_build_heavy": Queries,
}


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time from the DataFrame's
    QueryExecution tracker (planning is forced here, outside any span)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        if got.isDefined():
            total += got.get().durationMs()
    return total / 1000.0


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def layer_metrics(
    workload: Workload, tracer: Tracer, log: Path, session: dict, warmup_ops: int = 0
) -> dict:
    """Per-layer means over the measured warm ops (those after the
    ``warmup_ops`` warm-up ops), from spans and the event log."""
    jobs = parse_event_log(log)
    costs = job_costs(tracer.spans, jobs)
    warm = sorted({s.op for s in tracer.spans if s.op > warmup_ops})

    def cost(layer: str) -> dict:
        return layer_costs(tracer.spans, costs, layer, warm)

    def mean(per_op: dict[int, float]) -> float:
        return sum(per_op[i] for i in warm if i in per_op) / max(1, len(warm))

    out = dict(session)
    for layer in ("plans.steps", "sources.sinks", "streaming.merge",
                  "queries.build", "queries.exec"):
        c = cost(layer)
        for key in ("task_s", "shuffle_bytes", "spill_bytes", "driver_gap_s"):
            out[f"{layer}.{key}"] = c[key]
    run = cost("plans.pipeline")["s"]
    register = cost("sources.registry")["s"]
    transform = cost("plans.steps")
    merge = cost("operators.merge")["s"]
    land = cost("sources.sinks")
    out.update({
        "plans.pipeline.run_s": run,
        "sources.registry.register_s": register,
        "plans.steps.transform_s": transform["s"],
        "plans.steps.jobs": transform["jobs"],
        "operators.merge.plan_s": merge,
        "sources.sinks.land_s": land["s"],
        "sources.sinks.jobs": land["jobs"],
        "sources.sinks.bytes_written": land["bytes_written"],
        "plans.pipeline.other_s": (run - register - transform["s"] - merge - land["s"])
        if run else 0.0,
    })
    cycle = cost("streaming.merge")
    add_batch = getattr(workload, "add_batch", {})
    amp = getattr(workload, "write_amp", {})
    out.update({
        "streaming.merge.add_batch_s": mean(add_batch),
        "streaming.merge.trigger_overhead_s": cycle["s"] - mean(add_batch)
        if add_batch else 0.0,
        "streaming.merge.jobs_per_cycle": cycle["jobs"],
        "streaming.merge.write_amp": mean(amp),
    })
    build, exec_ = cost("queries.build"), cost("queries.exec")
    out.update({
        "queries.build_s": build["s"],
        "queries.build_jobs": build["jobs"],
        "queries.exec_s": exec_["s"],
        "queries.exec_jobs": exec_["jobs"],
        "queries.plan_s": mean(getattr(workload, "plan_s", {})),
    })
    return out


def measure(workload: Workload, warm_ops: int, deadline: float) -> None:
    """Run the first pass (op 0), then ``warm_ops`` warm ops (warm-up and
    measured), never past the epoch ``deadline``.

    The op count is fixed rather than the time: the JVM keeps speeding up
    for dozens of ops, so a time-boxed loop would let a faster machine
    reach a later, faster phase and read faster than it is."""
    workload.run_op(0)
    for i in range(1, warm_ops + 1):
        if time.time() >= deadline:
            break
        workload.run_op(i)


def main(spec_path: str) -> int:
    spec = json.loads(Path(spec_path).read_text())
    from dwh_etl_framework_spark.session import SessionFactory

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    log_dir = Path(spec["work_dir"]) / "eventlog"
    if spec["trace"]:
        log_dir.mkdir(parents=True, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = SessionFactory(
        app_name=f"perfbench-{spec['workload']}", extra_confs=confs
    ).build()
    build_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    result = {"ready_at": time.time(), "build_s": build_s, "setup_cpu_s": engine_cpu_s()}

    from dwh_etl_framework_spark.plans.pipeline import Pipeline

    tracer = Tracer(sc=spark.sparkContext if spec["trace"] else None)
    workload = WORKLOADS[spec["workload"]](spark, spec, tracer)
    stages = {
        "register_dependencies": "sources.registry",
        "transform": "plans.steps",
        "write_journal": "operators.merge",
        "merge": "operators.merge",
        "land_master": "sources.sinks",
    }
    with wrapped(tracer, Pipeline, stages if spec["trace"] else {}):
        measure(workload, spec["warmup_ops"] + spec["warm_ops"], spec["deadline"])
    t_verify = time.perf_counter()
    workload.verify()
    result.update(workload.timings(spec["warmup_ops"]))
    result.update({
        "verify_s": time.perf_counter() - t_verify,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "errors": workload.errors,
        "jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
    })
    if not spec["trace"]:
        Path(spec["out"]).write_text(json.dumps(result))
        # Nothing more is needed from the engine. A clean stop costs ~2 s a
        # run, and run.py kills this process group as soon as it exits.
        os._exit(0)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # closes the event log
    result["layers"] = layer_metrics(workload, tracer, log_dir / app_id, {
        "session.build_s": build_s,
        "session.jvm_peak_rss_mb": result["jvm_peak_rss_mb"],
    }, spec["warmup_ops"])
    Path(spec["out"]).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
