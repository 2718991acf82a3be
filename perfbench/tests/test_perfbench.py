"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

All but the last test run without a Spark session. The last one runs the
cheapest workload end to end (about 50 s).
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _fake_result(**extra) -> dict:
    return {
        "setup_s": 10.5, "first_pass_s": 3.2, "first_pass_cpu_s": 6.1,
        "warm_op_s": 1.1, "warm_op_cpu_s": 2.3, "attempted": 5, "failed": 0,
        **extra,
    }


def test_output_names_every_end_to_end_metric():
    line = run.summarize(_fake_result())
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True


def test_output_names_every_per_layer_metric():
    layers = {k: 1.0 for k in run.PER_LAYER_UNITS}
    line = run.summarize_trace(_fake_result(), _fake_result(layers=layers))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want


def test_benchmark_lists_runnable_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)


def _workload(tmp_path, cls=worker.Workload):
    w = cls.__new__(cls)
    worker.Workload.__init__(
        w, None, {"data_dir": str(tmp_path), "work_dir": str(tmp_path),
                  "cycle_timeout": 0.01}, spans.Tracer(),
    )
    return w


def test_equal_results_pass_regardless_of_order_and_int_width(tmp_path):
    w = _workload(tmp_path)
    actual = pa.table({"k": pa.array([2, 1], pa.int64()), "v": ["b", "a"]})
    expected = duckdb.sql(
        "SELECT v, k::HUGEINT AS k FROM (VALUES ('a', 1), ('b', 2)) t(v, k)"
    ).fetch_arrow_table()
    w.check("same", actual, expected)
    assert (w.attempted, w.failed) == (1, 0)


def test_wrong_expected_result_is_a_failed_op(tmp_path):
    w = _workload(tmp_path)
    actual = pa.table({"k": [1, 2], "v": ["a", "b"]})
    w.check("value", actual, pa.table({"k": [1, 2], "v": ["a", "c"]}))
    w.check("rows", actual, pa.table({"k": [1], "v": ["a"]}))
    w.check("missing", None, actual)
    assert (w.attempted, w.failed) == (3, 3)
    assert "value hash" in w.errors[0]


def test_latest_per_key_oracle_takes_the_last_landed_file(tmp_path):
    import pyarrow.parquet as pq

    files = []
    for i, rows in enumerate([[(1, "a"), (2, "b")], [(2, "B"), (3, "c")]]):
        p = tmp_path / f"journal_{i:05d}.parquet"
        pq.write_table(pa.table({"k": [r[0] for r in rows], "v": [r[1] for r in rows]}), p)
        files.append(p)
    from checks import compare_tables, expected_latest_per_key

    want = expected_latest_per_key(duckdb.connect(), files, "k")
    assert compare_tables(pa.table({"k": [1, 2, 3], "v": ["a", "B", "c"]}), want) is None
    assert compare_tables(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), want)


class _StuckQuery:
    stopped = False

    def awaitTermination(self, timeout):  # noqa: N802 - Spark's name
        return False

    def stop(self):
        self.stopped = True


def test_stream_timeout_is_a_failed_op_not_a_sample(tmp_path, monkeypatch):
    import dwh_etl_framework_spark.streaming.merge as smerge

    query = _StuckQuery()
    monkeypatch.setattr(smerge, "stream_merge_to_master", lambda *a, **k: query)
    src = tmp_path / "journal_00000.parquet"
    src.write_bytes(b"x")
    w = _workload(tmp_path, worker.IncrementalUpsert)
    w.journals, w.inbox, w.landed = [src, src], tmp_path / "inbox", []
    w.inbox.mkdir()
    w.stream = w.state = w.key = None
    worker.measure(w, warm_ops=1, deadline=float("inf"))
    assert w.wall == {} and w.cpu == {}
    assert query.stopped
    assert (w.attempted, w.failed) == (2, 2)
    assert "StreamTimeout" in w.errors[0]


def test_measured_ops_follow_the_warm_up_and_cpu_takes_the_least():
    w = worker.Workload.__new__(worker.Workload)
    w.wall = {0: 20.0, 1: 9.0, 2: 7.0, 3: 8.0, 4: 6.5}
    w.cpu = {0: 40.0, 1: 15.0, 2: 13.0, 3: 14.0, 4: 12.5}
    t = w.timings(warmup_ops=1)
    assert (t["first_pass_s"], t["first_pass_cpu_s"]) == (20.0, 40.0)
    assert t["warm_op_s"] == 7.0 and t["warm_op_cpu_s"] == 12.5


def test_engine_cpu_counts_this_process():
    before = worker.engine_cpu_s()
    deadline = worker.time.process_time() + 0.3
    while worker.time.process_time() < deadline:
        pass
    assert worker.engine_cpu_s() - before >= 0.2


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_seed_gives_byte_identical_inputs(tmp_path):
    for name in ("a", "b"):
        gen.write_fixtures(tmp_path / name, 7, 0.001)
        gen.write_journals(tmp_path / f"{name}_j", 7, 0.001, 4)
    gen.write_fixtures(tmp_path / "c", 8, 0.001)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a_j") == _digests(tmp_path / "b_j")
    assert _digests(tmp_path / "a")["orders.parquet"] != _digests(tmp_path / "c")["orders.parquet"]
    assert gen.pipeline_cutoff(7) == gen.pipeline_cutoff(7)
    assert len(set(gen.pipeline_cutoff(s) for s in range(20))) > 1


def test_journals_have_unique_keys_and_grow_the_master(tmp_path):
    import pyarrow.parquet as pq

    paths = gen.write_journals(tmp_path, 3, 0.001, 5)
    seen: set[int] = set()
    for p in paths:
        keys = pq.read_table(p).column("o_orderkey").to_pylist()
        assert len(keys) == len(set(keys))
        before = len(seen)
        seen.update(keys)
        assert len(seen) > before


def test_job_costs_by_group_then_by_time_window(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a|x|0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "stream-run"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3200},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = spans.parse_event_log(log)
    a = spans.Span(id="a|x|0", layer="a", call="x", op=1, parent=None, start=0.5, end=2.0)
    b = spans.Span(id="b|y|1", layer="b", call="y", op=1, parent=None, start=2.5, end=4.0)
    costs = spans.job_costs([a, b], jobs)
    assert costs["a|x|0"]["jobs"] == 1 and costs["b|y|1"]["jobs"] == 1
    assert costs["a|x|0"]["task_s"] == 0.5
    assert costs["a|x|0"]["shuffle_bytes"] == 11 and costs["a|x|0"]["spill_bytes"] == 7
    assert costs["a|x|0"]["driver_gap_s"] == pytest.approx(1.0)
    assert costs["b|y|1"]["driver_gap_s"] == pytest.approx(1.3)


def test_pipeline_stages_and_other_sum_to_the_run(tmp_path):
    tracer = spans.Tracer()
    tracer.op = 1
    with tracer.span("plans.pipeline", "run_pipeline_config"):
        for layer in ("sources.registry", "plans.steps", "operators.merge",
                      "operators.merge", "sources.sinks"):
            with tracer.span(layer, "stage"):
                pass
    log = tmp_path / "app"
    log.write_text("")
    m = worker.layer_metrics(worker.Workload.__new__(worker.Workload), tracer, log, {})
    stages = ("sources.registry.register_s", "plans.steps.transform_s",
              "operators.merge.plan_s", "sources.sinks.land_s", "plans.pipeline.other_s")
    assert sum(m[k] for k in stages) == pytest.approx(m["plans.pipeline.run_s"])
    assert m["plans.pipeline.other_s"] >= 0


def test_run_refuses_without_the_engine_package(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_bytes(f.read_bytes())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""


def test_end_to_end_run_prints_every_metric_last():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "upsert_and_scan",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["correct"] is True and line["failed"] == 0
    assert set(line["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in line["metrics"].values())
    assert not (ROOT / ".perfbench_work").exists()
