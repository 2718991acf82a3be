#!/usr/bin/env python3
"""The repository benchmark: one workload, measured end to end or per layer.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed`` (``gen.py``), starts one engine process (``worker.py``) on
``local[2]`` as a single closed-loop client, and prints one JSON line last
on stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json.
With ``--trace 1`` they are the per-layer ones: the run measures the
workload twice, untraced and then with Spark's event log and per-call job
groups, and reports the layer costs of the traced pass plus the tracing
overhead (traced minus untraced end-to-end numbers).

Everything the run writes stays under ``.perfbench_work/`` in the
repository root and is removed at the end; the engine's log goes there too
and is echoed to stderr only when the run fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

#: TPC-H scale factor of the generated inputs (0.01: 60k lineitem rows,
#: 15k orders, 1.5k customers)
SCALE = 0.01
#: seconds one upsert cycle may take before it counts as failed
CYCLE_TIMEOUT_S = 60.0
#: a run must end within 180 s; leave room for teardown
RUN_LIMIT_S = 170.0
#: seconds kept free after the last op for the output checks and, when
#: traced, the event log
TAIL_S = 25.0
#: Spark task slots of the engine process. The engine is overhead-bound at
#: this scale, and on a shared virtual machine a process that keeps every
#: vCPU busy measures the host's scheduler more than the engine.
ENGINE_CPUS = 2
#: JVM heap of the engine process, pinned so memory use is comparable
#: across machines
DRIVER_MEMORY = "2g"
#: JVM flags of the engine process: GC and JIT threads to match the two
#: task slots, and the C1 compiler only. With C2 the JVM keeps speeding up
#: for dozens of ops, so a short run's figures sit on a slope whose shape
#: varies by 10% from run to run; with C1 only an op costs nearly the same
#: after the first one or two.
JVM_FLAGS = (
    "-XX:-UsePerfData", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
    "-XX:CICompilerCount=2", "-XX:TieredStopAtLevel=1",
)
#: heap flags of the engine JVM only (not of Spark's launcher JVM): a fixed
#: heap and young generation, so GC work does not depend on how G1 happened
#: to size them in this run
HEAP_FLAGS = (f"-Xms{DRIVER_MEMORY}", "-Xmn512m")

#: warm seconds of one op per workload on a 4-vCPU reference machine: a run
#: measures ceil(--seconds / this) warm ops, the same count on any machine
NOMINAL_OP_S = {
    "pipeline_batch": 8.0,
    "upsert_and_scan": 4.5,
    "query_build_heavy": 15.0,
}
WORKLOADS = tuple(NOMINAL_OP_S)
#: untimed warm-up ops between the first pass and the measured warm ops.
#: A pipeline run costs about the same from its second op on; an upsert
#: cycle's second op still costs 20% more than its third.
WARMUP_OPS = {"pipeline_batch": 0, "upsert_and_scan": 1, "query_build_heavy": 0}
UNITS = {"setup_s": "s", "first_pass_cpu_s": "s", "warm_op_cpu_s": "s"}
PER_LAYER_UNITS = {
    "untraced.first_pass_s": "s",
    "untraced.warm_op_s": "s",
    "session.build_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.registry.register_s": "s",
    "plans.steps.transform_s": "s",
    "plans.steps.jobs": "count",
    "operators.merge.plan_s": "s",
    "sources.sinks.land_s": "s",
    "sources.sinks.jobs": "count",
    "sources.sinks.bytes_written": "bytes",
    "plans.pipeline.other_s": "s",
    "plans.pipeline.run_s": "s",
    "streaming.merge.add_batch_s": "s",
    "streaming.merge.trigger_overhead_s": "s",
    "streaming.merge.jobs_per_cycle": "count",
    "streaming.merge.write_amp": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.plan_s": "s",
    **{
        f"{layer}.{key}": unit
        for layer in ("plans.steps", "sources.sinks", "streaming.merge",
                      "queries.build", "queries.exec")
        for key, unit in (("task_s", "s"), ("shuffle_bytes", "bytes"),
                          ("spill_bytes", "bytes"), ("driver_gap_s", "s"))
    },
    "trace.first_pass_cpu_overhead_s": "s",
    "trace.warm_op_cpu_overhead_s": "s",
}


class RunFailed(RuntimeError):
    pass


def make_inputs(work: Path, workload: str, seed: int, warm_ops: int) -> dict:
    """Generate the workload's inputs; the spec fields that name them."""
    import gen

    data = work / "data"
    gen.write_fixtures(data, seed, SCALE)
    spec = {"data_dir": str(data), "cutoff": gen.pipeline_cutoff(seed)}
    if workload == "upsert_and_scan":
        spec["journals"] = [
            str(p) for p in gen.write_journals(work / "journals", seed, SCALE, 1 + warm_ops)
        ]
    return spec


def _engine_env(work: Path) -> dict:
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    jvm_opts = " ".join((f"-Djava.io.tmpdir={tmp}",) + JVM_FLAGS)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_SUBMIT_OPTS": " ".join((jvm_opts,) + HEAP_FLAGS),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_GRAFT_CPUS": str(ENGINE_CPUS),
        "SPARK_GRAFT_DRIVER_MEMORY": DRIVER_MEMORY,
    })
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    until = time.time() + 10
    while time.time() < until:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(work: Path, spec: dict, deadline: float, kill_at: float) -> dict:
    """Run one engine process on ``spec``, starting no op after the epoch
    ``deadline`` and killing it at ``kill_at``; its result, with
    ``setup_s``."""
    name = "traced" if spec["trace"] else "untraced"
    spec = dict(spec, work_dir=str(work / name), out=str(work / f"{name}.json"),
                deadline=deadline)
    Path(spec["work_dir"]).mkdir(parents=True, exist_ok=True)
    spec_path = work / f"{name}.spec.json"
    spec_path.write_text(json.dumps(spec))
    log_path = work / f"{name}.log"
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(spec_path)],
            cwd=spec["work_dir"], env=_engine_env(work), stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, kill_at - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not Path(spec["out"]).exists():
        tail = log_path.read_text(errors="replace")[-4000:]
        raise RunFailed(
            f"engine process ({name}) "
            f"{'timed out' if code is None else f'exited with {code}'}; log tail:\n{tail}"
        )
    result = json.loads(Path(spec["out"]).read_text())
    result["setup_s"] = result["ready_at"] - spawned
    result["wall_s"] = time.time() - spawned
    # per-op detail for whoever reads the log; stdout stays one line
    print(json.dumps({k: v for k, v in result.items() if k != "layers"}), file=sys.stderr)
    return result


def _number(v) -> float:
    return 0.0 if v is None or (isinstance(v, float) and math.isnan(v)) else float(v)


def summarize(result: dict) -> dict:
    """The end-to-end result line of one untraced run."""
    values = {k: result[k] for k in UNITS}
    ok = result["failed"] == 0 and all(
        v is not None and not math.isnan(v) for v in values.values()
    )
    return {
        "correct": ok,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": _number(v), "unit": UNITS[k]} for k, v in values.items()
        },
    }


def summarize_trace(untraced: dict, traced: dict) -> dict:
    """The per-layer result line: the traced run's layers, plus overhead."""
    layers = dict(traced["layers"])
    for key in ("first_pass_s", "warm_op_s"):
        layers[f"untraced.{key}"] = untraced[key]
    for key in ("first_pass_cpu", "warm_op_cpu"):
        layers[f"trace.{key}_overhead_s"] = _number(traced[f"{key}_s"]) - _number(
            untraced[f"{key}_s"]
        )
    failed = untraced["failed"] + traced["failed"]
    return {
        "correct": failed == 0,
        "attempted": untraced["attempted"] + traced["attempted"],
        "failed": failed,
        "metrics": {
            k: {"value": _number(layers.get(k)), "unit": unit}
            for k, unit in PER_LAYER_UNITS.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "dwh_etl_framework_spark" / "__init__.py").is_file():
        print(f"no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    start = time.time()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        warmup_ops = WARMUP_OPS[args.workload]
        warm_ops = max(1, math.ceil(args.seconds / NOMINAL_OP_S[args.workload]))
        spec = make_inputs(work, args.workload, args.seed, warmup_ops + warm_ops)
        spec.update(workload=args.workload, warmup_ops=warmup_ops, warm_ops=warm_ops,
                    cycle_timeout=CYCLE_TIMEOUT_S)
        end = start + RUN_LIMIT_S
        if args.trace:
            # two engine processes share the run's time limit
            untraced = run_worker(work, dict(spec, trace=False), start + 0.4 * RUN_LIMIT_S, end)
            traced = run_worker(work, dict(spec, trace=True), end - TAIL_S, end)
            line = summarize_trace(untraced, traced)
        else:
            line = summarize(run_worker(work, dict(spec, trace=False), end - TAIL_S, end))
    except RunFailed as exc:
        print(exc, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
