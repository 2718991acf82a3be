"""Spans around calls into the engine's layers, and their Spark job cost.

A span is one call into one layer: its name (``layer|call``), wall-clock
start and end, the op it belongs to, and its parent. While a span is open
its id is the thread's Spark job group, so every job the call submits from
the calling thread carries the span id in Spark's event log. Jobs submitted
from other threads (a stream's ``foreachBatch`` runs on the stream thread)
fall back to the innermost span whose interval holds the job's submission
time: the benchmark is a single closed-loop client, so spans of different
calls never overlap.

:func:`parse_event_log` reads the uncompressed JSON-lines log Spark writes
with ``spark.eventLog.enabled``; :func:`job_costs` attributes its jobs to
spans and :func:`layer_costs` sums them per layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: str
    layer: str
    call: str
    op: int
    parent: str | None
    start: float = 0.0
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with a SparkContext it also sets job groups."""

    sc: object = None
    op: int = 0
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, call: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{layer}|{call}|{len(self.spans)}", layer=layer, call=call,
            op=self.op, parent=parent.id if parent else None,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, f"{layer}: {call}")
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, f"{parent.layer}: {parent.call}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


@contextmanager
def wrapped(tracer: Tracer, owner: object, attrs: dict[str, str]):
    """Run ``owner.<attr>`` calls under spans of the mapped layer while the
    block is open; the originals are restored on exit."""
    saved = {a: getattr(owner, a) for a in attrs}

    def make(attr: str, fn):
        def inner(*args, **kwargs):
            with tracer.span(attrs[attr], attr):
                return fn(*args, **kwargs)

        return inner

    for attr, fn in saved.items():
        setattr(owner, attr, make(attr, fn))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(owner, attr, fn)


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # epoch seconds, submission
    end: float  # epoch seconds, completion
    stages: list[int]
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0


def parse_event_log(path: Path) -> list[Job]:
    """Jobs with their tasks' run time, shuffle writes, spills and output
    bytes, from one application's event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    id=ev["Job ID"], group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0, end=0.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for st in job.stages:
                    stage_job.setdefault(st, job.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.task_s += m.get("Executor Run Time", 0) / 1000.0
                job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                job.bytes_written += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    return [j for j in jobs.values() if j.end >= j.start > 0]


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_costs(spans: list[Span], jobs: list[Job]) -> dict[str, dict]:
    """Per span id: its jobs' count, task time, shuffle/spill/output bytes
    and driver gap (the span's wall time minus the union of its jobs'
    intervals, clipped to the span)."""
    by_id = {s.id: s for s in spans}
    owned: dict[str, list[Job]] = {s.id: [] for s in spans}
    for job in jobs:
        owner = by_id.get(job.group)
        if owner is None:
            inside = [s for s in spans if s.start <= job.start <= s.end]
            if not inside:
                continue
            owner = min(inside, key=lambda s: s.seconds)
        owned[owner.id].append(job)
    out = {}
    for sid, js in owned.items():
        s = by_id[sid]
        busy = _union_seconds(
            [(max(j.start, s.start), min(j.end, s.end)) for j in js
             if min(j.end, s.end) > max(j.start, s.start)]
        )
        out[sid] = {
            "jobs": len(js),
            "task_s": sum(j.task_s for j in js),
            "shuffle_bytes": sum(j.shuffle_bytes for j in js),
            "spill_bytes": sum(j.spill_bytes for j in js),
            "bytes_written": sum(j.bytes_written for j in js),
            "driver_gap_s": max(0.0, s.seconds - busy),
        }
    return out


def layer_costs(
    spans: list[Span], costs: dict[str, dict], layer: str, ops: list[int]
) -> dict[str, float]:
    """Mean per op over ``ops`` of the layer's span time and job costs.
    Each job belongs to exactly one span, so none is counted twice."""
    picked = [s for s in spans if s.layer == layer and s.op in ops]
    n = max(1, len(ops))
    agg = {"s": sum(s.seconds for s in picked) / n}
    for key in ("jobs", "task_s", "shuffle_bytes", "spill_bytes",
                "bytes_written", "driver_gap_s"):
        agg[key] = sum(costs.get(s.id, {}).get(key, 0) for s in picked) / n
    return agg
