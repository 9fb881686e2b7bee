"""Tracing from outside the program.

A traced run times the benchmark's own calls into each layer's public
functions (spans) and tags every timed operation with a Spark job group,
``perfbench-op-<n>``, which is the span id that ties the engine's jobs and
stages to the operation that caused them. Spans stay in memory; the Spark
side is read once, after the traced window, from the status store behind
the Spark UI's REST API on localhost.

An untraced run uses a disabled ``Tracer``: spans cost one attribute test
and no job group is set.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlparse

GROUP_PREFIX = "perfbench-op-"


@dataclass
class Span:
    op: int  # the timed op it belongs to; -1 outside ops (set-up)
    name: str
    parent: str | None
    start: float  # time.time(), the clock Spark stamps stages with
    end: float


@dataclass
class OpRecord:
    op: int
    label: str
    start: float
    end: float


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    ops: list[OpRecord] = field(default_factory=list)
    _op: int = -1
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(self._op, name, parent, t0, time.time()))

    @contextmanager
    def op(self, sc, n: int, label: str):
        """One timed operation; its Spark jobs carry the op's job group."""
        if not self.enabled:
            yield
            return
        self._op = n
        sc.setJobGroup(f"{GROUP_PREFIX}{n}", label)
        t0 = time.time()
        try:
            with self.span("op"):
                yield
        finally:
            self.ops.append(OpRecord(n, label, t0, time.time()))
            sc.setJobGroup("perfbench-untraced", "outside timed ops")
            self._op = -1

    def total(self, name: str, op: int | None = None) -> float:
        return sum(s.end - s.start for s in self.spans
                   if s.name == name and (op is None or s.op == op))


def _epoch(stamp: str) -> float:
    # the REST API's "2026-01-01T10:00:00.123GMT"
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(t.timetuple()) + t.microsecond / 1e6


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as resp:
        return json.load(resp)


def spark_counters(sc, tracer: Tracer, cores: int) -> dict[str, float]:
    """Per-op engine counters for the traced ops, from the status store:
    jobs, stages, tasks, shuffle/input/spill MB, GC seconds, executor
    busy share, and the driver's own time (op wall not covered by any of
    the op's stages)."""
    port = urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    groups = {f"{GROUP_PREFIX}{r.op}": r for r in tracer.ops}
    # the status listener runs behind an event queue: wait until every
    # traced job has been recorded as finished
    for _ in range(100):
        jobs = [j for j in _get(base, "/jobs") if j.get("jobGroup") in groups]
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.1)
    stages = {s["stageId"]: s for s in _get(base, "/stages?status=complete")}
    per_op: dict[int, set[int]] = {r.op: set() for r in tracer.ops}
    n_jobs = 0
    for j in jobs:
        n_jobs += 1
        per_op[groups[j["jobGroup"]].op].update(i for i in j["stageIds"] if i in stages)

    n_ops = max(1, len(tracer.ops))
    wall = sum(r.end - r.start for r in tracer.ops)
    tot = dict.fromkeys(("stages", "tasks", "run_s", "gc_s", "sw", "sr", "inp", "spill"), 0.0)
    driver_self = 0.0
    for rec in tracer.ops:
        intervals = []
        for sid in per_op[rec.op]:
            s = stages[sid]
            tot["stages"] += 1
            tot["tasks"] += s["numCompleteTasks"]
            tot["run_s"] += s["executorRunTime"] / 1e3
            tot["gc_s"] += s["jvmGcTime"] / 1e3
            tot["sw"] += s["shuffleWriteBytes"]
            tot["sr"] += s["shuffleReadBytes"]
            tot["inp"] += s["inputBytes"]
            tot["spill"] += s["diskBytesSpilled"]
            if "submissionTime" in s and "completionTime" in s:
                lo = max(rec.start, _epoch(s["submissionTime"]))
                hi = min(rec.end, _epoch(s["completionTime"]))
                if hi > lo:
                    intervals.append((lo, hi))
        driver_self += (rec.end - rec.start) - _covered(intervals)
    mb = 1024 * 1024
    return {
        "driver.self_s_per_op": driver_self / n_ops,
        "spark.jobs_per_op": n_jobs / n_ops,
        "spark.stages_per_op": tot["stages"] / n_ops,
        "spark.tasks_per_op": tot["tasks"] / n_ops,
        "spark.shuffle_write_mb_per_op": tot["sw"] / mb / n_ops,
        "spark.shuffle_read_mb_per_op": tot["sr"] / mb / n_ops,
        "spark.input_mb_per_op": tot["inp"] / mb / n_ops,
        "spark.spill_mb_per_op": tot["spill"] / mb / n_ops,
        "spark.gc_s_per_op": tot["gc_s"] / n_ops,
        "spark.core_busy_frac": tot["run_s"] / (wall * cores) if wall > 0 else 0.0,
    }


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [lo, hi) intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total
