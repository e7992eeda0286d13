"""Spans and Spark event-log folding for the traced run.

Spans are recorded by the benchmark around its own calls into each layer
(name, start, end, parent, op id) and kept in memory until the run ends.
With tracing off every method is a cheap no-op, so the untraced run that
gives the end-to-end metrics pays nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._op = None
        self._next_id = itertools.count(1)

    @contextlib.contextmanager
    def op(self, op_id: str):
        """Group the spans of one build, query or pass under one id."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextlib.contextmanager
    def span(self, name: str, spark=None):
        """Time a call. With `spark`, its jobs are tagged with the span's
        id as their job group, so the event log can be folded onto it."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        rec = {"id": next(self._next_id), "name": name, "op": self._op,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.time()}
        stack.append(rec)
        if spark is not None:
            spark.sparkContext.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if spark is not None:
                spark.sparkContext.setJobGroup("", "")
            self.spans.append(rec)

    def record(self, name: str, start: float, end: float,
               parent: dict | None, **extra) -> None:
        """A finished span timed elsewhere, possibly on another thread."""
        self.spans.append({"id": next(self._next_id), "name": name,
                           "op": parent["op"] if parent else self._op,
                           "parent": parent["id"] if parent else None,
                           "start": start, "end": end, **extra})

    def children(self) -> dict:
        """parent id -> its child spans."""
        out: dict = defaultdict(list)
        for s in self.spans:
            out[s["parent"]].append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def patched(obj, attr: str, wrap):
    """Replace obj.attr with wrap(original) for the duration."""
    orig = getattr(obj, attr)
    setattr(obj, attr, wrap(orig))
    try:
        yield orig
    finally:
        setattr(obj, attr, orig)


def span_s(span: dict) -> float:
    return span["end"] - span["start"]


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

class EventLog:
    """Jobs, stages and task metrics from an uncompressed, non-rolling
    Spark event log, indexed by job group."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id", ""),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e.get("Stage IDs", [])),
            }
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            if info.get("Submission Time") and info.get("Completion Time"):
                st["wall"] = (info["Completion Time"]
                              - info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = self._stage(e["Stage ID"])
            st["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            st["max_task"] = max(st["max_task"],
                                 m.get("Executor Run Time", 0) / 1000.0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0)

    def _stage(self, sid: int) -> dict:
        if sid not in self.stages:
            self.stages[sid] = {"cpu": 0.0, "max_task": 0.0, "wall": 0.0,
                                "shuffle_write": 0, "spill": 0}
        return self.stages[sid]

    def fold(self, span: dict) -> dict:
        """Spark work of the jobs tagged with this span's group: job count,
        time inside jobs (union of job intervals within the span, so it
        can never exceed the span's own wall time) and stage totals."""
        group = f"span-{span['id']}"
        jobs = [j for j in self.jobs.values()
                if j["group"] == group and j["end"] is not None]
        ivs = [(max(j["start"], span["start"]), min(j["end"], span["end"]))
               for j in jobs]
        in_job = union_length([(a, b) for a, b in ivs if b > a])
        stage_ids = {s for j in jobs for s in j["stages"]
                     if s in self.stages}
        st = [self.stages[s] for s in stage_ids]
        wall = span["end"] - span["start"]
        return {
            "jobs": len(jobs),
            "wall_s": wall,
            "in_job_s": in_job,
            "outside_job_s": wall - in_job,
            "task_cpu_s": sum(s["cpu"] for s in st),
            "max_task_s": max((s["max_task"] for s in st), default=0.0),
            "largest_stage_s": max((s["wall"] for s in st), default=0.0),
            "shuffle_write_mb": sum(s["shuffle_write"] for s in st) / 1e6,
            "spill_mb": sum(s["spill"] for s in st) / 1e6,
        }


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's query
    execution, from Spark's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)
