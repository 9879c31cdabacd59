"""Tracing for the separate traced run: spans recorded around each call the
benchmark makes into a layer, and the Spark event log attributed to them.

Every span sets the Spark job group to its own id, so each job (and the
stages and tasks under it) in the event log belongs to the innermost span
open when the job was submitted.  Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class NullTracer:
    """The untraced runs' tracer: records nothing."""

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        yield None


class Tracer:
    """Records ``{id, name, parent, op, start, end}`` per span (epoch
    seconds, the event log's clock) and tags Spark jobs with the span id.
    Client threads share one tracer; each thread has its own span stack, as
    each has its own Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """A span named ``name``; ``op`` marks an op's root span, and its
        descendants inherit it."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = self.spans[stack[-1]] if stack else None
        rec = {
            "id": None,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None or parent is None else parent["op"],
            "start": time.time(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if stack:
                top = self.spans[stack[-1]]
                self.sc.setJobGroup(f"span-{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part its direct children cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        return self.duration(span) - _covered(kids, span["start"], span["end"])

    def subtree(self, span: dict) -> set[int]:
        ids = {span["id"]}
        for s in self.spans[span["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class EventLog:
    """Jobs, stages and task metrics from a finished Spark event log."""

    PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
    # a scan's bytes are a driver-side SQL metric: a task's input metrics
    # miss reads made on another thread, as a Python UDF's input feeder does
    FILE_BYTES = "size of files read"

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.file_metric_ids: set[int] = set()
        self.executions: dict[int, dict] = {}  # SQL execution id -> group, updates
        # Spark 4 writes each application's log as a directory of files
        for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    if line.strip():
                        self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid,
            {"group": None, "completed": False, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
             "gc_s": 0.0, "sched_s": 0.0, "shuffle_write": 0,
             "shuffle_read": 0, "spill": 0, "python_bytes": 0},
        )

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[ev["Job ID"]] = {
                "group": group,
                "start": ev["Submission Time"] / 1000.0, "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = {"group": ev.get("jobGroupId"), "acc": {}}
            self._plan_metrics(ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan_metrics(ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            execution = self.executions.get(ev["executionId"])
            if execution is not None:
                for acc_id, value in ev["accumUpdates"]:
                    execution["acc"][acc_id] = value
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            st = self._stage(ev["Stage Info"]["Stage ID"])
            st["group"] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["completed"] = True
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in self.PYTHON_BYTES:
                    st["python_bytes"] += int(acc.get("Value") or 0)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            info = ev["Task Info"]
            st = self._stage(ev["Stage ID"])
            st["tasks"] += 1
            st["run_s"] += m["Executor Run Time"] / 1000.0
            st["cpu_s"] += m["Executor CPU Time"] / 1e9
            st["gc_s"] += m["JVM GC Time"] / 1000.0
            wall = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            st["sched_s"] += max(
                0.0,
                wall
                - (m["Executor Run Time"] + m["Executor Deserialize Time"]
                   + m["Result Serialization Time"]) / 1000.0,
            )
            sw = m.get("Shuffle Write Metrics", {})
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics", {})
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["spill"] += m.get("Disk Bytes Spilled", 0)

    def _plan_metrics(self, node: dict) -> None:
        for m in node.get("metrics", []):
            if m["name"] == self.FILE_BYTES:
                self.file_metric_ids.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._plan_metrics(child)

    def totals(self, span_ids: set[int], lo: float, hi: float) -> dict:
        """Runtime totals over the jobs, stages and SQL executions whose
        group is one of ``span_ids``; ``driver_s`` is ``[lo, hi]`` minus the
        time any such job ran."""
        groups = {f"span-{i}" for i in span_ids}
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        stages = [s for s in self.stages.values() if s["group"] in groups]
        done = [s for s in stages if s["completed"]]
        out = {k: sum(s[k] for s in stages) for k in (
            "tasks", "run_s", "cpu_s", "gc_s", "sched_s",
            "shuffle_write", "shuffle_read", "spill", "python_bytes")}
        out["read_bytes"] = sum(
            value
            for e in self.executions.values()
            if e["group"] in groups
            for acc_id, value in e["acc"].items()
            if acc_id in self.file_metric_ids
        )
        out["jobs"] = len(jobs)
        out["stages"] = len(done)
        busy = _covered([(j["start"], j["end"] or hi) for j in jobs], lo, hi)
        out["driver_s"] = (hi - lo) - busy
        return out
