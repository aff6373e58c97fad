"""Tracing for the benchmark's traced run.

Three sources, all public or on local disk:

- spans the benchmark records around its own calls into the engine
  (``Tracer``), kept in memory and written out once at exit;
- job, stage and task counts from Spark's ``StatusTracker``, one job
  group per lane and phase (``tracker_counts``);
- shuffle, spill, GC, scan, output and Python-worker figures from the
  local Spark event log (``read_event_log``), attributed to the same job
  groups through each stage's, or each SQL execution's, properties.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# Plan nodes at the Python boundary (ArrowEvalPython, MapInPandas,
# MapInArrow, FlatMapGroupsInPandas, ...) have one of these in their name.
PYTHON_NODE_MARKS = ("Python", "Pandas", "InArrow")


class Tracer:
    """In-memory span recorder; every method is a no-op when disabled."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> list[tuple[dict, float]]:
        """Each span with its self time: duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [(s, s["end"] - s["start"] - child[s["id"]]) for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def tracker_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and tasks completed under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [i for i in (st.getStageInfo(s) for s in stages) if i is not None and i.numCompletedTasks]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(i.numCompletedTasks for i in ran),
    }


def _walk_plan(node: dict, out: dict[int, str]) -> None:
    py = any(p in node.get("nodeName", "") for p in PYTHON_NODE_MARKS)
    for m in node.get("metrics", []):
        if m["name"] == "size of files read":
            out[m["accumulatorId"]] = "scan_b"
        elif py and m["name"] == "number of output rows":
            out[m["accumulatorId"]] = "python_rows"
        elif m["name"] == "time to run Python workers":
            out[m["accumulatorId"]] = "python_ns" if m.get("metricType") == "nsTiming" else "python_ms"
    for c in node.get("children", []):
        _walk_plan(c, out)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group task totals from a local, uncompressed event log."""
    stage_group: dict[int, str] = {}
    execution_group: dict[str, str] = {}
    accums: dict[int, str] = {}
    tasks: list[dict] = []
    driver_updates: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if "spark.sql.execution.id" in props:
                    execution_group[props["spark.sql.execution.id"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev.get("sparkPlanInfo") or {}, accums)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in tasks:
        group = stage_group.get(ev["Stage ID"])
        if group is None:
            continue
        m = ev.get("Task Metrics") or {}
        acc = out[group]
        acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
        acc["scan_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        acc["write_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            kind = accums.get(a.get("ID"))
            if kind is not None:
                acc[kind] += float(a.get("Update") or 0)
    # file-scan sizes are driver-side metrics, posted per SQL execution
    for ev in driver_updates:
        group = execution_group.get(str(ev["executionId"]))
        for acc_id, value in ev["accumUpdates"]:
            if group is not None and accums.get(acc_id) == "scan_b":
                out[group]["scan_b"] += value
    for acc in out.values():
        acc["python_s"] = acc.pop("python_ns", 0.0) / 1e9 + acc.pop("python_ms", 0.0) / 1e3
    return out
