"""Spans recorded around each layer boundary and the Spark event-log
counters of the traced run, reduced to per-layer metrics.

A span is ``(name, start, end, parent, query)``: wall-clock seconds since
the epoch (the event log's clock), the index of its parent span, and the
query execution it belongs to.  Spark jobs carry a ``<label>:build`` or
``<label>:exec`` job description set on the client's own thread
(``setJobDescription`` is thread-local), which ties every job, stage,
task and SQL metric to one query execution and to the builder call or
the materialisation inside it.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None


class Spans:
    """In-memory span store shared by client threads; written at exit."""

    def __init__(self) -> None:
        self._spans: list[Span] = []
        self._lock = threading.Lock()

    def open(self, name: str, parent: int | None = None, query: str | None = None) -> int:
        """Start a span; its end stays NaN unless ``close`` is called."""
        with self._lock:
            self._spans.append(Span(name, time.time(), float("nan"), parent, query))
            return len(self._spans) - 1

    def close(self, idx: int) -> None:
        with self._lock:
            self._spans[idx].end = time.time()

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as fh:
            for s in self._spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


# pyspark's Python exec-node SQL metrics (PythonSQLMetrics) by display name
PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_received_mb",
    "number of output rows": "python_rows",
}
_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _python_accumulators(plan: dict, out: dict) -> None:
    """accumulator id -> (metric key, metric type) for Python exec nodes."""
    name = plan.get("nodeName", "")
    if any(m in name for m in _PY_NODE_MARKERS):
        for m in plan.get("metrics", []):
            key = PYTHON_METRICS.get(m.get("name"))
            if key:
                out[m["accumulatorId"]] = (key, m.get("metricType", ""))
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _scale(value: float, key: str, mtype: str) -> float:
    if key.endswith("_mb"):
        return value / 1e6
    if key.endswith("_s"):
        return value / 1e9 if mtype == "nsTiming" else value / 1e3
    return value


@dataclass
class EventLog:
    jobs: dict          # job id -> {label, t0, t1, stages}
    stages: dict        # stage id -> {t0, t1}
    task_metrics: dict  # label -> summed task counters
    python: dict        # label -> summed python SQL metrics


def parse_event_log(path: str) -> EventLog:
    jobs, stages = {}, {}
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    py_acc: dict[int, tuple[str, str]] = {}
    tasks: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    python: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        events = [json.loads(line) for line in fh]
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = props.get("spark.job.description", "")
            jobs[ev["Job ID"]] = {"label": label, "t0": ev["Submission Time"] / 1e3,
                                  "t1": None, "stages": ev.get("Stage IDs", [])}
            for sid in ev.get("Stage IDs", []):
                stage_label[sid] = label
            if "spark.sql.execution.id" in props:
                exec_label[int(props["spark.sql.execution.id"])] = label
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                stages[si["Stage ID"]] = {"t0": si["Submission Time"] / 1e3,
                                          "t1": si["Completion Time"] / 1e3}
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev["Stage ID"], "")
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            t = tasks[label]
            t["tasks"] += 1
            t["ok"] += (ev.get("Task End Reason") or {}).get("Reason") == "Success"
            run_ms = tm.get("Executor Run Time", 0)
            t["executor_run_s"] += run_ms / 1e3
            t["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            wall = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            busy = (run_ms + tm.get("Executor Deserialize Time", 0)
                    + tm.get("Result Serialization Time", 0))
            t["scheduler_delay_s"] += max(0, wall - busy) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 1e6
            t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            t["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)) / 1e6
            t["result_mb"] += tm.get("Result Size", 0) / 1e6
            for acc in ti.get("Accumulables", []):
                key = py_acc.get(acc.get("ID"))
                if key and isinstance(acc.get("Update"), (int, float, str)):
                    python[label][key[0]] += _scale(float(acc["Update"]), *key)
        elif kind.endswith("DriverAccumUpdates"):
            label = exec_label.get(ev.get("executionId"), "")
            for acc_id, value in ev.get("accumUpdates", []):
                key = py_acc.get(acc_id)
                if key:
                    python[label][key[0]] += _scale(float(value), *key)
    return EventLog(jobs, stages, dict(tasks), dict(python))


def job_stats(log: EventLog, label: str) -> dict:
    """Jobs carrying ``label``: count, union wall, and driver gap (job wall
    minus the union of its stages' walls)."""
    mine = [j for j in log.jobs.values() if j["label"] == label and j["t1"] is not None]
    gap = 0.0
    for j in mine:
        st = [(log.stages[s]["t0"], log.stages[s]["t1"]) for s in j["stages"] if s in log.stages]
        gap += (j["t1"] - j["t0"]) - _union(st)
    return {
        "jobs": len(mine),
        "wall_s": _union([(j["t0"], j["t1"]) for j in mine]),
        "gap_s": gap,
    }
