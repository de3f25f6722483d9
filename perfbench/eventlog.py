"""Per-job-group counters from an uncompressed Spark event log.

The traced benchmark run tags every span with its own Spark job group
(``SparkContext.setJobGroup``) and writes an event log with
``spark.eventLog.compress=false``.  This module reads that log back and sums,
per job group:

* jobs, stages and tasks;
* executor run time and executor CPU time (the JVM share of task time;
  ``python_share = 1 - cpu / run`` is the time a task spent waiting on its
  Python worker or on I/O);
* shuffle bytes written and read, memory + disk spill, and JVM GC time;
* ``python_rows``: output rows of the Python plan nodes (MapInPandas,
  MapInArrow, ArrowEvalPython, ...), summed from the SQL-metric accumulator
  updates that the tasks of the group reported;
* ``python_worker_s``: the SQL metric "time to run Python workers" of those
  nodes.

Stages that a job skips (cached or reused shuffle output) report no task
end events, so they add nothing.  Only the standard library is used.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# plan nodes whose tasks cross into a Python worker
PYTHON_NODE_MARKERS = ("InPandas", "InArrow", "EvalPython", "PythonUDTF",
                       "PythonMapIn")

COUNTERS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
            "python_rows", "python_worker_s")


def is_python_node(node_name: str) -> bool:
    return any(m in node_name for m in PYTHON_NODE_MARKERS)


def event_log_files(path: str) -> list[str]:
    """The event files behind ``path``: a single log file, a rolling
    ``eventlog_v2_*`` directory (its ``events_<n>_*`` parts in order), or a
    directory holding one application's log."""
    if os.path.isfile(path):
        return [path]
    names = sorted(os.listdir(path))
    parts = [n for n in names if n.startswith("events_")]
    if parts:
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in parts]
    out: list[str] = []
    for n in names:
        if n.startswith(".") or n.startswith("appstatus_"):
            continue
        out.extend(event_log_files(os.path.join(path, n)))
    return out


def read_events(path: str):
    for f in event_log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _python_row_accumulators(plan: dict, rows: set[int], worker_ms: set[int]) -> None:
    if is_python_node(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                rows.add(int(m["accumulatorId"]))
            elif m.get("name") == "time to run Python workers":
                worker_ms.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_accumulators(child, rows, worker_ms)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def group_counters(path: str) -> dict[str, dict[str, float]]:
    """``{job_group_id: {counter: value}}`` for every job group in the log.

    Jobs without a group are reported under the empty-string key."""
    events = list(read_events(path))
    py_rows_ids: set[int] = set()
    py_worker_ids: set[int] = set()
    for e in events:
        if "sparkPlanInfo" in e:   # SQLExecutionStart / AdaptiveExecutionUpdate
            _python_row_accumulators(e["sparkPlanInfo"], py_rows_ids,
                                     py_worker_ids)

    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {c: 0.0 for c in COUNTERS})
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
        out[group]["jobs"] += 1
        for sid in e.get("Stage IDs", []):
            stage_group[int(sid)] = group

    mb = 1024.0 * 1024.0
    seen_stages: set[tuple[int, int]] = set()
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = int(e["Stage ID"])
        group = stage_group.get(sid, "")
        c = out[group]
        key = (sid, int(e.get("Stage Attempt ID", 0)))
        if key not in seen_stages:
            seen_stages.add(key)
            c["stages"] += 1
        c["tasks"] += 1
        m = e.get("Task Metrics") or {}
        c["exec_run_s"] += _num(m.get("Executor Run Time")) / 1e3
        c["exec_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
        c["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
        c["spill_mb"] += (_num(m.get("Memory Bytes Spilled"))
                          + _num(m.get("Disk Bytes Spilled"))) / mb
        sw = m.get("Shuffle Write Metrics") or {}
        c["shuffle_write_mb"] += _num(sw.get("Shuffle Bytes Written")) / mb
        sr = m.get("Shuffle Read Metrics") or {}
        c["shuffle_read_mb"] += (_num(sr.get("Remote Bytes Read"))
                                 + _num(sr.get("Local Bytes Read"))) / mb
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            acc_id = int(acc.get("ID", -1))
            if acc_id in py_rows_ids:
                c["python_rows"] += _num(acc.get("Update"))
            elif acc_id in py_worker_ids:
                c["python_worker_s"] += _num(acc.get("Update")) / 1e3
    return dict(out)


def python_share(counters: dict[str, float]) -> float | None:
    """Share of executor run time spent outside JVM CPU (None when no task
    ran)."""
    run = counters.get("exec_run_s", 0.0)
    if run <= 0:
        return None
    return max(0.0, 1.0 - counters.get("exec_cpu_s", 0.0) / run)
