"""Fold a Spark event log into per-job-group counters.

Reads the uncompressed JSON-lines log that ``spark.eventLog.enabled``
writes (one file, or the ``events_<n>_*`` parts of a rolling log) and
sums task metrics by the job group of the stage that ran them. The
Python lane is read from the SQL metrics of every plan node that sends
data to Python workers (``MapInPandas``, ``FlatMapCoGroupsInPandas``,
``ArrowEvalPython`` and the like), including the nodes of plans that
adaptive execution re-planned.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

_PY_MARKER = "data sent to Python workers"
_PY_METRICS = {
    "number of output rows": "rows",
    "data sent to Python workers": "bytes_sent",
    "time to run Python workers": "exec_ms",
}
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)

FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read", "shuffle_write", "spill", "input_bytes", "input_records",
)


def log_files(path: str) -> list[str]:
    """The event-log files under ``path``, in write order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        found += [os.path.join(root, n) for n in names
                  if not n.startswith(".") and not n.startswith("appstatus")]

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)

    return sorted(found, key=order)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Map accumulator id → Python-lane field for every Python node."""
    metrics = plan.get("metrics", [])
    if any(m["name"] == _PY_MARKER for m in metrics):
        for m in metrics:
            if m["name"] in _PY_METRICS:
                out[m["accumulatorId"]] = _PY_METRICS[m["name"]]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def fold(events) -> dict:
    """``{"groups": {group: {field: n}}, "python": {field: n}}`` from an
    iterable of decoded events."""
    groups: dict[str, dict[str, int]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0)
    )
    stage_group: dict[int, str] = {}
    py_ids: dict[int, str] = {}
    py_updates: list[tuple[int, int]] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            groups[_group(ev)]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = _group(ev)
            groups[stage_group[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            _add_task(g, ev)
            for acc in ev["Task Info"].get("Accumulables", []):
                if "Update" in acc:
                    py_updates.append((acc["ID"], _num(acc["Update"])))
        elif kind in _SQL_PLAN_EVENTS:
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            py_updates += [(int(i), int(v)) for i, v in ev["accumUpdates"]]
    python = dict.fromkeys(_PY_METRICS.values(), 0)
    for acc_id, value in py_updates:
        if acc_id in py_ids:
            python[py_ids[acc_id]] += value
    return {"groups": dict(groups), "python": python}


def read(path: str) -> dict:
    def events():
        for f in log_files(path):
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)

    return fold(events())


def _group(ev: dict) -> str:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _add_task(g: dict[str, int], ev: dict) -> None:
    g["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        g["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    g["run_ms"] += m.get("Executor Run Time", 0)
    g["cpu_ns"] += m.get("Executor CPU Time", 0)
    g["gc_ms"] += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics", {})
    g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    g["spill"] += m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics", {})
    g["input_bytes"] += inp.get("Bytes Read", 0)
    g["input_records"] += inp.get("Records Read", 0)


def total(groups: dict[str, dict[str, int]], match=lambda g: True) -> dict[str, int]:
    """Sum of the counters of every group for which ``match`` holds."""
    out = dict.fromkeys(FIELDS, 0)
    for name, g in groups.items():
        if match(name):
            for k in FIELDS:
                out[k] += g[k]
    return out
