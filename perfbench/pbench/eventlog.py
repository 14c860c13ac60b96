"""Stdlib-only folder of Spark event logs, by job group.

Reads the rolling ``eventlog_v2_*/events_<n>_*`` directories Spark 4
writes, uncompressed
(``spark.eventLog.compress=false``). Jobs map to their job group through
``SparkListenerJobStart`` properties; stages map to jobs; every
``SparkListenerTaskEnd`` is folded into its stage's group: task metrics,
failed tasks, and the SQL accumulables Python UDF operators publish.
"""

from __future__ import annotations

import json
import os
import re

# counter -> unit
COUNTERS = {
    "tasks": "count",
    "task_failures": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "fetch_wait_s": "s",
    "spill_bytes": "bytes",
    "python_worker_s": "s",
    "bytes_to_python": "bytes",
    "bytes_from_python": "bytes",
}

# SQL accumulables (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas...)
_PY_ACCUMS = {
    "time to run Python workers": ("python_worker_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
}

_ROLL = re.compile(r"^events_(\d+)_")


def event_files(root: str) -> list[str]:
    """Every event file under ``root``, rolled parts in index order."""
    out = []
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        if os.path.isdir(p) and name.startswith("eventlog_v2_"):
            parts = [n for n in os.listdir(p) if _ROLL.match(n)]
            parts.sort(key=lambda n: int(_ROLL.match(n).group(1)))
            out += [os.path.join(p, n) for n in parts]
    return out


def _task_counters(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    rd = tm.get("Shuffle Read Metrics") or {}
    wr = tm.get("Shuffle Write Metrics") or {}
    c = {
        "tasks": 1,
        "task_failures": 0 if ev.get("Task End Reason", {}).get("Reason") == "Success" else 1,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "fetch_wait_s": rd.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "python_worker_s": 0.0,
        "bytes_to_python": 0,
        "bytes_from_python": 0,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = _PY_ACCUMS.get(acc.get("Name"))
        if hit and "Update" in acc:
            c[hit[0]] += float(acc["Update"]) * hit[1]
    return c


def fold(root: str) -> dict[str, dict[str, float]]:
    """{job group: {counter: total}}; jobs without a group fold into ''."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = {}
    for path in event_files(root):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    g = stage_group.get(ev.get("Stage ID"), "")
                    acc = groups.setdefault(g, dict.fromkeys(COUNTERS, 0))
                    for k, v in _task_counters(ev).items():
                        acc[k] += v
    return groups
