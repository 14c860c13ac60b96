"""Host context for a run (steal, load, raw CPU) and process memory,
all read from ``/proc``."""

from __future__ import annotations

import os
import time

import numpy as np


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def raw_cpu_ops_per_s(n: int = 1 << 16, reps: int = 200) -> float:
    """A fixed NumPy multiply-add loop; element operations per second."""
    a = np.ones(n)
    t0 = time.perf_counter()
    for _ in range(reps):
        a = a * 1.0000001 + 0.5
    return 2 * n * reps / (time.perf_counter() - t0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(pid: int | None = None) -> dict[str, float]:
    """Peak resident sets (VmHWM, MB) of this process and every live
    descendant, by kind: ``java`` (the JVM), ``python`` (this driver and
    the Python workers) and ``other``; ``total`` is their sum."""
    pid = os.getpid() if pid is None else pid
    out = {"java": 0.0, "python": 0.0, "other": 0.0}
    for p in [pid, *descendants(pid)]:
        comm = _comm(p)
        kind = "java" if comm == "java" else "python" if comm.startswith("python") else "other"
        out[kind] += _hwm_kb(p) / 1024.0
    out["total"] = sum(out.values())
    return out
