"""Median-and-count reporting for per-run samples."""

from __future__ import annotations

import math
import statistics


def high_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with at least ten samples
    above it, or None when there are fewer than twenty samples."""
    n = len(values)
    if n < 20:
        return None
    p = math.floor(100 * (n - 10) / n)
    xs = sorted(values)
    return p / 100, xs[min(n - 1, math.ceil(p / 100 * n) - 1)]


class Report:
    """Named metrics, each the median of its samples in one run."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.units: dict[str, str] = {}

    def add(self, name: str, unit: str, value: float) -> None:
        self.units.setdefault(name, unit)
        if self.units[name] != unit:
            raise ValueError(f"{name}: unit {unit!r} != {self.units[name]!r}")
        self.samples.setdefault(name, []).append(float(value))

    def value(self, name: str) -> float:
        return statistics.median(self.samples[name])

    def metrics(self, names=None) -> dict:
        names = self.samples if names is None else names
        return {n: {"value": self.value(n), "unit": self.units[n]} for n in names}

    def lines(self) -> list[str]:
        out = []
        for n in sorted(self.samples):
            xs = self.samples[n]
            hp = high_percentile(xs)
            tail = f"  p{round(hp[0] * 100)}={hp[1]:.6g}" if hp else ""
            out.append(f"{n:<40} {self.value(n):>14.6g} {self.units[n]:<8} n={len(xs)}{tail}")
        return out
