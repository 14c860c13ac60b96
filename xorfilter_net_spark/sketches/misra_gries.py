"""Mergeable Misra-Gries heavy-hitters summary (north_rule family).

Tracks at most ``k`` (key, count) pairs. The batch/merge form (Agarwal
et al., "Mergeable Summaries", PODS 2012) adds counters pointwise, then
shrinks back to ``k`` entries by subtracting the (k+1)-largest count
from every counter and dropping the non-positive ones.

Published error contract (validated in tests/test_sketches.py):
- estimates never OVERcount: ``est(x) <= true(x)``;
- undercount is bounded: ``true(x) - est(x) <= N / (k + 1)`` where N is
  the total stream length — and the bound survives ARBITRARY merge
  trees (that is the mergeable-summaries result), so two-phase
  partition-parallel aggregation preserves it;
- every x with ``true(x) > N/(k+1)`` is retained (no false dismissal of
  a heavy hitter);
- with fewer than ``k`` distinct keys no shrink ever fires and counts
  are EXACT — the driver-contract query exploits this for a value-exact
  DuckDB oracle.

Like the other sketches this is dict-arithmetic per BATCH (pandas
``value_counts`` is the vectorized inner loop), one state per partition
collected to the driver and merged there (``sketches/base.py``).
"""

from __future__ import annotations

import pickle

import pandas as pd


class MisraGriesSketch:
    def __init__(self, k: int = 256, key_col: str | None = None):
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        self.k = k
        self.key_col = key_col

    # state: (counters: dict[key, int], n_total: int)
    def zero(self):
        return ({}, 0)

    def _shrink(self, counters: dict) -> dict:
        if len(counters) <= self.k:
            return counters
        # subtract the (k+1)-largest count from everyone; at most k
        # entries can stay positive
        m = sorted(counters.values(), reverse=True)[self.k]
        return {key: c - m for key, c in counters.items() if c > m}

    def update(self, state, pdf: pd.DataFrame):
        counters, n = state
        col = self.key_col or pdf.columns[0]
        vc = pdf[col].value_counts()
        counters = dict(counters)
        for key, c in vc.items():
            counters[key] = counters.get(key, 0) + int(c)
        return self._shrink(counters), n + int(vc.sum())

    def merge(self, a, b):
        ca, na = a
        cb, nb = b
        out = dict(ca)
        for key, c in cb.items():
            out[key] = out.get(key, 0) + c
        return self._shrink(out), na + nb

    def serialize(self, state) -> bytes:
        return pickle.dumps((self.k, state))

    def deserialize(self, blob: bytes):
        k, state = pickle.loads(blob)
        assert k == self.k, "merging incompatible Misra-Gries widths"
        return state

    def finish(self, state) -> dict:
        """{key: estimated count}, every estimate in [true - N/(k+1), true]."""
        counters, _ = state
        return dict(counters)

    def heavy_hitters(self, state, phi: float) -> dict:
        """Candidates for true(x) > phi*N. Complete (no heavy hitter is
        missing) whenever phi > 1/(k+1); may include borderline items
        whose true count is as low as (phi - 1/(k+1)) * N."""
        counters, n = state
        floor = phi * n - n / (self.k + 1)
        return {key: c for key, c in counters.items() if c > floor}
