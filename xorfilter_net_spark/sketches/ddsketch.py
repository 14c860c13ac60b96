"""Mergeable DDSketch (relative-error quantiles; north_rule family).

DDSketch (Masson, Rim & Lee, "DDSketch: A Fast and Fully-Mergeable
Quantile Sketch with Relative-Error Guarantees", VLDB 2019) buckets a
positive value v into index ceil(log_gamma(v)) with gamma = (1+a)/(1-a);
the bucket midpoint 2*gamma^i/(gamma+1) is then within relative error a
of every value in the bucket. Unlike KLL/t-digest, whose merged states
only agree with a single-pass state *within the error bound*, a DDSketch
merge is plain bucket-count addition — associative, commutative, and
**bit-identical under any partitioning** (property-tested), which makes
it the best-behaved member of the quantile family for the two-phase
mapInPandas -> driver-merge execution shape (sketches/base.py).

Published guarantee (validation target, tests/test_sketches.py):
|quantile(q) - x_q| <= a * x_q for every q whose rank item landed in a
non-collapsed bucket. Bucket collapse (lowest positive buckets fold into
their neighbor when the store exceeds ``max_bins``) trades the guarantee
at the extreme low quantiles for a hard memory cap, exactly as in the
paper; at max_bins=2048 and a=0.01 the store covers ~10^17 of dynamic
range before any collapse happens.

Zero and negative values are legal: zeros get a dedicated counter,
negatives a mirrored store (paper section 3.3), so the sketch is total
over float64 (NaNs are dropped, matching the other value sketches).

No reference counterpart (the reference is a membership-filter library);
the two-phase execution shape mirrors the XOR build's partition-parallel
digest pass (/root/reference/XORFilter.Net/BaseXorFilter.cs:21-81 is
driver-sequential; our analog distributes everything but the O(bins)
finish).
"""

from __future__ import annotations

import math
import pickle
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


@dataclass
class DdState:
    pos: dict = field(default_factory=dict)  # bucket index -> count (v > 0)
    neg: dict = field(default_factory=dict)  # bucket index -> count (on -v, v < 0)
    zeros: int = 0
    n: int = 0


class DDSketch:
    def __init__(
        self,
        alpha: float = 0.01,
        value_col: str | None = None,
        max_bins: int = 2048,
    ):
        assert 0.0 < alpha < 1.0
        self.alpha = alpha
        self.value_col = value_col
        self.max_bins = max_bins
        self.gamma = (1.0 + alpha) / (1.0 - alpha)
        self._mult = 1.0 / math.log(self.gamma)

    def zero(self) -> DdState:
        return DdState()

    # -- bucket math ---------------------------------------------------------
    def _indices(self, v: np.ndarray) -> np.ndarray:
        """Bucket indices for strictly positive v (vectorized)."""
        return np.ceil(np.log(v) * self._mult).astype(np.int64)

    def _midpoint(self, i: int) -> float:
        return 2.0 * self.gamma**i / (self.gamma + 1.0)

    @staticmethod
    def _accumulate(store: dict, v: np.ndarray) -> None:
        idx, cnt = np.unique(v, return_counts=True)
        for i, c in zip(idx.tolist(), cnt.tolist()):
            store[i] = store.get(i, 0) + c

    def _collapse(self, st: DdState) -> None:
        """Fold lowest positive (then highest-index negative) buckets until
        the store fits max_bins — the paper's collapse rule: the guarantee
        survives for every quantile above the collapsed mass."""
        while len(st.pos) + len(st.neg) > self.max_bins:
            if st.pos and len(st.pos) >= 2:
                lo = min(st.pos)
                nxt = min(k for k in st.pos if k != lo)
                st.pos[nxt] += st.pos.pop(lo)
            elif st.neg and len(st.neg) >= 2:
                # mirrored store: highest index = most negative = lowest value
                hi = max(st.neg)
                nxt = max(k for k in st.neg if k != hi)
                st.neg[nxt] += st.neg.pop(hi)
            else:
                return

    # -- MergeableSketch protocol --------------------------------------------
    def update(self, st: DdState, pdf: pd.DataFrame) -> DdState:
        col = self.value_col or pdf.columns[0]
        v = pdf[col].to_numpy(dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return st
        pos = v[v > 0.0]
        neg = v[v < 0.0]
        st.zeros += int(v.size - pos.size - neg.size)
        if pos.size:
            self._accumulate(st.pos, self._indices(pos))
        if neg.size:
            self._accumulate(st.neg, self._indices(-neg))
        st.n += int(v.size)
        self._collapse(st)
        return st

    def merge(self, a: DdState, b: DdState) -> DdState:
        out = DdState(zeros=a.zeros + b.zeros, n=a.n + b.n)
        for src in (a.pos, b.pos):
            for i, c in src.items():
                out.pos[i] = out.pos.get(i, 0) + c
        for src in (a.neg, b.neg):
            for i, c in src.items():
                out.neg[i] = out.neg.get(i, 0) + c
        self._collapse(out)
        return out

    def serialize(self, st: DdState) -> bytes:
        def pack(store: dict) -> tuple[bytes, bytes]:
            ks = np.fromiter(store.keys(), dtype=np.int64, count=len(store))
            vs = np.fromiter(store.values(), dtype=np.int64, count=len(store))
            order = np.argsort(ks)
            return ks[order].tobytes(), vs[order].tobytes()

        return pickle.dumps(
            (self.alpha, pack(st.pos), pack(st.neg), st.zeros, st.n)
        )

    def deserialize(self, blob: bytes) -> DdState:
        alpha, pos_raw, neg_raw, zeros, n = pickle.loads(blob)
        assert alpha == self.alpha, "merging incompatible DDSketch alpha"

        def unpack(raw: tuple[bytes, bytes]) -> dict:
            ks = np.frombuffer(raw[0], dtype=np.int64)
            vs = np.frombuffer(raw[1], dtype=np.int64)
            return dict(zip(ks.tolist(), vs.tolist()))

        return DdState(pos=unpack(pos_raw), neg=unpack(neg_raw), zeros=zeros, n=n)

    # -- queries --------------------------------------------------------------
    def quantile(self, st: DdState, q: float) -> float:
        """Value at rank floor(q*(n-1)) within relative error alpha."""
        if st.n == 0:
            return math.nan
        q = min(max(q, 0.0), 1.0)
        rank = int(math.floor(q * (st.n - 1)))
        cum = 0
        # ascending value order: most-negative first (mirrored store,
        # descending index), then zeros, then positives ascending.
        for i in sorted(st.neg, reverse=True):
            cum += st.neg[i]
            if cum > rank:
                return -self._midpoint(i)
        cum += st.zeros
        if cum > rank:
            return 0.0
        for i in sorted(st.pos):
            cum += st.pos[i]
            if cum > rank:
                return self._midpoint(i)
        # unreachable unless counters disagree with n
        return self._midpoint(max(st.pos)) if st.pos else 0.0

    def count(self, st: DdState) -> int:
        return st.n
