"""Binary fuse filter core (3-wise): the published successor to the XOR
filter, same membership contract at ~1.125n slots instead of 1.23n.

The reference library (asarnaout/XORFilter.Net) implements only the XOR
filter (``BaseXorFilter.cs``); this module extends the same family with the
binary fuse construction of Graf & Lemire, "Binary Fuse Filters: Fast and
Smaller Than Xor Filters" (arXiv:2201.01174, ACM JEA 2022). Everything the
XOR core guarantees still holds — zero false negatives, FPR ~= 2^-L,
immutable after build, same-seed determinism — with two scale wins:

- **space**: ``size_factor = max(1.125, 0.875 + 0.25 ln(1e6)/ln(n))``
  slots/key (→1.125 asymptotically) vs the XOR filter's fixed 1.23
  (``BaseXorFilter.cs:31-32``) — at 10^12 keys × 16 bits that is ~190 GB
  less broadcast state across the cluster;
- **locality**: each key's three slots live in three *consecutive
  segments* of length 2^k (a sliding window), so probe gathers touch one
  small contiguous region instead of three uniformly random positions —
  the cache-line argument of §3 of the paper, which is also why the
  segmented hypergraph still peels at the lower load.

Construction reuses the XOR core's batched-round peel and reverse fill
verbatim (``try_peel``/``fill_slots`` are addressing-agnostic); only the
sizing and the slot-index map differ. Addressing follows SURVEY §7 D2: our
own documented deterministic chain (splitmix64 lanes off one attempt seed),
not a bit-copy of any C implementation.

Like the XOR core, this is pure NumPy over deduplicated 128-bit digests —
no Spark dependency; the Spark build/probe wiring is the family-agnostic
layer in ``spark_build.py``, which reaches this family through the
``probe_params`` / ``slot_index`` hook.
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, field
from typing import ClassVar

import numpy as np

from ..kernels.hashes import (
    SPARK_XXHASH64_DEFAULT_SEED,
    derive_attempt_seeds,
    digest128,
    pack_bytes,
    splitmix64,
    xxh64_long,
)
from .xor_core import (
    _DTYPES,
    _MASKS,
    MAX_RETRIES,
    RETRIES_BEFORE_RESIZE,
    XorConstructionError,
    fill_slots,
    fingerprint,
    try_peel,
)

_U64 = np.uint64

ARITY = 3
MAX_SEGMENT_LENGTH = 1 << 18  # cache-friendly cap, per the reference impl
GROWTH = 1.15  # capacity growth on repeated peel failure (mirrors xor_core)

__all__ = ["FuseFilter", "fuse_layout", "build_fuse_from_digests", "build_fuse_from_bytes"]


def fuse_layout(n: int, capacity: int | None = None) -> tuple[int, int, int]:
    """(segment_length, segment_count, array_length) for n unique keys.

    Published sizing (arXiv:2201.01174 §3.2 / the authors' C reference):
    segment_length = 2^floor(ln n / ln 3.33 + 2.25) capped at 2^18;
    capacity = n * max(1.125, 0.875 + 0.25 ln(1e6)/ln n); the array is
    (segment_count + ARITY - 1) whole segments so a window starting in any
    live segment stays in bounds.
    """
    n = max(n, 1)
    sl_log = max(2, int(math.floor(math.log(n) / math.log(3.33) + 2.25)))
    segment_length = min(MAX_SEGMENT_LENGTH, 1 << sl_log)
    if capacity is None:
        size_factor = max(
            1.125, 0.875 + 0.25 * math.log(1e6) / math.log(max(n, 2))
        )
        capacity = int(round(n * size_factor))
    segment_count = max(
        1, (capacity + segment_length - 1) // segment_length - (ARITY - 1)
    )
    array_length = (segment_count + ARITY - 1) * segment_length
    return segment_length, segment_count, array_length


_SQL_SEED = _U64(SPARK_XXHASH64_DEFAULT_SEED)


# -- family hook of the sharded layer (filters/spark_build.py) --------------

def probe_params(meta: dict) -> dict:
    """``slot_index`` parameters of one filter, from its artifact meta (or
    ``vars(filter)``): attempt seed, segment length and segment count."""
    return {k: _U64(meta[k]) for k in ("seed", "segment_length", "segment_count")}


def slot_index(d0: np.ndarray, p: dict, mode: str) -> np.ndarray:
    """(n, 3) slot indices: window segment by fastrange on the high 32 bits
    of one per-key hash ``h``, then one hash lane per in-segment offset.
    The three slots are in DISTINCT consecutive segments, so they are
    always pairwise distinct (the 3-uniform hypergraph needs no dedup per
    edge). ``p`` holds one filter's ``probe_params`` (scalars), or per-key
    arrays of them (the flat sharded probe).

    ``mode='digest'``: ``h = splitmix64(d0 ^ seed)``, lanes are splitmix64
    of ``h`` xor a per-lane constant. ``mode='sqlhash'``: every step is a
    Spark-SQL builtin chain, so the probe runs with ZERO Python
    (``spark_build.probe_sql``), mirroring the XOR core's sqlhash mode
    (SURVEY §7 D9):

    - ``h   = xxhash64(d0, seed)``       (two-column builtin chain)
    - ``q = ((h >>> 32) * segment_count) >> 32`` stays below 2^63, so the
      SQL side needs no unsigned-mod correction at all;
    - ``lane_j = xxhash64(h, j+1)``; the in-segment offset is
      ``lane_j & (segment_length - 1)`` — segment_length is a power of
      two, so the mask works identically on signed longs.
    """
    seed, sl = p["seed"], p["segment_length"]
    if mode == "sqlhash":
        h = xxh64_long(seed, xxh64_long(d0.astype(_U64), _SQL_SEED))
        hh = xxh64_long(h, _SQL_SEED)
    else:
        h = splitmix64(d0.astype(_U64) ^ seed)
    q = ((h >> _U64(32)) * p["segment_count"]) >> _U64(32)
    cols = []
    for j in range(ARITY):
        if mode == "sqlhash":
            lane = xxh64_long(_U64(j + 1), hh)
        else:
            lane = splitmix64(
                h ^ _U64((0x9E3779B97F4A7C15 * (j + 1)) & 0xFFFFFFFFFFFFFFFF)
            )
        cols.append(
            (q.astype(np.int64) + j) * sl.astype(np.int64)
            + (lane & (sl - _U64(1))).astype(np.int64)
        )
    return np.stack(cols, axis=1)


@dataclass
class FuseFilter:
    """Immutable built artifact: segmented slot table + one seed per build."""

    width: int
    size: int  # array_length
    segment_length: int
    segment_count: int
    seed: np.uint64  # the winning attempt seed
    slots: np.ndarray
    user_seed: int = 0
    attempts: int = 1
    metrics: dict = field(default_factory=dict)
    kind: str = "fuse3"
    mode: str = "digest"  # slot addressing: 'digest' (splitmix) | 'sqlhash'
    # meta of a 3-slot stand-in for the sharded layer's keyless shards
    ABSENT_META: ClassVar[dict] = {"seed": 0, "segment_length": 1, "segment_count": 1}

    def contains_digests(self, d0: np.ndarray, d1: np.ndarray) -> np.ndarray:
        idx = slot_index(d0, probe_params(vars(self)), self.mode)
        got = (
            self.slots[idx[:, 0]].astype(_U64)
            ^ self.slots[idx[:, 1]].astype(_U64)
            ^ self.slots[idx[:, 2]].astype(_U64)
        )
        return got == fingerprint(d1.astype(_U64), self.width, self.mode)

    def contains_bytes(self, values) -> np.ndarray:
        buf, lens = pack_bytes(values)
        d0, d1 = digest128(buf, lens)
        return self.contains_digests(d0, d1)

    def meta(self) -> dict:
        """Everything but the slot table (a shard row keeps slots binary)."""
        return {
            "kind": self.kind,
            "width": self.width,
            "size": self.size,
            "segment_length": self.segment_length,
            "segment_count": self.segment_count,
            "seed": int(self.seed),
            "user_seed": self.user_seed,
            "attempts": self.attempts,
            "metrics": self.metrics,
            "mode": self.mode,
        }

    def to_dict(self) -> dict:
        return {**self.meta(), "slots_hex": self.slots.tobytes().hex()}

    def to_json(self) -> str:
        return json.dumps(self.to_dict())

    @classmethod
    def from_dict(cls, d: dict, slots: bytes | None = None) -> "FuseFilter":
        """From ``to_dict`` output, or from ``meta()`` plus raw slot bytes."""
        raw = bytes.fromhex(d["slots_hex"]) if slots is None else slots
        slots = np.frombuffer(raw, dtype=_DTYPES[d["width"]]).copy()
        return cls(
            width=d["width"],
            size=d["size"],
            segment_length=d["segment_length"],
            segment_count=d["segment_count"],
            seed=_U64(d["seed"]),
            slots=slots,
            user_seed=d["user_seed"],
            attempts=d.get("attempts", 1),
            metrics=d.get("metrics", {}),
            mode=d.get("mode", "digest"),
        )

    @classmethod
    def from_json(cls, s: str) -> "FuseFilter":
        return cls.from_dict(json.loads(s))


def build_fuse_from_digests(
    d0: np.ndarray,
    d1: np.ndarray,
    width: int = 8,
    seed: int = 0,
    assume_unique: bool = False,
    mode: str = "digest",
) -> FuseFilter:
    """Build a 3-wise binary fuse filter from deduplicated 128-bit digests.

    Same retry discipline as the XOR core (<=100 fresh seeds per size, then
    grow capacity x1.15, hard cap 1000 attempts — mirroring
    ``BaseXorFilter.cs:35-77`` so both family members share a failure
    contract). Same-seed builds are bit-identical regardless of the input
    partitioning (canonicalizing dedup+sort unless ``assume_unique``).
    """
    if width not in _DTYPES:
        raise ValueError(f"unsupported fingerprint width {width}; use 8, 16 or 32")
    if assume_unique:
        d0u, d1u = d0.astype(_U64), d1.astype(_U64)
    else:
        pairs = np.stack([d0.astype(_U64), d1.astype(_U64)], axis=1)
        pairs = np.unique(pairs, axis=0)
        d0u, d1u = pairs[:, 0], pairs[:, 1]
    n = int(d0u.shape[0])
    if n == 0:
        raise ValueError("cannot build a fuse filter from an empty key set")

    t0 = time.perf_counter()
    segment_length, segment_count, array_length = fuse_layout(n)
    capacity = array_length
    fp = fingerprint(d1u, width, mode)
    for attempt in range(MAX_RETRIES):
        if attempt > 0 and attempt % RETRIES_BEFORE_RESIZE == 0:
            capacity = math.ceil(capacity * GROWTH)
            segment_length, segment_count, array_length = fuse_layout(
                n, capacity=capacity
            )
        aseed = derive_attempt_seeds(seed, attempt)[0]
        p = probe_params(
            {"seed": aseed, "segment_length": segment_length,
             "segment_count": segment_count}
        )
        idx = slot_index(d0u, p, mode)
        rounds = try_peel(idx, array_length)
        if rounds is not None:
            slots = fill_slots(rounds, idx, fp, array_length, width)
            return FuseFilter(
                width=width,
                size=array_length,
                segment_length=segment_length,
                segment_count=segment_count,
                seed=aseed,
                slots=slots,
                user_seed=seed,
                attempts=attempt + 1,
                mode=mode,
                metrics={
                    "n_keys": n,
                    "table_size": array_length,
                    "segment_length": segment_length,
                    "segment_count": segment_count,
                    "attempts": attempt + 1,
                    "peel_rounds": len(rounds),
                    "build_sec": time.perf_counter() - t0,
                    "bits_per_key": array_length * width / n,
                },
            )
    raise XorConstructionError(
        f"fuse{width} construction failed after {MAX_RETRIES} attempts "
        f"(n={n}, final array_length={array_length})"
    )


def build_fuse_from_bytes(values, width: int = 8, seed: int = 0) -> FuseFilter:
    """Build from raw byte keys (local path; content-dedup via digests)."""
    if len(values) == 0:
        raise ValueError("cannot build a fuse filter from an empty key set")
    buf, lens = pack_bytes(values)
    d0, d1 = digest128(buf, lens)
    return build_fuse_from_digests(d0, d1, width=width, seed=seed)
