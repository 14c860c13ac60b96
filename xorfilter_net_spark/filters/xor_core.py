"""XOR filter core: sizing, 3-block hashing, hypergraph peel, fill, probe.

Re-implements the semantics of XORFilter.Net's ``BaseXorFilter.cs`` as
vectorized NumPy over key *digests* (scale path) or raw key bytes
(reference-parity path):

- table size ``max(3, ceil(1.23 n))`` with x1.15 growth on repeated peel
  failure (``BaseXorFilter.cs:31-32, 77``),
- <=100 seed retries per size, hard cap 1000 attempts then raise
  (``BaseXorFilter.cs:35-37, 68-74``),
- 3 disjoint index blocks covering the table (``BaseXorFilter.cs:139-151``),
- Kahn-style 3-uniform hypergraph peeling (``BaseXorFilter.cs:172-233``) —
  here with the XOR-trick adjacency (degree counts + xor of incident key
  indices) and *batched rounds*: each round peels every current lone slot at
  once, so the Python-level loop is O(#rounds) ~ O(log n), not O(n),
- reverse-order table fill (``BaseXorFilter.cs:235-267``), vectorized per
  round (within a round all lone slots are distinct and unreferenced by the
  round's other keys, so a gather/scatter is order-safe),
- probe ``fingerprint(key) == slots[h0] ^ slots[h1] ^ slots[h2]``
  (``BaseXorFilter.cs:98-108``): zero false negatives, FPR ~= 2^-L.

Nothing here touches Spark; the driver feeds it deduplicated digests.
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
    crc32,
    derive_attempt_seeds,
    digest128,
    murmur3_32,
    pack_bytes,
    splitmix64,
    xxh64_long,
)

_U64 = np.uint64

RETRIES_BEFORE_RESIZE = 100  # BaseXorFilter.cs:36
MAX_RETRIES = 1000  # BaseXorFilter.cs:35
GROWTH = 1.15  # BaseXorFilter.cs:77
LOAD = 1.23  # BaseXorFilter.cs:31-32
_FP_SEED = _U64(0xA076_1D64_78BD_642F)

_DTYPES = {8: np.uint8, 16: np.uint16, 32: np.uint32}
_MASKS = {8: _U64(0xFF), 16: _U64(0xFFFF), 32: _U64(0xFFFF_FFFF)}


class XorConstructionError(RuntimeError):
    """Peeling failed after MAX_RETRIES attempts (BaseXorFilter.cs:68-74)."""


def table_size(n: int) -> int:
    return max(3, math.ceil(LOAD * n))


def digest_fingerprint(d1: np.ndarray, width: int) -> np.ndarray:
    """L-bit fingerprint from the second digest lane (digest mode's analog
    of crc32 truncation, XorFilter8/16/32.cs:26-29)."""
    return splitmix64(d1 ^ _FP_SEED) & _MASKS[width]


_SQL_SEED = _U64(SPARK_XXHASH64_DEFAULT_SEED)
# signed view of _FP_SEED, usable as an F.lit() in the SQL probe
FP_SEED_SIGNED = int(np.int64(_FP_SEED))


def sqlhash_fingerprint(d1: np.ndarray, width: int) -> np.ndarray:
    """sqlhash-mode fingerprint = ``xxhash64(d1, FP_SEED)`` exactly as the
    Spark builtin computes it, so the probe can stay in codegen."""
    return xxh64_long(_FP_SEED, xxh64_long(d1, _SQL_SEED)) & _MASKS[width]


def fingerprint(d1: np.ndarray, width: int, mode: str) -> np.ndarray:
    """L-bit fingerprint of the second digest lane in ``mode``'s hashing."""
    if mode == "sqlhash":
        return sqlhash_fingerprint(d1, width)
    return digest_fingerprint(d1, width)


def block_bounds(size: int) -> tuple[np.ndarray, np.ndarray]:
    """Three disjoint blocks covering [0, size), remainder spread left."""
    base, rem = divmod(size, 3)
    widths = np.array(
        [base + (1 if rem > 0 else 0), base + (1 if rem > 1 else 0), base],
        dtype=np.int64,
    )
    starts = np.array([0, widths[0], widths[0] + widths[1]], dtype=np.int64)
    return starts, widths


# -- family hook of the sharded layer (filters/spark_build.py) --------------

def probe_params(meta: dict) -> dict:
    """``slot_index`` parameters of one filter, from its artifact meta (or
    ``vars(filter)``): attempt seeds plus the three block starts/widths."""
    starts, widths = block_bounds(meta["size"])
    return {
        "seeds": np.asarray(meta["seeds"], dtype=_U64),
        "starts": starts,
        "widths": widths.astype(_U64),
    }


def slot_index(d0: np.ndarray, p: dict, mode: str, h=None) -> np.ndarray:
    """(n, 3) slot indices in digest or sqlhash addressing. ``p`` holds
    one filter's ``probe_params`` ((3,) arrays), or (n, 3) arrays giving
    each key its own filter's parameters (the flat sharded probe). ``h``:
    the attempt-invariant sqlhash lane ``xxhash64(d0)``, if precomputed."""
    if mode == "sqlhash" and h is None:
        h = xxh64_long(d0, _SQL_SEED)
    elif mode != "sqlhash":
        h = d0
    cols = []
    for j in range(3):
        if mode == "sqlhash":
            mix = xxh64_long(p["seeds"][..., j], h)
        else:
            mix = splitmix64(h ^ p["seeds"][..., j])
        cols.append(
            (mix % p["widths"][..., j]).astype(np.int64) + p["starts"][..., j]
        )
    return np.stack(cols, axis=1)


@dataclass
class XorFilter:
    """Immutable built artifact: slot table + seeds + addressing mode.

    ``mode='digest'``: keys are canonicalized to 128-bit digests
    (kernels.digest128); slot hashes and fingerprint derive from the digest
    via splitmix64. Driver/broadcast state is 16 bytes per key independent
    of key length — the 10^12-key scale path.

    ``mode='exact'``: reference-parity addressing — murmur3_32(key, seed_j)
    per block and crc32(key) fingerprints, matching BaseXorFilter.cs:147-153
    and Hashing/Crc32.cs:5 semantics.
    """

    width: int
    size: int
    seeds: np.ndarray  # (3,) uint64 attempt seeds
    slots: np.ndarray  # (size,) uint8/16/32
    mode: str = "digest"
    user_seed: int = 0
    attempts: int = 1
    metrics: dict = field(default_factory=dict)
    # meta of a 3-slot stand-in for the sharded layer's keyless shards
    ABSENT_META: ClassVar[dict] = {"size": 3, "seeds": [0, 0, 0]}

    # -- addressing ---------------------------------------------------------
    def _slot_idx_digest(self, d0: np.ndarray) -> np.ndarray:
        return slot_index(d0, probe_params(vars(self)), self.mode)

    def _slot_idx_exact(self, buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
        starts, widths = block_bounds(self.size)
        cols = []
        for j in range(3):
            h = murmur3_32(buf, lens, int(self.seeds[j] & _U64(0xFFFFFFFF)))
            cols.append((h.astype(np.int64) % widths[j]) + starts[j])
        return np.stack(cols, axis=1)

    def _fingerprint_digest(self, d1: np.ndarray) -> np.ndarray:
        return fingerprint(d1, self.width, self.mode)

    def _fingerprint_exact(self, buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
        return crc32(buf, lens).astype(_U64) & _MASKS[self.width]

    # -- probing ------------------------------------------------------------
    def contains_digests(self, d0: np.ndarray, d1: np.ndarray) -> np.ndarray:
        idx = self._slot_idx_digest(d0)
        got = (
            self.slots[idx[:, 0]].astype(_U64)
            ^ self.slots[idx[:, 1]].astype(_U64)
            ^ self.slots[idx[:, 2]].astype(_U64)
        )
        return got == self._fingerprint_digest(d1)

    def contains_bytes(self, values) -> np.ndarray:
        buf, lens = pack_bytes(values)
        if self.mode == "digest":
            d0, d1 = digest128(buf, lens)
            return self.contains_digests(d0, d1)
        idx = self._slot_idx_exact(buf, lens)
        got = (
            self.slots[idx[:, 0]].astype(_U64)
            ^ self.slots[idx[:, 1]].astype(_U64)
            ^ self.slots[idx[:, 2]].astype(_U64)
        )
        return got == self._fingerprint_exact(buf, lens)

    # -- (de)serialization --------------------------------------------------
    def meta(self) -> dict:
        """Everything but the slot table (a shard row keeps slots binary)."""
        return {
            "width": self.width,
            "size": self.size,
            "seeds": [int(s) for s in self.seeds],
            "mode": self.mode,
            "user_seed": self.user_seed,
            "attempts": self.attempts,
            "metrics": self.metrics,
        }

    def to_dict(self) -> dict:
        return {**self.meta(), "slots_hex": self.slots.tobytes().hex()}

    def to_json(self) -> str:
        return json.dumps(self.to_dict())

    @classmethod
    def from_dict(cls, d: dict, slots: bytes | None = None) -> "XorFilter":
        """From ``to_dict`` output, or from ``meta()`` plus raw slot bytes."""
        raw = bytes.fromhex(d["slots_hex"]) if slots is None else slots
        slots = np.frombuffer(raw, dtype=_DTYPES[d["width"]]).copy()
        return cls(
            width=d["width"],
            size=d["size"],
            seeds=np.array(d["seeds"], dtype=_U64),
            slots=slots,
            mode=d["mode"],
            user_seed=d["user_seed"],
            attempts=d.get("attempts", 1),
            metrics=d.get("metrics", {}),
        )

    @classmethod
    def from_json(cls, s: str) -> "XorFilter":
        return cls.from_dict(json.loads(s))


# -- peel / fill (shared by both modes) -------------------------------------

def try_peel(idx: np.ndarray, size: int):
    """Batched-round peel of the 3-uniform hypergraph.

    Returns a list of rounds ``[(key_indices, lone_slots), ...]`` in peel
    order, or None if the graph has a 2-core (peel failure => retry with new
    seeds). XOR-trick adjacency: deg[slot] + xor of incident key ids.
    """
    n = idx.shape[0]
    flat = idx.ravel()
    deg = np.bincount(flat, minlength=size)
    xs = np.zeros(size, dtype=np.int64)
    np.bitwise_xor.at(xs, flat, np.repeat(np.arange(n, dtype=np.int64), 3))
    rounds = []
    n_peeled = 0
    cand = np.flatnonzero(deg == 1)  # ascending slot order
    # O(1)-per-element scatter dedup scratchpads (replacing per-round
    # sort-based np.unique, which dominated kernel time ~3:1). Selection
    # is kept identical to the unique-based peel — first occurrence in
    # ascending order — so built artifacts stay byte-for-byte stable.
    kmark = np.empty(n, dtype=np.int64)
    smark = np.empty(size, dtype=np.int64)
    while cand.size:
        keys = xs[cand]
        m = cand.size
        # one lone slot per distinct key: reverse scatter => first
        # (lowest-slot) occurrence wins, matching unique(return_index)
        kmark[keys[::-1]] = np.arange(m - 1, -1, -1)
        sel = kmark[keys] == np.arange(m)
        keys_u = keys[sel]
        lone_u = cand[sel]
        rounds.append((keys_u, lone_u))
        n_peeled += keys_u.size
        touched = idx[keys_u].ravel()
        np.add.at(deg, touched, -1)
        np.bitwise_xor.at(xs, touched, np.repeat(keys_u, 3))
        t1 = touched[deg[touched] == 1]
        if t1.size:
            t1 = np.sort(t1)  # keep ascending order for the next round
            smark[t1[::-1]] = np.arange(t1.size - 1, -1, -1)
            cand = t1[smark[t1] == np.arange(t1.size)]
        else:
            cand = t1
    return rounds if n_peeled == n else None


def fill_slots(
    rounds, idx: np.ndarray, fp: np.ndarray, size: int, width: int
) -> np.ndarray:
    """Reverse-round table fill. Unassigned slots stay 0 (XOR identity)."""
    dtype = _DTYPES[width]
    slots = np.zeros(size, dtype=dtype)
    for keys, lone in reversed(rounds):
        h = idx[keys]
        v = (
            slots[h[:, 0]].astype(_U64)
            ^ slots[h[:, 1]].astype(_U64)
            ^ slots[h[:, 2]].astype(_U64)
        )
        slots[lone] = (v ^ fp[keys]).astype(dtype)
    return slots


def _build(
    n: int,
    width: int,
    user_seed: int,
    make_idx,  # (seeds: (3,)uint64, size) -> (n,3) int64
    fingerprints: np.ndarray,  # (n,) uint64, already masked to width
    mode: str,
) -> XorFilter:
    if n == 0:
        raise ValueError("cannot build an XOR filter from an empty key set")
    if width not in _DTYPES:
        raise ValueError(f"unsupported fingerprint width {width}; use 8, 16 or 32")
    t0 = time.perf_counter()
    size = table_size(n)
    for attempt in range(MAX_RETRIES):
        if attempt > 0 and attempt % RETRIES_BEFORE_RESIZE == 0:
            size = math.ceil(size * GROWTH)
        seeds = derive_attempt_seeds(user_seed, attempt)
        idx = make_idx(seeds, size)
        rounds = try_peel(idx, size)
        if rounds is not None:
            slots = fill_slots(rounds, idx, fingerprints, size, width)
            return XorFilter(
                width=width,
                size=size,
                seeds=seeds,
                slots=slots,
                mode=mode,
                user_seed=user_seed,
                attempts=attempt + 1,
                metrics={
                    "n_keys": int(n),
                    "table_size": int(size),
                    "attempts": attempt + 1,
                    "peel_rounds": len(rounds),
                    "build_sec": time.perf_counter() - t0,
                    "bits_per_key": size * width / n,
                },
            )
    raise XorConstructionError(
        f"XOR{width} construction failed after {MAX_RETRIES} attempts "
        f"(n={n}, final size={size})"
    )


def build_from_digests(
    d0: np.ndarray, d1: np.ndarray, width: int = 8, seed: int = 0,
    mode: str = "digest", assume_unique: bool = False,
) -> XorFilter:
    """Scale path: build from *deduplicated* 128-bit key digests.

    ``mode='digest'``: splitmix64 slot addressing (python-probe parity).
    ``mode='sqlhash'``: slot addressing and fingerprint via Spark's
    xxhash64-on-long semantics, so membership probes can be evaluated
    entirely in whole-stage codegen (zero Python) by ``probe_sql``.

    ``assume_unique=True`` skips the canonicalizing dedup+sort for
    callers that already hold (d0, d1) unique AND lexsorted by (d0, d1)
    (the in-shard dedup kernel does) — passing unsorted input here would
    make artifact bytes depend on partition arrival order.
    """
    if assume_unique:
        d0u, d1u = d0.astype(_U64), d1.astype(_U64)
    else:
        pairs = np.stack([d0.astype(_U64), d1.astype(_U64)], axis=1)
        pairs = np.unique(pairs, axis=0)
        d0u, d1u = pairs[:, 0], pairs[:, 1]
    if width not in _DTYPES:
        raise ValueError(f"unsupported fingerprint width {width}; use 8, 16 or 32")

    # the sqlhash lane is attempt-invariant: hash it once, not per retry
    h = xxh64_long(d0u, _SQL_SEED) if mode == "sqlhash" else None

    def make_idx(seeds, size):
        p = probe_params({"seeds": seeds, "size": size})
        return slot_index(d0u, p, mode, h)

    fp = fingerprint(d1u, width, mode)
    return _build(d0u.shape[0], width, seed, make_idx, fp, mode)


def build_from_bytes(
    values, width: int = 8, seed: int = 0, mode: str = "digest"
) -> XorFilter:
    """Build from raw byte keys (local/driver path; dedups first, mirroring
    ``BaseXorFilter.cs:28``/``ToUniqueByteArray``)."""
    if len(values) == 0:
        raise ValueError("cannot build an XOR filter from an empty key set")
    buf, lens = pack_bytes(values)
    if mode == "digest":
        d0, d1 = digest128(buf, lens)
        return build_from_digests(d0, d1, width=width, seed=seed)
    # exact mode: dedup by content, then murmur/crc addressing on the bytes
    uniq = list({bytes(v): None for v in values}.keys())
    buf, lens = pack_bytes(uniq)
    n = len(uniq)

    def make_idx(seeds, size):
        starts, widths = block_bounds(size)
        cols = []
        for j in range(3):
            h = murmur3_32(buf, lens, int(seeds[j] & _U64(0xFFFFFFFF)))
            cols.append((h.astype(np.int64) % widths[j]) + starts[j])
        return np.stack(cols, axis=1)

    fp = crc32(buf, lens).astype(_U64) & _MASKS[width]
    return _build(n, width, seed, make_idx, fp, "exact")
