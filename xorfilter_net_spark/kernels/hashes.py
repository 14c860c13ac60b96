"""Vectorized hash kernels (NumPy, no per-row Python in the hot loop).

These are the building blocks of the XOR-filter family, re-expressed for
batch execution over Arrow/NumPy buffers:

- ``pack_spans``: the one packing kernel under every Python digest. It
  gathers byte spans of one buffer (an Arrow column's data buffer and
  offsets, see ``kernels/column.py``, or a ``b"".join`` of a list of
  ``bytes`` in ``pack_bytes``) into the zero-padded ``(n, pad)`` uint8
  matrix the hashes below read, one row copy per key.
- ``murmur3_32``: MurmurHash3 x86 32-bit, the slot-addressing hash the
  reference uses (XORFilter.Net ``BaseXorFilter.cs:147-149``). Implemented
  lane-parallel over a zero-padded ``(n, max_len)`` byte matrix: the block
  loop runs over *columns* (max_len/4 iterations), each iteration vectorized
  across all n rows.
- ``crc32``: the fingerprint hash (reference ``Hashing/Crc32.cs:5``,
  little-endian CRC32 == zlib's reflected 0xEDB88320 polynomial), table-driven
  and column-vectorized the same way.
- ``splitmix64``: our published deterministic seed-derivation chain
  (SURVEY.md §7 D2 — the reference's .NET ``Random`` chain is a runtime
  implementation detail; the *contract* "same seed => identical filter" is
  what we preserve).

All functions are pure: output depends only on (bytes, seed).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "pack_spans",
    "pack_bytes",
    "murmur3_32",
    "murmur3_32_scalar",
    "crc32",
    "splitmix64",
    "xxh64_long",
    "spark_xxhash64_longs",
    "derive_attempt_seeds",
    "digest128",
]

_U32 = np.uint32
_U64 = np.uint64

_C1 = _U32(0xCC9E2D51)
_C2 = _U32(0x1B873593)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    r = _U32(r)
    return (x << r) | (x >> _U32(32 - int(r)))


def _fmix32(h: np.ndarray) -> np.ndarray:
    """MurmurHash3's 32-bit finalizer (the caller has mixed in the length)."""
    h = h ^ (h >> _U32(16))
    h = h * _U32(0x85EBCA6B)
    h ^= h >> _U32(13)
    h = h * _U32(0xC2B2AE35)
    return h ^ (h >> _U32(16))


# row k keeps the first k bytes of a _MASK_W-byte block column
_MASK_W = 64
_KEEP = np.tri(_MASK_W + 1, _MASK_W, -1, dtype=np.uint8) * np.uint8(0xFF)


def pack_spans(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Gather byte spans of one buffer into a zero-padded uint8 matrix.

    Row i of ``buf`` is ``data[starts[i] : starts[i] + lens[i]]`` (every
    span within ``data``), zero-padded to ``(n, max_len_padded_to_4)``;
    returns ``(buf, lens)`` with ``lens`` as int64. Each row is copied whole
    from a sliding-window view of ``data`` (one ``pad``-byte window per
    byte offset), then the bytes past its length are masked off, 64 columns
    at a time, with rows of a fixed keep-mask table. Temporaries are a
    ``pad``-extended copy of ``data`` and one mask block of at most the
    size of ``buf``: no per-byte index matrix, no per-row Python.
    """
    lens = np.asarray(lens, dtype=np.int64)
    max_len = int(lens.max()) if lens.size else 0
    pad = ((max_len + 3) // 4) * 4 if max_len else 4
    ext = np.zeros(data.size + pad, dtype=np.uint8)
    ext[: data.size] = data
    windows = np.lib.stride_tricks.sliding_window_view(ext, pad)
    buf = windows[np.asarray(starts, dtype=np.int64)]
    for c in range(0, pad, _MASK_W):
        block = buf[:, c : c + _MASK_W]
        block &= _KEEP[np.clip(lens - c, 0, _MASK_W), : block.shape[1]]
    return buf, lens


def pack_bytes(values) -> tuple[np.ndarray, np.ndarray]:
    """Pack a sequence of ``bytes`` into ``pack_spans``' zero-padded matrix:
    one ``b"".join`` and the spans' offsets, no per-row Python beyond
    ``len()``."""
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=len(values))
    data = np.frombuffer(b"".join(values), dtype=np.uint8)
    return pack_spans(data, np.cumsum(lens) - lens, lens)


def _murmur_lanes(buf: np.ndarray, lens: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """MurmurHash3 x86_32 of each row of ``buf`` under each row of ``seeds``.

    ``buf`` is ``pack_spans``' zero-padded ``(n, 4m)`` uint8 matrix and
    ``seeds`` a ``(k, n)`` uint32 array (one row per seed lane); returns
    the ``(k, n)`` hashes. The block words (a little-endian ``uint32`` view
    of the rows) and each column's block mix ``k1`` depend only on the
    key, so they are computed once for all k lanes; only the lane state
    depends on the seed. The loop runs over block columns, each step
    vectorized across lanes and rows.
    """
    with np.errstate(over="ignore"):
        # one block column per row of k1, so each step reads contiguously
        words = np.ascontiguousarray(np.ascontiguousarray(buf).view("<u4").T)
        k1 = _rotl32(words * _C1, 15) * _C2
        h = seeds
        nfull = lens // 4
        for j, kj in enumerate(k1):
            hf = _rotl32(h ^ kj, 13) * _U32(5) + _U32(0xE6546B64)
            # past a row's full blocks its block is the zero-padded tail
            # (kj is the murmur tail mix) or all padding (kj == 0)
            h = np.where(j < nfull, hf, h ^ kj)
        return _fmix32(h ^ lens.astype(_U32))


def murmur3_32(
    buf: np.ndarray, lens: np.ndarray, seed: int | np.ndarray
) -> np.ndarray:
    """MurmurHash3 x86_32 over each row of ``buf`` (first ``lens[i]`` bytes).

    ``seed`` may be a scalar or a per-row uint32 array. Vectorized across
    rows; loops only over the (padded) block columns.
    """
    n = buf.shape[0]
    seeds = np.broadcast_to(np.asarray(seed, dtype=_U32), (1, n))
    return _murmur_lanes(buf, lens, seeds)[0]


def murmur3_32_scalar(data: bytes, seed: int = 0) -> int:
    """Reference scalar implementation (tests cross-check the batch kernel)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    length = len(data)
    rounded = length & ~3
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if tail:
        k = int.from_bytes(tail + b"\x00" * (4 - len(tail)), "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _crc_table() -> np.ndarray:
    poly = np.uint32(0xEDB88320)
    tbl = np.arange(256, dtype=_U32)
    with np.errstate(over="ignore"):
        for _ in range(8):
            tbl = np.where(tbl & _U32(1), (tbl >> _U32(1)) ^ poly, tbl >> _U32(1))
    return tbl


_CRC_TBL = _crc_table()


def crc32(buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """zlib-compatible CRC32 over each row's first ``lens[i]`` bytes."""
    n = buf.shape[0]
    crc = np.full(n, 0xFFFFFFFF, dtype=_U32)
    max_len = int(lens.max()) if n else 0
    with np.errstate(over="ignore"):
        for j in range(max_len):
            nc = _CRC_TBL[(crc ^ buf[:, j]) & _U32(0xFF)] ^ (crc >> _U32(8))
            crc = np.where(j < lens, nc, crc)
    return crc ^ _U32(0xFFFFFFFF)


def splitmix64(x: np.ndarray | int) -> np.ndarray | int:
    """SplitMix64 finalizer — vectorized over uint64 arrays."""
    with np.errstate(over="ignore"):
        z = np.asarray(x, dtype=_U64) + _U64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


_XXH_P1 = _U64(0x9E3779B185EBCA87)
_XXH_P2 = _U64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = _U64(0x165667B19E3779F9)
_XXH_P4 = _U64(0x85EBCA77C2B2AE63)
_XXH_P5 = _U64(0x27D4EB2F165667C5)
SPARK_XXHASH64_DEFAULT_SEED = 42  # catalyst XxHash64 expression default


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def xxh64_long(value, seed) -> np.ndarray:
    """XXH64 of a single 64-bit value — bit-exact replica of Spark's
    ``XXH64.hashLong(value, seed)`` (the kernel behind the ``xxhash64``
    SQL builtin on long columns). Vectorized over uint64 arrays; either
    argument may be a scalar. This is what makes the zero-Python SQL probe
    possible: the build kernel addresses slots with exactly the hash the
    JVM can recompute in whole-stage codegen."""
    with np.errstate(over="ignore"):
        v = np.asarray(value, dtype=_U64)
        h = np.asarray(seed, dtype=_U64) + _XXH_P5 + _U64(8)
        h = h ^ (_rotl64(v * _XXH_P2, 31) * _XXH_P1)
        h = _rotl64(h, 27) * _XXH_P1 + _XXH_P4
        h ^= h >> _U64(33)
        h *= _XXH_P2
        h ^= h >> _U64(29)
        h *= _XXH_P3
        h ^= h >> _U64(32)
    return h


def spark_xxhash64_longs(cols) -> np.ndarray:
    """Replica of the Spark SQL ``xxhash64(c1, c2, ...)`` builtin applied
    to non-null long columns: seed 42, then hash chaining
    ``h = hashLong(c_i, h)`` left to right."""
    h = _U64(SPARK_XXHASH64_DEFAULT_SEED)
    for c in cols:
        h = xxh64_long(c, h)
    return h


def derive_attempt_seeds(user_seed: int, attempt: int) -> np.ndarray:
    """Pinned deterministic chain (SURVEY.md §7 D2):

    ``seed_j = splitmix64(splitmix64(user_seed * GOLDEN + attempt) + j)``,
    yielding 3 uint64 seeds per (user_seed, attempt). Same user seed =>
    identical retry sequence => bit-identical filter (the reference's
    determinism contract, DeterministicIntegrationTests.cs:17-34).
    """
    with np.errstate(over="ignore"):
        base = splitmix64(
            _U64(user_seed & 0xFFFFFFFFFFFFFFFF) * _U64(0x9E3779B97F4A7C15)
            + _U64(attempt)
        )
        return splitmix64(np.asarray(base, dtype=_U64) + np.arange(3, dtype=_U64))


# seeds of the four murmur3_32 lanes of ``digest128`` (d0 = m0:m1, d1 = m2:m3)
_DIGEST_SEEDS = np.array([0xD6E8FEB8, 0x85EBCA6B, 0xC2B2AE35, 0x27D4EB2F], dtype=_U32)


def digest128(buf: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """128-bit canonical key digest as two uint64s, built from four
    murmur3_32 lanes with fixed seeds. Used by the scale path so the driver
    peel only ever sees 16 bytes/key regardless of key length.

    Byte-identical to four ``murmur3_32`` calls, in one pass: the four
    lanes share the block mix (``_murmur_lanes``)."""
    seeds = np.broadcast_to(_DIGEST_SEEDS[:, None], (4, buf.shape[0]))
    m = _murmur_lanes(buf, lens, seeds).astype(_U64)
    return (m[0] << _U64(32)) | m[1], (m[2] << _U64(32)) | m[3]
