"""Kernel-level golden tests (mirrors ComponentTests.cs CRC32 facts and the
hash-determinism checks in BaseXorFilterTests.cs:136-155)."""

import zlib

import numpy as np
import pytest

from xorfilter_net_spark.kernels.hashes import (
    crc32,
    derive_attempt_seeds,
    digest128,
    murmur3_32,
    murmur3_32_scalar,
    pack_bytes,
    splitmix64,
)

EDGE_KEYS = [
    b"",
    b"\x00",
    b"\x01",
    b"\x7f",
    b"\xff",
    b"\x00\x00",
    b"\x00\x00\x00\x00",
    b"\xff\xff\xff\xff",
    b"\xaaU\xaaU",
    bytes(range(256)),
    b"a",
    b"ab",
    b"abc",
    b"abcd",
    b"abcde",
    "héllo wörld ✓".encode(),
    b"x" * 10_000,
]


def test_murmur_known_vectors():
    # SMHasher / Wikipedia verification vectors
    assert murmur3_32_scalar(b"", 0) == 0
    assert murmur3_32_scalar(b"", 1) == 0x514E28B7
    assert murmur3_32_scalar(b"", 0xFFFFFFFF) == 0x81F16F39
    assert murmur3_32_scalar(b"\x00\x00\x00\x00", 0) == 0x2362F9DE
    assert murmur3_32_scalar(b"aaaa", 0x9747B28C) == 0x5A97808A
    assert murmur3_32_scalar(b"aaa", 0x9747B28C) == 0x283E0130
    assert murmur3_32_scalar(b"aa", 0x9747B28C) == 0x5D211726
    assert murmur3_32_scalar(b"a", 0x9747B28C) == 0x7FA09EA6
    assert murmur3_32_scalar(b"Hello, world!", 0x9747B28C) == 0x24884CBA


@pytest.mark.parametrize("seed", [0, 1, 12345, 0x9747B28C, 0xFFFFFFFF])
def test_murmur_batch_matches_scalar(seed):
    buf, lens = pack_bytes(EDGE_KEYS)
    got = murmur3_32(buf, lens, seed)
    exp = [murmur3_32_scalar(k, seed) for k in EDGE_KEYS]
    assert got.tolist() == exp


def test_murmur_batch_per_row_seeds():
    buf, lens = pack_bytes(EDGE_KEYS)
    seeds = np.arange(len(EDGE_KEYS), dtype=np.uint32) * np.uint32(0x9E3779B1)
    got = murmur3_32(buf, lens, seeds)
    exp = [murmur3_32_scalar(k, int(s)) for k, s in zip(EDGE_KEYS, seeds)]
    assert got.tolist() == exp


def test_crc32_matches_zlib_and_empty_is_zero():
    buf, lens = pack_bytes(EDGE_KEYS)
    got = crc32(buf, lens)
    exp = [zlib.crc32(k) & 0xFFFFFFFF for k in EDGE_KEYS]
    assert got.tolist() == exp
    assert exp[0] == 0  # ComponentTests.cs:167-178


def test_splitmix64_reference_values():
    # splitmix64(seed=0) first outputs (public reference sequence)
    assert int(splitmix64(np.uint64(0))) == 0xE220A8397B1DCDAF


def test_seed_chain_deterministic_and_distinct():
    a = derive_attempt_seeds(12345, 0)
    b = derive_attempt_seeds(12345, 0)
    c = derive_attempt_seeds(12345, 1)
    d = derive_attempt_seeds(54321, 0)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    assert not np.array_equal(a, d)
    assert len(set(a.tolist())) == 3


def test_digest128_no_easy_collisions():
    keys = [f"k{i}".encode() for i in range(50_000)]
    buf, lens = pack_bytes(keys)
    d0, d1 = digest128(buf, lens)
    pairs = np.stack([d0, d1], axis=1)
    assert np.unique(pairs, axis=0).shape[0] == len(keys)


def test_digest128_equals_four_murmur_lanes():
    """The one-pass digest is the four fixed-seed murmur3_32 lanes, on keys
    of every length 0-67 (every ``len % 4`` tail, the empty key) packed
    together so short keys run through padding columns."""
    rng = np.random.default_rng(7)
    keys = [bytes(rng.integers(0, 256, n, dtype=np.uint8)) for n in range(68)]
    buf, lens = pack_bytes(keys)
    d0, d1 = digest128(buf, lens)
    seeds = (0xD6E8FEB8, 0x85EBCA6B, 0xC2B2AE35, 0x27D4EB2F)
    m = [murmur3_32(buf, lens, s).astype(np.uint64) for s in seeds]
    assert d0.dtype == np.uint64 and d1.dtype == np.uint64
    assert np.array_equal(d0, (m[0] << np.uint64(32)) | m[1])
    assert np.array_equal(d1, (m[2] << np.uint64(32)) | m[3])
    for k, a, b in zip(keys, d0.tolist(), d1.tolist()):
        lanes = [murmur3_32_scalar(k, s) for s in seeds]
        assert (a, b) == ((lanes[0] << 32) | lanes[1], (lanes[2] << 32) | lanes[3])


def test_pack_bytes_empty_rows():
    buf, lens = pack_bytes([b"", b"", b"abc"])
    assert lens.tolist() == [0, 0, 3]
    assert buf.shape[0] == 3
