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


# -- the packing kernel against the per-row reference ----------------------


def _reference_series_to_bytes(s):
    """The per-row encoder before the Arrow front end (the oracle; it still
    encodes pd.NA / NaT as their text and integral floats with ``.0``)."""
    import pandas as pd

    out = []
    for v in s:
        if v is None or (isinstance(v, float) and pd.isna(v)):
            out.append(b"")
        elif isinstance(v, bytes):
            out.append(v)
        elif isinstance(v, bytearray):
            out.append(bytes(v))
        elif isinstance(v, str):
            out.append(v.encode("utf-8"))
        else:
            out.append(str(v).encode("utf-8"))
    return out


def _reference_pack(values):
    """The scatter packer before ``pack_spans`` (the oracle)."""
    n = len(values)
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=n)
    total = int(lens.sum())
    max_len = int(lens.max()) if n else 0
    pad = ((max_len + 3) // 4) * 4 if max_len else 4
    buf = np.zeros((n, pad), dtype=np.uint8)
    if total:
        flat = np.frombuffer(b"".join(values), dtype=np.uint8)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        row_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        col_idx = np.arange(total, dtype=np.int64) - np.repeat(offsets, lens)
        buf[row_idx, col_idx] = flat
    return buf, lens


def _random_keys(seed, n, kind):
    rng = np.random.default_rng(seed)
    lens = rng.integers(0, 301, n)
    if kind == "bytes":
        return [bytes(rng.integers(0, 256, k, dtype=np.uint8)) for k in lens]
    lo, hi = (0x20, 0x7F) if kind == "ascii" else (0x20, 0x2FFF)
    return ["".join(map(chr, rng.integers(lo, hi, k))) for k in lens]


def _packed_keys(s):
    """The key bytes ``pack_series`` packs for each value of ``s``."""
    from xorfilter_net_spark.kernels.column import pack_series

    buf, lens = pack_series(s)
    return [bytes(row[:k]) for row, k in zip(buf, lens)]


def _assert_packs_like_reference(s):
    from xorfilter_net_spark.kernels.column import digest_series, pack_series

    want_buf, want_lens = _reference_pack(_reference_series_to_bytes(s))
    buf, lens = pack_series(s)
    assert buf.dtype == np.uint8 and lens.dtype == np.int64
    assert np.array_equal(buf, want_buf) and np.array_equal(lens, want_lens)
    d0, d1 = digest_series(s)
    w0, w1 = digest128(want_buf, want_lens)
    assert np.array_equal(d0, w0) and np.array_equal(d1, w1)


@pytest.mark.parametrize("kind", ["ascii", "unicode", "bytes"])
def test_pack_series_matches_per_row_reference_on_random_keys(kind):
    import pandas as pd

    keys = _random_keys(14, 700, kind)
    s = pd.Series(keys, dtype=object)
    _assert_packs_like_reference(s)
    # None / NaN nulls among them, and an iloc slice of the column
    with_nulls = pd.Series(keys[:300] + [None, np.nan] + keys[300:], dtype=object)
    _assert_packs_like_reference(with_nulls)
    _assert_packs_like_reference(with_nulls.iloc[137:611])


def test_pack_series_edge_columns_match_reference():
    import pandas as pd

    cases = [
        pd.Series([], dtype=object),
        pd.Series([None, None, np.nan], dtype=object),
        pd.Series(["", "", ""]),
        pd.Series(["", None, "a"]),
        pd.Series([b"", bytearray(b"\x00\xff"), b"abc"]),
        pd.Series(["text", b"\x00bytes", None]),  # Arrow reads this as binary
        pd.Series(["a", "bb", "x" * 10_000, "ccc", ""]),  # one long key
        pd.Series([1, "a", b"b", 2.5, True, None, (1, 2), 1.5e300], dtype=object),
        pd.Series([(1, 2), [3], {"a": 1}], dtype=object),  # Arrow: list, struct
        pd.Series([1 + 2j, "a"], dtype=object),  # Arrow cannot convert
    ]
    for s in cases:
        _assert_packs_like_reference(s)


def test_pack_series_integer_columns_are_their_decimal_text():
    import pandas as pd

    lo, hi = np.iinfo(np.int64).min, np.iinfo(np.int64).max
    ints = [lo, lo + 1, -(2**53) - 1, -1, 0, 1, 2**53 + 1, hi - 1, hi]
    for s in (
        pd.Series(np.array(ints, dtype=np.int64)),
        pd.Series(ints, dtype=object),
        pd.Series(np.array([0, 7, 2**64 - 1], dtype=np.uint64)),
        pd.Series(np.array([-128, 0, 127], dtype=np.int8)),
        pd.Series([2**64, -(2**63) - 1], dtype=object),  # past int64: per row
        pd.Series(np.array(ints, dtype=np.int64)).iloc[2:7],
    ):
        _assert_packs_like_reference(s)
        assert _packed_keys(s) == [str(int(v)).encode() for v in s]

def test_arrow_buffers_with_a_nonzero_offset():
    import pandas as pd
    import pyarrow as pa

    from xorfilter_net_spark.kernels.column import _arrow_keys

    keys = _random_keys(3, 200, "unicode")
    s = pd.Series(keys, dtype="string[pyarrow]").iloc[41:160]
    assert pa.array(s).offset or pa.array(s).chunk(0).offset
    assert _arrow_keys(s) is not None
    _assert_packs_like_reference(s)


def test_a_null_slot_holding_bytes_encodes_as_empty():
    """Arrow lets a null slot span bytes of the data buffer; they are not
    the key."""
    import pandas as pd
    import pyarrow as pa

    arr = pa.Array.from_buffers(
        pa.string(), 3,
        [pa.py_buffer(bytes([0b101])), pa.py_buffer(np.array([0, 1, 4, 6], np.int32)),
         pa.py_buffer(b"aHIDbb")],
    )
    assert arr.to_pylist() == ["a", None, "bb"]
    s = pd.Series(pd.arrays.ArrowStringArray(arr))
    assert _packed_keys(s) == [b"a", b"", b"bb"]


def test_which_columns_skip_the_per_row_loop():
    import pandas as pd

    from xorfilter_net_spark.kernels.column import _arrow_keys

    vectorized = [
        pd.Series(["a", None]),
        pd.Series([b"a", None]),
        pd.Series(["a", None], dtype="string"),
        pd.Series([1, 2], dtype=np.int64),
        pd.Series([1, None], dtype="Int64"),
        pd.Series([None, None], dtype=object),
    ]
    per_row = [
        pd.Series([1.0, np.nan, -3.0]),
        pd.Series([True, False]),
        pd.Series([1.5, 2.0]),
        pd.Series([np.inf, 1.0]),
        pd.Series([1, "a"], dtype=object),
        pd.Series(pd.to_datetime(["2024-01-01"])),
        pd.Series(["a", "b"], dtype="category"),
    ]
    assert all(_arrow_keys(s) is not None for s in vectorized)
    assert all(_arrow_keys(s) is None for s in per_row)


def test_pack_bytes_matches_scatter_reference():
    rng = np.random.default_rng(5)
    for values in (
        [],
        [b""],
        [b"", b""],
        EDGE_KEYS,
        _random_keys(8, 300, "bytes"),
        [b"a"] * 50 + [b"y" * 4097] + [b""] * 3,
        [bytes(rng.integers(0, 256, k, dtype=np.uint8)) for k in range(33)],
    ):
        buf, lens = pack_bytes(values)
        want_buf, want_lens = _reference_pack(values)
        assert np.array_equal(buf, want_buf) and np.array_equal(lens, want_lens)


# -- the encoding rule: a key's bytes do not depend on its batch -----------


def test_integral_floats_encode_as_their_integer():
    """Spark hands a ``long`` column whose Arrow batch has a null to pandas
    as float64; its keys must digest as they do in a batch of int64."""
    import pandas as pd

    from xorfilter_net_spark.kernels.column import digest_series, series_to_bytes

    ints = np.array([0, 1, -1, 999, 2**53, -(2**53), 12345678901], dtype=np.int64)
    widened = pd.Series(np.append(ints.astype(np.float64), np.nan))
    assert series_to_bytes(widened) == [str(v).encode() for v in ints] + [b""]
    d0, d1 = digest_series(widened)
    w0, w1 = digest_series(pd.Series(ints))
    assert np.array_equal(d0[:-1], w0) and np.array_equal(d1[:-1], w1)
    # a column with one non-integral float takes the per-row loop: same rule
    mixed = pd.Series([1.0, 2.5, -0.0, np.nan, 1e300, np.inf, 2.0**53 + 2])
    want = [b"1", b"2.5", b"0", b"", b"1e+300", b"inf", b"9007199254740994.0"]
    assert series_to_bytes(mixed) == want
    assert _packed_keys(mixed) == want
    assert _packed_keys(pd.Series([1.0, None], dtype="Float64")) == [b"1", b""]
    past = pd.Series([2.0**53 + 2, -(2.0**53), 1.0])
    assert _packed_keys(past) == [b"9007199254740994.0", b"-9007199254740992", b"1"]


def test_hll_of_longs_does_not_depend_on_a_null_in_the_batch():
    import pandas as pd

    from xorfilter_net_spark.sketches.hll import HllSketch

    sk = HllSketch(p=12)
    longs = pd.DataFrame({"k": np.arange(1000, dtype=np.int64)})
    # what Spark hands over for the same keys when their batch has one null
    widened = pd.DataFrame({"k": np.append(np.arange(1000, dtype=np.float64), np.nan)})
    a = sk.update(sk.zero(), longs)
    b = sk.update(sk.zero(), widened)
    # every long sets the same register in both; the null adds only b''
    assert np.array_equal(sk.merge(a, b), b)
    assert abs(sk.estimate(sk.merge(a, b)) - 1000) < 50


def test_every_pandas_null_encodes_as_empty():
    import pandas as pd

    from xorfilter_net_spark.kernels.column import series_to_bytes

    nulls = [None, np.nan, pd.NA, pd.NaT, np.datetime64("NaT"), np.float32("nan")]
    assert series_to_bytes(pd.Series(nulls, dtype=object)) == [b""] * len(nulls)
    s = pd.Series(["<NA>", None, "NaT"], dtype="string")
    assert series_to_bytes(s) == [b"<NA>", b"", b"NaT"]
    assert _packed_keys(s) == [b"<NA>", b"", b"NaT"]
    assert _packed_keys(pd.Series(["a", pd.NaT, pd.NA], dtype=object)) == [b"a", b"", b""]
    assert _packed_keys(pd.Series([1, None], dtype="Int64")) == [b"1", b""]


# sha256 of serialized states over _pinned_frame(), computed before the Arrow
# front end: any drift in the key encoding changes them
_PINNED_STATE_SHA256 = {
    "hll": "664786029161b84f7415dd94c092bdbefb8e64df38e77c3329398678e5416141",
    "bloom": "e7fcc9b2d53e9c48d52547a92897ab124ea06ccad21bbb6afa0f5d2cb3fbd6d0",
    "cms": "298d38b7d8f60dfe4d4f9040a4d42b3fb238237160f9c2c8559ee59119dad703",
    "theta": "ff532ae16651ddb206c057cf2ef4b5c81bff6bb2212824857c7583553a86e4c2",
}


def _pinned_frame():
    import pandas as pd

    rng = np.random.default_rng(14)
    keys = [f"user-{i}" for i in rng.integers(0, 3000, 6000)]
    keys += [f"ключ-{i}-✓" for i in range(300)] + ["", "x" * 300]
    return pd.DataFrame({"key": keys})


def test_sketch_state_bytes_are_pinned():
    import hashlib

    from xorfilter_net_spark.sketches.bloom import BloomSketch
    from xorfilter_net_spark.sketches.cms import CmsSketch
    from xorfilter_net_spark.sketches.hll import HllSketch
    from xorfilter_net_spark.sketches.theta import ThetaSketch

    pdf = _pinned_frame()
    sketches = {
        "hll": HllSketch(p=12),
        "bloom": BloomSketch.for_capacity(5000, 0.01),
        "cms": CmsSketch(d=4, w=1024),
        "theta": ThetaSketch(k=256),
    }
    got = {
        name: hashlib.sha256(sk.serialize(sk.update(sk.zero(), pdf))).hexdigest()
        for name, sk in sketches.items()
    }
    assert got == _PINNED_STATE_SHA256
