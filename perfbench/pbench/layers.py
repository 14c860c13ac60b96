"""In-process layer timings on one fixed, seeded key batch.

These call the library's NumPy layers directly, with no Spark job around
them, so they read the same on every workload: ``kernels`` (encode and
128-bit digest), the five ``sketches`` (update, serialized state size,
merge) and ``filters.xor_core`` (the per-shard build kernel, peel and
fill, plus the peel's attempt and round counts).
"""

from __future__ import annotations

import pickle
import statistics
import time

import numpy as np
import pandas as pd

SHARDS = 8
WIDTH = 16


def five_sketches(expected_n: int) -> dict:
    from xorfilter_net_spark.sketches.bloom import BloomSketch
    from xorfilter_net_spark.sketches.cms import CmsSketch
    from xorfilter_net_spark.sketches.hll import HllSketch
    from xorfilter_net_spark.sketches.kll import KllSketch
    from xorfilter_net_spark.sketches.tdigest import TDigestSketch

    return {
        "hll": HllSketch(14, key_col="key"),
        "bloom": BloomSketch.for_capacity(expected_n, 0.01, key_col="key"),
        "cms": CmsSketch(key_col="key"),
        "kll": KllSketch(200, value_col="value"),
        "tdigest": TDigestSketch(200.0, value_col="value"),
    }


class FiveSketches:
    """The five sketches as one ``MergeableSketch``: one two-phase pass
    updates all of them, and the state is their five states."""

    def __init__(self, sketches: dict):
        self.sketches = sketches

    def zero(self):
        return {n: s.zero() for n, s in self.sketches.items()}

    def update(self, st, pdf):
        return {n: s.update(st[n], pdf) for n, s in self.sketches.items()}

    def merge(self, a, b):
        return {n: s.merge(a[n], b[n]) for n, s in self.sketches.items()}

    def serialize(self, st) -> bytes:
        return pickle.dumps({n: s.serialize(st[n]) for n, s in self.sketches.items()})

    def deserialize(self, blob: bytes):
        raw = pickle.loads(blob)
        return {n: s.deserialize(raw[n]) for n, s in self.sketches.items()}


def _median_wall(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def kernel_layers(keys: pd.Series, report) -> None:
    from xorfilter_net_spark.kernels.column import series_to_bytes
    from xorfilter_net_spark.kernels.hashes import digest128, pack_bytes

    n = len(keys)
    dt = _median_wall(lambda: pack_bytes(series_to_bytes(keys)), 5)
    report.add("kernels.encode_rows_per_s", "1/s", n / dt)
    buf, lens = pack_bytes(series_to_bytes(keys))
    dt = _median_wall(lambda: digest128(buf, lens), 5)
    report.add("kernels.digest128_rows_per_s", "1/s", n / dt)


def sketch_layers(keys: pd.Series, report) -> None:
    n = len(keys)
    pdf = pd.DataFrame({"key": keys, "value": np.log1p(np.arange(n, dtype=np.float64))})
    halves = pdf.iloc[: n // 2].reset_index(drop=True), pdf.iloc[n // 2 :].reset_index(drop=True)
    for name, sk in five_sketches(n).items():
        dt = _median_wall(lambda: sk.update(sk.zero(), pdf), 3)
        report.add(f"sketches.{name}.update_rows_per_s", "1/s", n / dt)
        a, b = (sk.update(sk.zero(), h) for h in halves)
        report.add(f"sketches.{name}.state_bytes", "bytes", len(sk.serialize(sk.merge(a, b))))
        report.add(f"sketches.{name}.merge_s", "s", _median_wall(lambda: sk.merge(a, b), 20))


def xor_core_layers(keys: pd.Series, seed: int, report) -> None:
    """Shard kernel, peel and fill per key over ``SHARDS`` digest shards of
    the batch, addressed as the JVM-digest build addresses them."""
    from xorfilter_net_spark.filters.spark_build import _dedup_digests, shard_build_kernel
    from xorfilter_net_spark.filters.table import _shard_filter
    from xorfilter_net_spark.filters.xor_core import fill_slots, try_peel
    from xorfilter_net_spark.kernels.column import digest_series

    d0, d1 = digest_series(keys)
    shard = (d0 % np.uint64(SHARDS)).astype(np.int32)
    kernel = shard_build_kernel(WIDTH, seed, "sqlhash", "in_shard")
    t_kernel = t_peel = t_fill = 0.0
    attempts, rounds_n = [], []
    for sid in range(SHARDS):
        m = shard == sid
        pdf = pd.DataFrame(
            {"d0": d0[m].view(np.int64), "d1": d1[m].view(np.int64), "shard": shard[m]}
        )
        t0 = time.perf_counter()
        row = kernel(pdf)
        t_kernel += time.perf_counter() - t0
        f = _shard_filter(row["meta"].iloc[0], row["slots"].iloc[0])
        # replay the successful attempt: same keys, seeds and table size
        s0, s1 = _dedup_digests(d0[m], d1[m])
        idx = f._slot_idx_digest(s0)
        fp = f._fingerprint_digest(s1)
        t0 = time.perf_counter()
        rounds = try_peel(idx, f.size)
        t_peel += time.perf_counter() - t0
        t0 = time.perf_counter()
        slots = fill_slots(rounds, idx, fp, f.size, WIDTH)
        t_fill += time.perf_counter() - t0
        if not np.array_equal(slots, f.slots):
            raise AssertionError(f"replayed fill differs from the kernel's slots on shard {sid}")
        attempts.append(f.attempts)
        rounds_n.append(f.metrics["peel_rounds"])
    n = len(keys)
    report.add("xor_core.shard_kernel_ns_per_key", "ns", 1e9 * t_kernel / n)
    report.add("xor_core.peel_ns_per_key", "ns", 1e9 * t_peel / n)
    report.add("xor_core.fill_ns_per_key", "ns", 1e9 * t_fill / n)
    report.add("xor_core.attempts_max", "count", max(attempts))
    report.add("xor_core.peel_rounds_mean", "count", float(np.mean(rounds_n)))
