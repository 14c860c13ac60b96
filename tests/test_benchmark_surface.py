"""The library surface the repository benchmark (perfbench/) drives.

perfbench imports these names and calls them with these shapes; the
benchmark itself may not change, so a refactor that renames or reshapes
any of them would break its traced run. This pins the surface.
"""

import inspect
import json

import numpy as np
import pandas as pd

from xorfilter_net_spark.filters import spark_build, table, xor_core
from xorfilter_net_spark.kernels import column, hashes
from xorfilter_net_spark.pipeline import checkpoint
from xorfilter_net_spark.sketches import base, columns
from xorfilter_net_spark.sketches.bloom import BloomSketch
from xorfilter_net_spark.sketches.cms import CmsSketch
from xorfilter_net_spark.sketches.hll import HllSketch
from xorfilter_net_spark.sketches.kll import KllSketch
from xorfilter_net_spark.sketches.tdigest import TDigestSketch


def test_benchmark_names_importable_with_their_call_shapes():
    for mod, names in (
        (
            spark_build,
            ["probe_sql", "key_digests_jvm", "jvm_digest_cols", "SHARD_SCHEMA",
             "_dedup_digests", "shard_build_kernel", "ShardedXorFilter"],
        ),
        (table, ["build_xor_filter_table", "_shard_filter", "XorFilterTable"]),
        (xor_core, ["try_peel", "fill_slots", "XorFilter"]),
        (
            checkpoint,
            ["build_xor_filter_checkpointed", "update_xor_filter_checkpointed",
             "artifact_canonical_json"],
        ),
    ):
        for name in names:
            assert hasattr(mod, name), f"{mod.__name__}.{name}"
    assert spark_build.SHARD_SCHEMA == "shard int, meta string, slots binary"
    inspect.signature(spark_build.probe_sql).bind("sxf", "df", "key")
    inspect.signature(table.build_xor_filter_table).bind(
        "df", "key", "path", num_shards=64, width=16, seed=1, jvm_digests=True
    )
    inspect.signature(checkpoint.build_xor_filter_checkpointed).bind(
        "df", "key", "path", num_shards=64, width=16, seed=1, jvm_digests=True
    )
    inspect.signature(checkpoint.update_xor_filter_checkpointed).bind(
        "delta", "key", "base", "upd"
    )
    for attr in ("metrics", "to_sharded", "shards_df"):
        assert hasattr(table.XorFilterTable, attr)
    meta = {"width": 16, "seed": 1, "num_shards": 4, "digest_kind": "xxhash64jvm",
            "mode": "sqlhash", "metrics": {"n_keys": 0}}
    assert table.XorFilterTable(None, "/p", meta).path == "/p"
    for attr in ("_slot_idx_digest", "_fingerprint_digest"):
        assert hasattr(xor_core.XorFilter, attr)


def test_shard_kernel_row_decodes_and_replays():
    """shard_build_kernel with four positional arguments -> one row that
    table._shard_filter decodes; the row keeps metrics.peel_rounds, and a
    peel + fill replayed from the decoded filter's addressing reproduces
    its slots (the benchmark's xor_core layer timing)."""
    rng = np.random.default_rng(3)
    d0 = rng.integers(0, 2**63, 2_000, dtype=np.int64).view(np.uint64)
    d1 = rng.integers(0, 2**63, 2_000, dtype=np.int64).view(np.uint64)
    pdf = pd.DataFrame(
        {"d0": d0.view(np.int64), "d1": d1.view(np.int64),
         "shard": np.full(d0.shape[0], 5, dtype=np.int32)}
    )
    row = spark_build.shard_build_kernel(16, 7, "sqlhash", "in_shard")(pdf)
    assert list(row.columns) == ["shard", "meta", "slots"]
    assert int(row["shard"].iloc[0]) == 5
    assert "peel_rounds" in json.loads(row["meta"].iloc[0])["metrics"]
    f = table._shard_filter(row["meta"].iloc[0], row["slots"].iloc[0])
    assert f.mode == "sqlhash" and f.contains_digests(d0, d1).all()
    s0, s1 = spark_build._dedup_digests(d0, d1)
    idx = f._slot_idx_digest(s0)
    rounds = xor_core.try_peel(idx, f.size)
    slots = xor_core.fill_slots(rounds, idx, f._fingerprint_digest(s1), f.size, 16)
    assert np.array_equal(slots, f.slots)


def test_sketch_surface_call_shapes():
    """The sketch_aggregate workload: ``aggregate`` with three positional
    arguments, the rollup's state-column pair, the key digest and the
    five sketches built and queried as the workload builds and checks
    them."""
    inspect.signature(base.aggregate).bind("df", ["key", "value"], "five")
    inspect.signature(columns.partial_states).bind("df", ["role", "tool"], ["key"], "hll")
    inspect.signature(columns.merge_states).bind("states", ["role"], "hll")

    keys = pd.Series([f"k{i % 300}" for i in range(1_000)])
    d0, d1 = column.digest_series(keys)
    assert d0.dtype == np.uint64 and d1.dtype == np.uint64 and len(d0) == len(keys)
    buf, lens = hashes.pack_bytes(column.series_to_bytes(keys))
    assert all(np.array_equal(a, b) for a, b in zip(hashes.digest128(buf, lens), (d0, d1)))

    n = len(keys)
    pdf = pd.DataFrame({"key": keys, "value": np.log1p(np.arange(n, dtype=np.float64))})
    five = {
        "hll": HllSketch(14, key_col="key"),
        "bloom": BloomSketch.for_capacity(n, 0.01, key_col="key"),
        "cms": CmsSketch(key_col="key"),
        "kll": KllSketch(200, value_col="value"),
        "tdigest": TDigestSketch(200.0, value_col="value"),
    }
    st = {}
    for name, sk in five.items():
        st[name] = sk.deserialize(sk.serialize(sk.merge(sk.zero(), sk.update(sk.zero(), pdf))))
    hll, bloom, cms = five["hll"], five["bloom"], five["cms"]
    assert hll.m == 2**14 and abs(hll.estimate(st["hll"]) - 300) < 15
    assert (cms.estimate_series(st["cms"], keys.iloc[:5]) >= 3).all() and cms.w > 0
    assert bloom.contains_series(st["bloom"], keys).all() and bloom.k > 0 and bloom.m > 0
    for name in ("kll", "tdigest"):
        assert 0.0 <= five[name].quantile(st[name], 0.5) <= pdf["value"].max()
