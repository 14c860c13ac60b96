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
from xorfilter_net_spark.pipeline import checkpoint


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


def test_sharded_filter_reads_json_without_kind():
    """Sharded-filter JSON written before the family field existed (e.g.
    ``cli build-xor`` output) has no ``kind``: it reads as XOR."""
    rng = np.random.default_rng(4)
    d0 = rng.integers(0, 2**63, 500, dtype=np.int64).view(np.uint64)
    d1 = rng.integers(0, 2**63, 500, dtype=np.int64).view(np.uint64)
    shard = spark_build.ShardedFilter.route(d0, 2)
    shards = {
        s: xor_core.build_from_digests(d0[shard == s], d1[shard == s], width=8, seed=s)
        for s in (0, 1)
    }
    d = spark_build.ShardedXorFilter(8, 0, shards, 2).to_dict()
    del d["kind"]
    back = spark_build.ShardedXorFilter.from_dict(json.loads(json.dumps(d)))
    assert back.kind == "xor" and back.contains_digests(d0, d1).all()
