"""Binary fuse filter: core invariants + Spark build/probe parity.

Mirrors the reference's XOR-filter test layers (SURVEY §5) for the family
successor: zero false negatives at every size, FPR within the published
2^-L bound, same-seed determinism / input-order invariance, duplicate
handling, serialization roundtrip — plus the fuse-specific space claim
(smaller table than the XOR sizing once past the tiny-set regime,
arXiv:2201.01174 §3.2).
"""

import numpy as np
import pytest

from xorfilter_net_spark.filters.fuse_core import (
    FuseFilter,
    build_fuse_from_bytes,
    build_fuse_from_digests,
    fuse_layout,
)
from xorfilter_net_spark.filters.xor_core import table_size as xor_table_size


def _digests(n, seed=0):
    rng = np.random.default_rng(seed)
    d0 = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    d1 = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    return d0, d1


class TestLayout:
    def test_layout_covers_capacity_and_is_segment_aligned(self):
        for n in [1, 2, 3, 10, 100, 10_000, 1_000_000]:
            sl, sc, al = fuse_layout(n)
            assert al == (sc + 2) * sl
            assert sl & (sl - 1) == 0  # power of two
            assert al >= n  # room for every key

    def test_asymptotic_space_beats_xor_sizing(self):
        # 1.125n + segment rounding < 1.23n once n is large
        for n in [50_000, 200_000, 5_000_000]:
            _, _, al = fuse_layout(n)
            assert al < xor_table_size(n)


class TestCoreInvariants:
    @pytest.mark.parametrize("n", [1, 2, 3, 5, 17, 100, 1_000, 30_000])
    @pytest.mark.parametrize("width", [8, 16, 32])
    def test_zero_false_negatives_size_sweep(self, n, width):
        d0, d1 = _digests(n, seed=n * 31 + width)
        f = build_fuse_from_digests(d0, d1, width=width, seed=12345)
        assert f.contains_digests(d0, d1).all()

    def test_fpr_within_published_bound(self):
        # the reference's own statistical bounds for XOR8/16
        # (DeterministicIntegrationTests.cs:131-137) apply verbatim: 2^-L
        d0, d1 = _digests(50_000, seed=1)
        q0, q1 = _digests(400_000, seed=2)  # disjoint w.p. ~1
        f8 = build_fuse_from_digests(d0, d1, width=8, seed=12345)
        assert f8.contains_digests(q0, q1).mean() < 0.01
        f16 = build_fuse_from_digests(d0, d1, width=16, seed=12345)
        assert f16.contains_digests(q0, q1).mean() < 0.005

    def test_same_seed_bit_identical_and_order_invariant(self):
        d0, d1 = _digests(10_000, seed=3)
        a = build_fuse_from_digests(d0, d1, width=16, seed=7)
        b = build_fuse_from_digests(
            d0[::-1].copy(), d1[::-1].copy(), width=16, seed=7
        )
        assert int(a.seed) == int(b.seed) and a.size == b.size
        assert (a.slots == b.slots).all()

    def test_different_seed_different_internals(self):
        d0, d1 = _digests(10_000, seed=4)
        a = build_fuse_from_digests(d0, d1, width=16, seed=1)
        b = build_fuse_from_digests(d0, d1, width=16, seed=2)
        assert not (a.slots == b.slots).all()
        # but the membership contract holds for both
        assert a.contains_digests(d0, d1).all()
        assert b.contains_digests(d0, d1).all()

    def test_duplicates_deduped_before_sizing(self):
        d0, d1 = _digests(1_000, seed=5)
        d0x = np.concatenate([d0, d0, d0])
        d1x = np.concatenate([d1, d1, d1])
        a = build_fuse_from_digests(d0, d1, width=8, seed=9)
        b = build_fuse_from_digests(d0x, d1x, width=8, seed=9)
        assert a.size == b.size and (a.slots == b.slots).all()
        assert b.metrics["n_keys"] == 1_000

    def test_empty_input_raises(self):
        with pytest.raises(ValueError):
            build_fuse_from_digests(
                np.array([], dtype=np.uint64), np.array([], dtype=np.uint64)
            )
        with pytest.raises(ValueError):
            build_fuse_from_bytes([])

    def test_bad_width_raises(self):
        d0, d1 = _digests(10)
        with pytest.raises(ValueError):
            build_fuse_from_digests(d0, d1, width=12)

    def test_bytes_path_including_empty_key(self):
        keys = [b"", b"a", b"ab", b"a" * 10_000, b"a"]
        f = build_fuse_from_bytes(keys, width=32, seed=11)
        assert f.contains_bytes([b"", b"a", b"ab", b"a" * 10_000]).all()
        assert not f.contains_bytes([b"absent-key-%d" % i for i in range(64)]).any()

    def test_serde_roundtrip(self):
        d0, d1 = _digests(5_000, seed=6)
        f = build_fuse_from_digests(d0, d1, width=16, seed=3)
        g = FuseFilter.from_json(f.to_json())
        assert (g.slots == f.slots).all()
        assert g.segment_length == f.segment_length
        assert g.contains_digests(d0, d1).all()

    def test_space_beats_xor_at_scale(self):
        d0, d1 = _digests(100_000, seed=8)
        f = build_fuse_from_digests(d0, d1, width=8, seed=5)
        assert f.size < xor_table_size(100_000)
        assert f.metrics["bits_per_key"] < 1.23 * 8

    def test_slots_pairwise_distinct_per_key(self):
        # consecutive-segment addressing guarantees a true 3-uniform edge
        from xorfilter_net_spark.filters.fuse_core import probe_params, slot_index

        d0, _ = _digests(20_000, seed=9)
        sl, sc, _ = fuse_layout(20_000)
        p = {"seed": 123, "segment_length": sl, "segment_count": sc}
        idx = slot_index(d0, probe_params(p), "digest")
        assert (idx[:, 0] // sl + 1 == idx[:, 1] // sl).all()
        assert (idx[:, 1] // sl + 1 == idx[:, 2] // sl).all()


class TestShardedFuse:
    @pytest.mark.parametrize("jvm", [False, True])
    def test_sharded_build_zero_fn_and_space(self, spark, jvm):
        from pyspark.sql import functions as F

        from xorfilter_net_spark.filters.spark_build import (
            build_sharded_filter,
            is_member,
        )

        rows = [(f"k-{i}",) for i in range(20_000)]
        df = spark.createDataFrame(rows, "key string")
        sff = build_sharded_filter(
            df, "key", num_shards=8, width=16, seed=9, jvm_digests=jvm,
            kind="fuse3",
        )
        assert len(sff.shards) == 8
        # zero false negatives through the distributed probe
        probed = df.withColumn(
            "m", is_member(spark, sff, "key")
        )
        assert (
            probed.agg(F.sum(F.col("m").cast("long"))).collect()[0][0]
            == 20_000
        )
        # space: the published size factor exceeds 1.23 below ~17k keys
        # per shard (0.875 + 0.25·ln(1e6)/ln(n) = 1.23 at n≈16.8k), so at
        # 2.5k/shard we only bound the small-set overhead; the asymptotic
        # beats-XOR claim is asserted on the unsharded core at 100k keys
        m = sff.metrics
        assert m["n_keys"] == 20_000
        assert m["bits_per_key"] < 1.45 * 16
        # non-members nearly all rejected
        non = spark.createDataFrame(
            [(f"absent-{i}",) for i in range(20_000)], "key string"
        )
        fp = (
            non.withColumn("m", is_member(spark, sff, "key"))
            .agg(F.sum(F.col("m").cast("long")))
            .collect()[0][0]
        )
        assert fp <= max(3, int(0.001 * 20_000))

    def test_rebuild_stable_across_partitionings(self, spark):
        from xorfilter_net_spark.filters.spark_build import build_sharded_filter

        rows = [(f"k-{i}",) for i in range(5_000)]
        a = build_sharded_filter(
            spark.createDataFrame(rows, "key string").repartition(3),
            "key", num_shards=4, width=8, seed=1, kind="fuse3",
        )
        b = build_sharded_filter(
            spark.createDataFrame(rows[::-1], "key string").repartition(11),
            "key", num_shards=4, width=8, seed=1, kind="fuse3",
        )
        for sid in a.shards:
            assert (a.shards[sid].slots == b.shards[sid].slots).all()


class TestSparkFuse:
    def test_spark_build_matches_local_core_and_probe(self, spark):
        from xorfilter_net_spark.filters.spark_build import build_filter, probe

        rows = [(f"conv-{i % 97}", i, f"text {i}") for i in range(3_000)]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
        keyed = df.selectExpr("conv_id || ':' || cast(turn_idx as string) as key")
        ff = build_filter(keyed, "key", width=16, seed=12345, kind="fuse3")

        # zero false negatives, distributed probe
        from pyspark.sql import functions as F

        r = probe(keyed.distinct(), ff, "key")
        got = r.agg(F.sum(F.col("is_member").cast("long"))).collect()[0][0]
        assert got == keyed.distinct().count()

        # bit-identical to a local build over the same keys (collect order
        # must not matter)
        local_keys = [r["key"].encode() for r in keyed.distinct().collect()]
        lf = build_fuse_from_bytes(local_keys, width=16, seed=12345)
        assert (lf.slots == ff.slots).all()

        # non-members nearly all rejected at 2^-16
        non = keyed.selectExpr("'nm:' || key as key").distinct()
        fp = (
            probe(non, ff, "key")
            .agg(F.sum(F.col("is_member").cast("long")))
            .collect()[0][0]
        )
        assert fp <= max(3, int(0.005 * non.count()))


class TestFuseSqlProbe:
    def test_sql_probe_row_identical_to_arrow(self, spark):
        from pyspark.sql import functions as F

        from xorfilter_net_spark.filters.spark_build import (
            build_sharded_filter,
            is_member,
            probe_sql,
        )

        rows = [(f"k-{i}",) for i in range(20_000)]
        df = spark.createDataFrame(rows, "key string")
        sff = build_sharded_filter(
            df, "key", num_shards=8, width=16, seed=9, jvm_digests=True,
            kind="fuse3",
        )
        assert sff.mode == "sqlhash"
        # members + guaranteed non-members through both probe paths
        probes = df.union(
            spark.createDataFrame([(f"nm-{i}",) for i in range(20_000)], "key string")
        )
        sql = probe_sql(sff, probes, "key", "m")
        arrow = probes.withColumn("m", is_member(spark, sff, "key"))
        # row-for-row identical, INCLUDING false positives
        assert sql.exceptAll(arrow).count() == 0
        assert arrow.exceptAll(sql).count() == 0
        # zero false negatives on the 20k members
        n_mem = (
            sql.filter(~F.col("key").startswith("nm-"))
            .agg(F.sum(F.col("m").cast("long")))
            .collect()[0][0]
        )
        assert n_mem == 20_000
        # and the plan is Python-free: no ArrowEvalPython / BatchEvalPython
        # (the createDataFrame scan line mentions PythonRDD — that's the
        # test input, not the probe)
        plan = sql._sc._jvm.PythonSQLUtils.explainString(
            sql._jdf.queryExecution(), "formatted"
        )
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan

    def test_sql_probe_rejects_digest_mode(self, spark):
        from xorfilter_net_spark.filters.spark_build import (
            build_sharded_filter,
            probe_sql,
        )

        df = spark.createDataFrame([(f"k-{i}",) for i in range(500)], "key string")
        sff = build_sharded_filter(
            df, "key", num_shards=2, width=8, seed=1, kind="fuse3"
        )
        with pytest.raises(ValueError):
            probe_sql(sff, df, "key")
