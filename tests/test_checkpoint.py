"""Checkpoint/resume: stage skipping, artifact determinism, invalidation."""

import json
import os

from xorfilter_net_spark.pipeline.checkpoint import (
    build_xor_filter_checkpointed,
)
from xorfilter_net_spark.sources.transcripts import (
    load_transcripts,
    with_membership_key,
)


def _keyed(spark, sf_tiny):
    return with_membership_key(load_transcripts(spark, sf_tiny)).select("key")


def test_fresh_build_then_resume_identical(spark, sf_tiny, tmp_path):
    df = _keyed(spark, sf_tiny)
    run_dir = str(tmp_path / "run1")
    sxf1, m1 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=42, input_token="sf_tiny"
    )
    assert all(not st["resumed"] for st in m1.values())
    # every stage leaves a manifest with lineage
    man = json.load(open(os.path.join(run_dir, "digests.manifest.json")))
    assert man["rows"] > 0 and len(man["partitions"]) >= 1
    assert man["rows"] == sum(p["rows"] for p in man["partitions"])

    sxf2, m2 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=42, input_token="sf_tiny"
    )
    assert all(st["resumed"] for st in m2.values())
    assert sxf1.to_dict() == sxf2.to_dict()


def test_param_change_invalidates_downstream(spark, sf_tiny, tmp_path):
    df = _keyed(spark, sf_tiny)
    run_dir = str(tmp_path / "run2")
    _, m1 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=1, input_token="t"
    )
    _, m2 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=2, input_token="t"
    )
    # digests stage is seed-independent -> resumed; shards+filter rebuilt
    assert m2["digests"]["resumed"]
    assert not m2["shards"]["resumed"]
    assert not m2["filter"]["resumed"]


def test_resumed_filter_probes_correctly(spark, sf_tiny, tmp_path):
    from pyspark.sql import functions as F

    from xorfilter_net_spark.filters.spark_build import is_member

    df = _keyed(spark, sf_tiny)
    run_dir = str(tmp_path / "run3")
    build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=7, input_token="t"
    )
    sxf, m = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=7, input_token="t"
    )
    assert all(st["resumed"] for st in m.values())
    members = df.distinct()
    n = members.count()
    found = (
        members.withColumn("m", is_member(spark, sxf, "key"))
        .agg(F.sum(F.col("m").cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    assert found == n  # zero false negatives through a resumed artifact


def test_checkpointed_jvm_sqlhash_build_sql_probe_and_resume(
    spark, sf_tiny, tmp_path
):
    """Scale-path checkpointed build: jvm digests + sqlhash addressing,
    probe-able with zero Python, and resume yields the identical artifact."""
    from pyspark.sql import functions as F

    from xorfilter_net_spark.filters.spark_build import probe_sql

    df = _keyed(spark, sf_tiny)
    run_dir = str(tmp_path / "run_jvm")
    sxf1, m1 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=9,
        input_token="sf_tiny", jvm_digests=True,
    )
    assert sxf1.digest_kind == "xxhash64jvm" and sxf1.mode == "sqlhash"
    assert all(not st["resumed"] for st in m1.values())

    members = df.distinct()
    n = members.count()
    found = (
        probe_sql(sxf1, members, "key")
        .agg(F.sum(F.col("is_member").cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    assert found == n

    sxf2, m2 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=8, width=16, seed=9,
        input_token="sf_tiny", jvm_digests=True,
    )
    assert all(st["resumed"] for st in m2.values())
    assert sxf1.to_dict() == sxf2.to_dict()


def test_digest_kind_change_invalidates_digests_stage(spark, sf_tiny, tmp_path):
    df = _keyed(spark, sf_tiny)
    run_dir = str(tmp_path / "run_kind")
    _, m1 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=4, width=8, seed=1, input_token="t"
    )
    _, m2 = build_xor_filter_checkpointed(
        df, "key", run_dir, num_shards=4, width=8, seed=1, input_token="t",
        jvm_digests=True,
    )
    assert not m2["digests"]["resumed"]
    assert not m2["shards"]["resumed"]


def test_sketch_aggregate_checkpointed_resumes_identically(spark, sf_tiny, tmp_path):
    import numpy as np

    from xorfilter_net_spark.sketches.base import aggregate, aggregate_checkpointed
    from xorfilter_net_spark.sketches.hll import HllSketch

    ev = spark.read.parquet(f"{sf_tiny}/events.parquet")
    sk = HllSketch(p=12, key_col="user_id")
    run_dir = str(tmp_path / "hll_run")

    st1, m1 = aggregate_checkpointed(
        ev, ["user_id"], sk, run_dir, params={"p": 12}
    )
    assert not m1["partials"]["resumed"] and not m1["merged"]["resumed"]
    # per-partition lineage recorded for the expensive pass
    assert m1["partials"]["rows"] >= 1 and m1["partials"]["partitions"]
    # matches the non-checkpointed two-phase aggregate bit-for-bit
    assert np.array_equal(st1, aggregate(ev, ["user_id"], sk))

    # rerun: both stages skip, identical final state
    st2, m2 = aggregate_checkpointed(
        ev, ["user_id"], sk, run_dir, params={"p": 12}
    )
    assert m2["partials"]["resumed"] and m2["merged"]["resumed"]
    assert np.array_equal(st1, st2)

    # changing sketch params invalidates the chain
    sk14 = HllSketch(p=14, key_col="user_id")
    _, m3 = aggregate_checkpointed(ev, ["user_id"], sk14, run_dir, params={"p": 14})
    assert not m3["partials"]["resumed"] and not m3["merged"]["resumed"]


class TestIncrementalUpdate:
    """update_xor_filter_checkpointed: delta folds, partial re-peel."""

    @staticmethod
    def _df(spark, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('key_', cast(id as string)) as key"
        )

    @staticmethod
    def _canon(artifact_dict):
        """Artifact identity minus wall-clock build metrics."""
        d = json.loads(json.dumps(artifact_dict))
        for sh in d.get("shards", {}).values():
            sh.pop("metrics", None)
        return d

    def test_update_equals_full_rebuild_bytewise(self, spark, tmp_path):
        from xorfilter_net_spark.pipeline.checkpoint import (
            update_xor_filter_checkpointed,
        )

        base = self._df(spark, 0, 400)
        delta = self._df(spark, 350, 500)  # 50 overlap + 100 new
        kw = dict(num_shards=8, width=16, seed=42)
        _, _ = build_xor_filter_checkpointed(
            base, "key", str(tmp_path / "base"), input_token="b",
            jvm_digests=True, **kw
        )
        upd, m = update_xor_filter_checkpointed(
            delta, "key", str(tmp_path / "base"), str(tmp_path / "upd"),
            input_token="d",
        )
        full, _ = build_xor_filter_checkpointed(
            self._df(spark, 0, 500), "key", str(tmp_path / "full"),
            input_token="f", jvm_digests=True, **kw
        )
        assert self._canon(upd.to_dict()) == self._canon(full.to_dict())
        assert 1 <= m["update"]["shards_rebuilt"] <= 8

    def test_only_affected_shards_repeel_and_membership(self, spark, tmp_path):
        import numpy as np

        from xorfilter_net_spark.filters.spark_build import ShardedXorFilter
        from xorfilter_net_spark.pipeline.checkpoint import (
            update_xor_filter_checkpointed,
        )

        base = self._df(spark, 0, 300)
        _, _ = build_xor_filter_checkpointed(
            base, "key", str(tmp_path / "base"), num_shards=64, width=16,
            seed=7, input_token="b", jvm_digests=True,
        )
        # one new key -> exactly one shard rebuilt
        delta = spark.createDataFrame([("brand_new_key_xyz",)], "key string")
        upd, m = update_xor_filter_checkpointed(
            delta, "key", str(tmp_path / "base"), str(tmp_path / "upd"),
            input_token="d1",
        )
        assert m["update"]["shards_rebuilt"] == 1
        base_art = ShardedXorFilter.from_dict(
            json.load(open(tmp_path / "base" / "filter.json"))
        )
        same = sum(
            1
            for sid, f in upd.shards.items()
            if sid in base_art.shards
            and f.slots.tobytes() == base_art.shards[sid].slots.tobytes()
        )
        assert same >= len(base_art.shards) - 1  # untouched shards verbatim

        # zero false negatives over base + delta via the probe kernel
        from xorfilter_net_spark.filters.spark_build import key_digests_jvm

        all_keys = base.unionAll(delta)
        pdf = key_digests_jvm(all_keys, "key").toPandas()
        got = upd.contains_digests(
            pdf["d0"].to_numpy(np.int64).view(np.uint64),
            pdf["d1"].to_numpy(np.int64).view(np.uint64),
        )
        assert got.all()

    def test_noop_delta_and_chained_update(self, spark, tmp_path):
        from xorfilter_net_spark.pipeline.checkpoint import (
            update_xor_filter_checkpointed,
        )

        base = self._df(spark, 0, 200)
        kw = dict(num_shards=8, width=16, seed=3)
        b, _ = build_xor_filter_checkpointed(
            base, "key", str(tmp_path / "base"), input_token="b",
            jvm_digests=True, **kw
        )
        # delta of already-present keys: nothing rebuilds, filter unchanged
        noop, m0 = update_xor_filter_checkpointed(
            self._df(spark, 0, 50), "key",
            str(tmp_path / "base"), str(tmp_path / "u0"), input_token="n",
        )
        assert m0["update"]["shards_rebuilt"] == 0
        assert self._canon(noop.to_dict()) == self._canon(b.to_dict())

        # chain: base -> u1 -> u2 equals one full build
        u1, _ = update_xor_filter_checkpointed(
            self._df(spark, 200, 260), "key",
            str(tmp_path / "base"), str(tmp_path / "u1"), input_token="d1",
        )
        u2, _ = update_xor_filter_checkpointed(
            self._df(spark, 260, 320), "key",
            str(tmp_path / "u1"), str(tmp_path / "u2"), input_token="d2",
        )
        full, _ = build_xor_filter_checkpointed(
            self._df(spark, 0, 320), "key", str(tmp_path / "full"),
            input_token="f", jvm_digests=True, **kw
        )
        assert self._canon(u2.to_dict()) == self._canon(full.to_dict())

        # resume: rerunning the update skips every stage
        u2b, m2 = update_xor_filter_checkpointed(
            self._df(spark, 260, 320), "key",
            str(tmp_path / "u1"), str(tmp_path / "u2"), input_token="d2",
        )
        assert all(
            st.get("resumed", True)
            for name, st in m2.items()
            if name != "update"
        )
        assert self._canon(u2b.to_dict()) == self._canon(u2.to_dict())


def test_checkpointed_shards_equal_table_build_bytes(spark, sf_tiny, tmp_path):
    """The checkpointed build and build_xor_filter_table run the same shard
    kernel: per-shard meta and slot bytes are equal for the same keys and
    seed (only the wall-clock build_sec differs)."""
    from xorfilter_net_spark.filters.table import build_xor_filter_table

    df = _keyed(spark, sf_tiny)
    kw = dict(num_shards=8, width=16, seed=42, jvm_digests=True)
    build_xor_filter_checkpointed(
        df, "key", str(tmp_path / "run"), input_token="t", **kw
    )
    tab = build_xor_filter_table(df, "key", str(tmp_path / "tab"), **kw)

    def rows(sdf):
        out = {}
        for r in sdf.toPandas().itertuples(index=False):
            meta = json.loads(r.meta)
            meta["metrics"].pop("build_sec")
            out[int(r.shard)] = (meta, bytes(r.slots))
        return out

    ck = rows(spark.read.parquet(str(tmp_path / "run" / "shards")))
    assert ck == rows(tab.shards_df())
    assert len(ck) == 8


def test_previous_format_run_dir_rebuilds_shards(spark, sf_tiny, tmp_path):
    """A run dir whose shards stage holds the previous row format (one
    JSON ``artifact`` column per shard, no format token in the stage
    fingerprint) is rebuilt on resume, not misread; an update refuses it
    as a base."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from xorfilter_net_spark.pipeline.checkpoint import (
        _fingerprint,
        artifact_canonical_json,
        update_xor_filter_checkpointed,
    )

    df = _keyed(spark, sf_tiny)
    run_dir = str(tmp_path / "old")
    kw = dict(num_shards=8, width=16, seed=42, input_token="t", jvm_digests=True)
    fresh, _ = build_xor_filter_checkpointed(df, "key", run_dir, **kw)

    # rewrite the shards and filter stages as the previous format left them
    shards_dir = os.path.join(run_dir, "shards")
    shutil.rmtree(shards_dir)
    os.makedirs(shards_dir)
    fs = [fresh.shards[s] for s in sorted(fresh.shards)]
    pq.write_table(
        pa.table(
            {
                "shard": pa.array(sorted(fresh.shards), pa.int32()),
                "artifact": [f.to_json() for f in fs],
                "n_keys": pa.array([f.metrics["n_keys"] for f in fs], pa.int64()),
                "table_size": pa.array([f.size for f in fs], pa.int64()),
                "attempts": pa.array([f.attempts for f in fs], pa.int32()),
            }
        ),
        os.path.join(shards_dir, "part-00000.parquet"),
    )
    man_p = os.path.join(run_dir, "shards.manifest.json")
    man = json.load(open(man_p))
    old_fp = json.loads(man["fingerprint"])
    del old_fp["format"]
    man["fingerprint"] = _fingerprint(old_fp)
    json.dump(man, open(man_p, "w"))
    fman_p = os.path.join(run_dir, "filter.manifest.json")
    fman = json.load(open(fman_p))
    fman["fingerprint"] = _fingerprint({"stage": "filter", "up": man["fingerprint"]})
    json.dump(fman, open(fman_p, "w"))
    art = json.load(open(os.path.join(run_dir, "filter.json")))
    del art["kind"]
    json.dump(art, open(os.path.join(run_dir, "filter.json"), "w"))

    with pytest.raises(ValueError, match="row format"):
        update_xor_filter_checkpointed(
            df.limit(5), "key", run_dir, str(tmp_path / "upd"), input_token="d"
        )

    resumed, m = build_xor_filter_checkpointed(df, "key", run_dir, **kw)
    assert m["digests"]["resumed"]
    assert not m["shards"]["resumed"] and not m["filter"]["resumed"]
    assert artifact_canonical_json(resumed) == artifact_canonical_json(fresh)
    assert spark.read.parquet(shards_dir).columns == ["shard", "meta", "slots"]
