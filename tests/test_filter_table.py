"""Distributed-artifact (table-persisted) XOR filter: build + cogrouped probe.

Covers the 10^12-key path of filters/table.py: executor-parallel artifact
write (no driver collect of slots), shard-cogrouped probing, and
equivalence with the driver-collected build (same kernel => bit-identical
shards; reference determinism contract, DeterministicIntegrationTests.cs:13-34).
"""

import hashlib
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from xorfilter_net_spark.filters import spark_build
from xorfilter_net_spark.filters.spark_build import (
    build_sharded_filter,
    is_member,
    key_digests_jvm,
    probe_sql,
    shard_frame,
)
from xorfilter_net_spark.filters.table import XorFilterTable, build_xor_filter_table
from xorfilter_net_spark.sources.transcripts import load_transcripts, with_membership_key


@pytest.fixture(scope="module")
def keyed(spark, sf_tiny):
    return with_membership_key(load_transcripts(spark, sf_tiny)).select("key").distinct()


def test_table_build_bit_identical_to_collected_build(spark, keyed, tmp_path):
    tab = build_xor_filter_table(
        keyed, "key", str(tmp_path / "art"), num_shards=8, width=16,
        seed=42, jvm_digests=True,
    )
    mem = build_sharded_filter(keyed, "key", num_shards=8, width=16, seed=42)
    loaded = tab.to_sharded()
    assert set(loaded.shards) == set(mem.shards)
    for sid, f in mem.shards.items():
        g = loaded.shards[sid]
        assert g.size == f.size
        assert np.array_equal(g.seeds, f.seeds)
        assert np.array_equal(g.slots, f.slots)
    assert tab.metrics["n_keys"] == keyed.count()


def test_cogroup_probe_zero_false_negatives(spark, keyed, tmp_path):
    tab = build_xor_filter_table(
        keyed, "key", str(tmp_path / "art"), num_shards=8, width=16,
        seed=7, jvm_digests=True,
    )
    n = keyed.count()
    found = (
        tab.probe(keyed, "key")
        .agg(F.sum(F.col("is_member").cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    assert found == n


def test_cogroup_probe_matches_broadcast_probe_rowwise(spark, keyed, tmp_path):
    """Same artifact => the cogrouped probe and the broadcast Arrow probe
    agree on every row, INCLUDING which non-members are false positives."""
    tab = build_xor_filter_table(
        keyed, "key", str(tmp_path / "art"), num_shards=8, width=8,
        seed=3, jvm_digests=True,
    )
    sxf = tab.to_sharded()
    non = keyed.selectExpr("'nm:' || key as key")
    via_table = {
        r["key"]: r["is_member"] for r in tab.probe(non, "key").collect()
    }
    via_bcast = {
        r["key"]: r["is_member"]
        for r in non.withColumn(
            "is_member", is_member(spark, sxf, "key")
        ).collect()
    }
    assert via_table == via_bcast


def test_absent_shards_probe_false_not_error(spark, tmp_path):
    tiny = spark.createDataFrame(
        [(f"k{i}",) for i in range(3)], "key string"
    )
    tab = build_xor_filter_table(
        tiny, "key", str(tmp_path / "art"), num_shards=64, width=16,
        seed=1, jvm_digests=True,
    )
    # members still found
    assert (
        tab.probe(tiny, "key")
        .agg(F.sum(F.col("is_member").cast("long")).alias("n"))
        .collect()[0]["n"]
        == 3
    )
    # 500 disjoint probes route mostly to absent shards: no errors, and at
    # width 16 the expected false-positive count is ~0
    non = spark.createDataFrame([(f"x{i}",) for i in range(500)], "key string")
    fp = (
        tab.probe(non, "key")
        .agg(F.sum(F.col("is_member").cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    assert fp == 0


def test_load_roundtrip(spark, keyed, tmp_path):
    path = str(tmp_path / "art")
    tab = build_xor_filter_table(
        keyed, "key", path, num_shards=8, width=16, seed=42, jvm_digests=True
    )
    re = XorFilterTable.load(spark, path)
    assert (re.width, re.seed, re.num_shards) == (tab.width, tab.seed, tab.num_shards)
    n = keyed.count()
    assert (
        re.probe(keyed, "key")
        .agg(F.sum(F.col("is_member").cast("long")).alias("n"))
        .collect()[0]["n"]
        == n
    )


def test_murmur_table_dir_is_refused(spark, tmp_path):
    """A table dir written by the murmur sharded lane fails loudly on load
    and on construction instead of probing with the wrong digests."""
    path = tmp_path / "art"
    (path / "shards").mkdir(parents=True)
    meta = {"width": 16, "seed": 9, "num_shards": 4, "digest_kind": "murmur",
            "mode": "digest"}
    (path / "filter.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="rebuild"):
        XorFilterTable.load(spark, str(path))
    with pytest.raises(ValueError, match="rebuild"):
        XorFilterTable(spark, str(path), meta)


def test_murmur_lane_build_is_refused(spark, keyed, tmp_path):
    with pytest.raises(ValueError, match="murmur"):
        build_xor_filter_table(
            keyed, "key", str(tmp_path / "art"), num_shards=4, jvm_digests=False
        )


def _without_timings(meta: dict) -> dict:
    return {k: v for k, v in meta.items() if k != "metrics"}


def _shard_rows(tab) -> dict:
    """shard -> (meta without its ``metrics`` timings, slot bytes)."""
    return {
        r["shard"]: (_without_timings(json.loads(r["meta"])), bytes(r["slots"]))
        for r in tab.shards_df().collect()
    }


def _rows_sha256(rows: dict) -> str:
    """sha256 over shard rows in shard order: ``str(shard)``, the meta JSON
    with sorted keys, then the slot bytes."""
    h = hashlib.sha256()
    for sid in sorted(rows):
        meta, slots = rows[sid]
        h.update(str(sid).encode())
        h.update(json.dumps(meta, sort_keys=True).encode())
        h.update(slots)
    return h.hexdigest()


# shard rows of the ``keyed`` fixture at num_shards 8, width 16, seed 42,
# unchanged since the one sharded layer was introduced
XOR_ROWS_SHA256 = "6689a85f6cb8b22c9ee373258da5399afdb51211aa668e83314333288b932fa6"
FUSE_ROWS_SHA256 = "b52d994376a9d6f2dbd54e28d5e9d12df209f61f74016260245e29a786574a2f"


def test_artifact_bytes_independent_of_task_layout(spark, keyed, tmp_path, monkeypatch):
    """The shard exchange sends shard s to task s mod T, T = min(num_shards,
    task_slots): one task per shard, several shards per task, or all
    shards in one task must give the same artifact bytes."""
    dig = key_digests_jvm(keyed, "key")
    for num_shards in (8, 64):
        seen = []
        for tasks in (1, 3, 128):
            monkeypatch.setattr(spark_build, "task_slots", lambda _s, t=tasks: t)
            tab = build_xor_filter_table(
                keyed, "key", str(tmp_path / f"art_{num_shards}_{tasks}"),
                num_shards=num_shards, width=16, seed=42, jvm_digests=True,
            )
            seen.append(_shard_rows(tab))
            stage = shard_frame(dig, num_shards, 16, 42)
            assert stage.rdd.getNumPartitions() == min(num_shards, tasks)
        assert len(seen[0]) == num_shards
        assert seen[1] == seen[0] and seen[2] == seen[0]
        if num_shards == 8:
            assert _rows_sha256(seen[0]) == XOR_ROWS_SHA256

    monkeypatch.undo()
    fuse = build_sharded_filter(keyed, "key", num_shards=8, width=16, seed=42, kind="fuse3")
    assert _rows_sha256({
        sid: (_without_timings(f.meta()), f.slots.tobytes())
        for sid, f in fuse.shards.items()
    }) == FUSE_ROWS_SHA256

    # one wave: task slots, floored at half the (2x cores) shuffle partitions
    conf = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(conf)
    try:
        for shuffle, width in ((2 * cores, cores), (2, cores), (128, 64)):
            spark.conf.set(conf, str(shuffle))
            stage = shard_frame(dig, 64, 16, 42)
            assert stage.rdd.getNumPartitions() == width
    finally:
        spark.conf.set(conf, before)


def test_shard_build_has_one_exchange(spark):
    """Digests -> shard rows crosses exactly one exchange: the groupBy
    reuses the shard exchange's partitioning instead of adding its own."""
    keys = spark.range(1_000).selectExpr("cast(id AS string) AS key")
    stage = shard_frame(key_digests_jvm(keys, "key"), 8, 16, 42)
    plan = stage._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan


@pytest.fixture(scope="module")
def one_shard_keys(spark):
    """Keys that all route to shard 0 of 16 (the JVM d0 lane is
    ``xxhash64(key)``), so 15 of the 16 shards are empty."""
    return (
        spark.range(16_000)
        .selectExpr("concat('adv-', id) AS key")
        .where("pmod(xxhash64(key), 16) = 0")
    )


def test_all_keys_in_one_shard(spark, one_shard_keys, tmp_path):
    tab = build_xor_filter_table(
        one_shard_keys, "key", str(tmp_path / "art"), num_shards=16,
        width=16, seed=11, jvm_digests=True,
    )
    mem = build_sharded_filter(
        one_shard_keys, "key", num_shards=16, width=16, seed=11
    )
    assert tab.metrics["num_shards_built"] == 1
    assert _shard_rows(tab) == {
        sid: (_without_timings(f.meta()), f.slots.tobytes())
        for sid, f in mem.shards.items()
    }

    n = one_shard_keys.count()
    # non-members routed to the 15 empty shards: no filter, so never a hit
    empty = (
        spark.range(2_000)
        .selectExpr("concat('miss-', id) AS key")
        .where("pmod(xxhash64(key), 16) != 0")
    )
    for probe in (
        lambda df: probe_sql(mem, df, "key"),
        lambda df: tab.probe(df, "key"),
    ):
        hits = probe(one_shard_keys).agg(
            F.sum(F.col("is_member").cast("long"))
        ).collect()[0][0]
        assert hits == n
        assert probe(empty).where("is_member").count() == 0


def test_duplicate_heavy_keys_give_the_unique_artifact(spark, one_shard_keys, tmp_path):
    """Each key 50x, in shuffled order: the shard kernel's dedup leaves the
    artifact equal to the unique keys'."""
    dups = (
        one_shard_keys.crossJoin(spark.range(50))
        .orderBy(F.rand(5))
        .select("key")
    )
    want = _shard_rows(build_xor_filter_table(
        one_shard_keys, "key", str(tmp_path / "unique"), num_shards=16,
        width=16, seed=11, jvm_digests=True,
    ))
    got = _shard_rows(build_xor_filter_table(
        dups, "key", str(tmp_path / "dups"), num_shards=16, width=16,
        seed=11, jvm_digests=True,
    ))
    assert got == want


def test_crashed_rebuild_leaves_no_stale_meta(spark, tmp_path, monkeypatch):
    """A rebuild into an existing table dir that dies after overwriting
    the shards but before publishing its meta leaves no meta at all, so
    loading fails instead of probing the new shards with the old
    parameters (which misses members)."""
    from xorfilter_net_spark import commit

    keys = spark.range(300).selectExpr("concat('k', cast(id as string)) as key")
    path = str(tmp_path / "t")
    build_xor_filter_table(keys, "key", path, num_shards=4, width=8, seed=1)

    def crash_point(step, p):
        if (step, os.path.basename(p)) == ("publish", "filter.json"):
            raise RuntimeError("crash before the meta publish")

    monkeypatch.setattr(commit, "_crash_point", crash_point)
    with pytest.raises(RuntimeError):
        build_xor_filter_table(keys, "key", path, num_shards=8, width=8, seed=2)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError):
        XorFilterTable.load(spark, path)
