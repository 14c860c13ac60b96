"""Execution shape of the two-phase sketch aggregate (sketches/base.py):
one job with one stage whose phase 1 runs one wave of task slots, a fold
that depends only on the multiset of phase-1 states, the zero state for
an empty input, and a pre-merge level that keeps the collect under
``spark.driver.maxResultSize``."""

import os
import uuid

from xorfilter_net_spark.sketches import base
from xorfilter_net_spark.sketches.base import aggregate, aggregate_checkpointed
from xorfilter_net_spark.sketches.bloom import BloomSketch
from xorfilter_net_spark.sketches.cms import CmsSketch
from xorfilter_net_spark.sketches.columns import partial_states
from xorfilter_net_spark.sketches.hll import HllSketch
from xorfilter_net_spark.sketches.kll import KllSketch
from xorfilter_net_spark.sketches.tdigest import TDigestSketch
from xorfilter_net_spark.sources.session import task_slots


def _values(spark, lo, hi, parts, expr):
    return spark.range(lo, hi, numPartitions=parts).selectExpr(f"{expr} as value")


def _stage_tasks(spark, run) -> list[list[int]]:
    """Run ``run()`` under a fresh job group; per job, the task count of
    each of its stages."""
    sc = spark.sparkContext
    group = f"sketch-aggregate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job shape")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return [
        [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds]
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]


def _persisted(spark, parts):
    df = spark.range(0, 4_000, numPartitions=parts).selectExpr(
        "cast(id as double) as value", "cast(id % 5 as int) as g"
    ).persist()
    df.count()
    return df


def test_fold_depends_only_on_the_states_not_their_order(spark):
    """KLL and t-digest merges are order-sensitive; swapping the union's
    sides reorders the phase-1 states but must not change the result."""
    a = _values(spark, 0, 6_000, 3, "cast(id as double)")
    b = _values(spark, 0, 6_000, 3, "sqrt(cast(id as double)) * 100")
    for sk in (KllSketch(64, value_col="value"), TDigestSketch(50.0, value_col="value")):
        ab = sk.serialize(aggregate(a.unionByName(b), ["value"], sk))
        ba = sk.serialize(aggregate(b.unionByName(a), ["value"], sk))
        assert ab == ba, type(sk).__name__


def test_aggregate_is_one_job_with_one_stage(spark):
    """A persisted 8-partition input on local[4]: ``aggregate`` is one job
    with one stage of ``task_slots`` tasks, and so is ``partial_states``."""
    df = _persisted(spark, 8)
    try:
        assert df.rdd.getNumPartitions() == 8
        slots = task_slots(spark)
        assert slots == 4
        kll = KllSketch(64, value_col="value")
        assert _stage_tasks(spark, lambda: aggregate(df, ["value"], kll)) == [[slots]]
        hll = HllSketch(10, key_col="value")
        assert _stage_tasks(
            spark, lambda: partial_states(df, ["g"], ["value"], hll).collect()
        ) == [[slots]]
    finally:
        df.unpersist()


def test_small_file_splits_keep_every_input_partition(spark):
    """With ``spark.sql.files.maxPartitionBytes`` so small that
    ceil(size / split) passes the input's partition count, the phase-1
    stage keeps every input partition."""
    df = _persisted(spark, 8)
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "64")
    try:
        kll = KllSketch(64, value_col="value")
        assert _stage_tasks(spark, lambda: aggregate(df, ["value"], kll)) == [[8]]
        hll = HllSketch(10, key_col="value")
        assert _stage_tasks(
            spark, lambda: partial_states(df, ["g"], ["value"], hll).collect()
        ) == [[8]]
    finally:
        spark.conf.set(conf, before)
        df.unpersist()


def test_unknown_or_overflowing_estimates_leave_the_input_alone(spark):
    """Phase 1 coalesces only what the optimizer can size: an RDD-backed
    input (unknown size) and a cross join whose estimate passes an int
    partition count are left as they are."""

    def coalesced(df):
        plan = base._one_wave(df, df.columns)._jdf.queryExecution().logical()
        return "Repartition" in plan.toString()

    assert coalesced(_values(spark, 0, 1_000, 8, "id"))
    rdd = spark.sparkContext.parallelize([(i,) for i in range(100)], 8)
    assert not coalesced(spark.createDataFrame(rdd, "value long"))
    # 8 GB x 0.8 GB: under Long.MaxValue, past 2**31 splits of 128 MB
    cross = spark.range(10**9).crossJoin(spark.range(10**8).withColumnRenamed("id", "j"))
    assert not coalesced(cross)


def test_fixed_size_states_equal_one_pandas_update(spark):
    """HLL, Bloom and CMS states do not depend on how the input is split
    into partitions or grouped into phase-1 tasks."""
    keys = spark.range(0, 6_000).selectExpr("cast(id * 7919 % 4000 as string) as key")
    pdf = keys.toPandas()
    sketches = (
        HllSketch(12, key_col="key"),
        BloomSketch(1 << 16, 3, key_col="key"),
        CmsSketch(4, 512, key_col="key"),
    )
    for parts in (1, 3, 8):
        df = keys.repartition(parts).persist()
        try:
            for sk in sketches:
                expect = sk.serialize(sk.update(sk.zero(), pdf))
                got = sk.serialize(aggregate(df, ["key"], sk))
                assert got == expect, (type(sk).__name__, parts)
        finally:
            df.unpersist()


def test_order_sensitive_states_repeat_on_the_same_input(spark):
    """KLL and t-digest bytes follow the coalescer's grouping, which is
    fixed for one input partitioning and block placement."""
    df = _persisted(spark, 8)
    try:
        for sk in (KllSketch(64, value_col="value"), TDigestSketch(50.0, value_col="value")):
            first = sk.serialize(aggregate(df, ["value"], sk))
            assert sk.serialize(aggregate(df, ["value"], sk)) == first, type(sk).__name__
    finally:
        df.unpersist()


def test_empty_input_gives_the_zero_state(spark, tmp_path):
    empty = _values(spark, 0, 0, 2, "cast(id as double)")
    for sk in (HllSketch(10, key_col="value"), KllSketch(64, value_col="value")):
        zero = sk.serialize(sk.zero())
        assert sk.serialize(aggregate(empty, ["value"], sk)) == zero
        run_dir = str(tmp_path / type(sk).__name__)
        st, _ = aggregate_checkpointed(empty, ["value"], sk, run_dir)
        assert sk.serialize(st) == zero


def test_checkpointed_resume_reproduces_the_kll_state(spark, tmp_path):
    """A run resumed after its partials (merged stage lost) re-folds the
    states read back from parquet into the fresh run's exact bytes."""
    df = _values(spark, 0, 6_000, 4, "cast((id * 7919) % 6000 as double)")
    sk = KllSketch(64, value_col="value")
    run_dir = str(tmp_path / "kll_run")
    fresh, m1 = aggregate_checkpointed(df, ["value"], sk, run_dir)
    assert not m1["merged"]["resumed"]
    os.remove(os.path.join(run_dir, "merged.manifest.json"))
    resumed, m2 = aggregate_checkpointed(df, ["value"], sk, run_dir)
    assert m2["partials"]["resumed"] and not m2["merged"]["resumed"]
    assert sk.serialize(resumed) == sk.serialize(fresh)
    assert sk.serialize(fresh) == sk.serialize(aggregate(df, ["value"], sk))


def test_large_states_pre_merge_under_the_result_size_limit(spark, monkeypatch):
    """Phase 1 folds the 8 input partitions into task_slots (4) states of
    512 KB: 2 MB, past half of a 2 MB result-size limit, so the pre-merge
    level runs (into min(isqrt(4), 1 MB / 512 KB) = 2 groups) before the
    collect, and the OR-merged bits stay exact."""
    df = spark.range(0, 8_000, numPartitions=8).selectExpr(
        "cast(id as string) as key"
    )
    sk = BloomSketch(4 * 1024 * 1024, 3, key_col="key")
    limit = 2 * 1024 * 1024
    slots = task_slots(spark)
    assert slots * len(sk.serialize(sk.zero())) > limit // 2
    expect = sk.serialize(sk.update(sk.zero(), df.toPandas()))
    folds = []
    fold_states = base._fold_states
    monkeypatch.setattr(
        base, "_fold_states", lambda s: folds.append(s) or fold_states(s)
    )
    # The live SparkContext conf: each new task set reads the limit from it.
    conf = spark.sparkContext._jsc.sc().conf()
    conf.set("spark.driver.maxResultSize", str(limit))
    try:
        got = sk.serialize(aggregate(df, ["key"], sk))
    finally:
        conf.remove("spark.driver.maxResultSize")
    assert folds == [sk]
    assert got == expect


def test_group_functions_carry_no_half_type_hints(spark):
    """``applyInPandas`` warns on every call when a function's type hints
    name no eval type; the per-group functions carry none, so the grouped
    map eval type is chosen without the warning."""
    import warnings

    from xorfilter_net_spark.sketches.base import aggregate_by_group
    from xorfilter_net_spark.sketches.columns import merge_states
    from xorfilter_net_spark.sketches.rolling import rolling_distinct_exact

    df = spark.range(10).selectExpr("id % 3 as g", "id as u", "timestamp_seconds(id) as ts")
    sk = HllSketch(p=4)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        merge_states(aggregate_by_group(df, ["g"], ["u"], sk), ["g"], sk)
        rolling_distinct_exact(df, "u", "ts", 100, window=2)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]


def test_long_keys_digest_alike_with_a_null_in_their_batch(spark):
    """Arrow hands a ``long`` batch holding a null to pandas as float64;
    each long still sets the register it sets from a batch without one."""
    import numpy as np

    sk = HllSketch(p=12)
    longs = spark.range(0, 1000, numPartitions=1).selectExpr("id as k")
    with_null = spark.range(0, 1001, numPartitions=1).selectExpr(
        "if(id = 1000, null, id) as k"
    )
    a, b = aggregate(longs, ["k"], sk), aggregate(with_null, ["k"], sk)
    assert np.array_equal(sk.merge(a, b), b)
    assert abs(sk.estimate(sk.merge(a, b)) - 1000) < 50
