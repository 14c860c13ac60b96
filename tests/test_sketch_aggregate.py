"""Execution shape of the two-phase sketch aggregate (sketches/base.py):
one job with one stage, a fold that depends only on the multiset of
phase-1 states, the zero state for an empty input, and a pre-merge level
that keeps the collect under ``spark.driver.maxResultSize``."""

import os
import uuid

from xorfilter_net_spark.sketches.base import aggregate, aggregate_checkpointed
from xorfilter_net_spark.sketches.bloom import BloomSketch
from xorfilter_net_spark.sketches.hll import HllSketch
from xorfilter_net_spark.sketches.kll import KllSketch
from xorfilter_net_spark.sketches.tdigest import TDigestSketch


def _values(spark, lo, hi, parts, expr):
    return spark.range(lo, hi, numPartitions=parts).selectExpr(f"{expr} as value")


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
    sc = spark.sparkContext
    df = _values(spark, 0, 4_000, 8, "cast(id as double)").persist()
    df.count()
    group = f"sketch-aggregate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job shape")
    try:
        aggregate(df, ["value"], KllSketch(64, value_col="value"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1


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


def test_large_states_pre_merge_under_the_result_size_limit(spark):
    """Eight 512 KB Bloom states (4 MB) pass a 2 MB result-size limit, so
    a direct collect would abort; the pre-merge level folds them into
    isqrt(8) = 2 states first, and the OR-merged bits stay exact."""
    df = spark.range(0, 8_000, numPartitions=8).selectExpr(
        "cast(id as string) as key"
    )
    sk = BloomSketch(4 * 1024 * 1024, 3, key_col="key")
    limit = 2 * 1024 * 1024
    assert 8 * len(sk.serialize(sk.zero())) > limit
    expect = sk.serialize(sk.update(sk.zero(), df.toPandas()))
    # The live SparkContext conf: each new task set reads the limit from it.
    conf = spark.sparkContext._jsc.sc().conf()
    conf.set("spark.driver.maxResultSize", str(limit))
    try:
        got = sk.serialize(aggregate(df, ["key"], sk))
    finally:
        conf.remove("spark.driver.maxResultSize")
    assert got == expect
