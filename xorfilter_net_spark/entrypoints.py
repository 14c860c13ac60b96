"""Query registry backing ``__spark_entry__.py`` (the driver contract).

Every entry pairs a Spark DataFrame program with an ANSI-SQL oracle that
DuckDB runs over the same parquet tables; column names and types are
aligned on both sides (the driver hashes values under sorted column
names). Aggregates over doubles go through ``decimal(18,4)`` so both
engines sum exactly, then cast back to double.

Probabilistic operators are gated in one of three deterministic ways:
- *zero-false-negative counts*: probing the member set must find exactly
  ``count(distinct key)`` rows (the reference's hard invariant,
  DeterministicIntegrationTests.cs:74-89);
- *XOR32 semi-join*: FPR 2^-32 over ~10^4 probes makes the probe's output
  equal the exact semi-join with probability ~1-10^-5 — compared row-for-row;
- *bound checks*: statistically-true facts (FPR under the published bound)
  are computed Spark-side and returned as booleans whose oracle is the
  constant TRUE — if the implementation drifts out of bound, the value
  hash breaks.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text.cooccur import token_cooccurrence
from .filters.xor_core import table_size as xor_table_size
from .filters.spark_build import (
    build_filter,
    build_sharded_filter,
    is_member,
    probe,
    probe_sql,
)
from .sources.session import load_table
from .sources.transcripts import (
    KEY_EXPR,
    TRANSCRIPTS_CTE,
    load_transcripts,
    with_membership_key,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec_sum(col: str, alias: str) -> str:
    return f"cast(sum(cast({col} as decimal(18,4))) as double) as {alias}"


_KEYED_CTE = (
    f"with {TRANSCRIPTS_CTE}, keyed as "
    f"(select {KEY_EXPR} as key, turn_idx, role from transcripts)"
)


# ---------------------------------------------------------------------------
# transcripts derivation (per-turn text equality under stable ordering —
# the input_hint's per-row invariant, checked value-for-value vs DuckDB)
# ---------------------------------------------------------------------------
@query(
    "transcripts_shape",
    f"with {TRANSCRIPTS_CTE} "
    "select conv_id, turn_idx, role, text, tool, ts_epoch from transcripts",
)
def q_transcripts_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts_epoch"
    )


# ---------------------------------------------------------------------------
# XOR filter family (SURVEY.md §2.1 O1-O12)
# ---------------------------------------------------------------------------
@query(
    "xor16_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_xor16_zero_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = with_membership_key(load_transcripts(spark, sf_dir))
    xf = build_filter(t, "key", width=16, seed=12345)
    r = probe(t.select("key").distinct(), xf, "key")
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "xor8_fpr_within_bound",
    "select true as zero_fn, true as fpr_ok",
)
def q_xor8_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XOR8 statistical gate: zero FN on members, FPR < 1% on a disjoint
    probe set (the reference's own test bound,
    DeterministicIntegrationTests.cs:109-141)."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    members = t.select("key").distinct()
    xf = build_filter(members, "key", width=8, seed=12345)
    fn_count = (
        probe(members, xf, "key")
        .agg(F.sum((~F.col("is_member")).cast("long")).alias("fn"))
        .collect()[0]["fn"]
    )
    # non-members are disjoint by construction (members start with 'conv-')
    non = members.selectExpr("'nm:' || key as key")
    stats = (
        probe(non, xf, "key")
        .agg(
            F.sum(F.col("is_member").cast("long")).alias("fp"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    fpr = stats["fp"] / max(stats["n"], 1)
    return t.sparkSession.createDataFrame(
        [(fn_count == 0, fpr < 0.01)], "zero_fn boolean, fpr_ok boolean"
    )


@query(
    "xor32_membership_semijoin",
    f"{_KEYED_CTE} select distinct key from keyed "
    "where key in (select key from keyed where turn_idx % 2 = 0)",
)
def q_xor32_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe ALL transcript keys against an XOR32 filter of the even-turn
    keys; at FPR 2^-32 the result equals the exact semi-join."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    members = t.filter("turn_idx % 2 = 0").select("key").distinct()
    xf = build_filter(members, "key", width=32, seed=777)
    return probe(t.select("key").distinct(), xf, "key").filter("is_member").select(
        "key"
    )


@query(
    "fuse16_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_fuse16_zero_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary fuse filter (Graf & Lemire, arXiv:2201.01174) — the family
    successor to the reference's XOR filter: same zero-false-negative
    contract at ~1.125n slots instead of 1.23n (BaseXorFilter.cs:31-32),
    with segment-local probe gathers."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    ff = build_filter(t, "key", width=16, seed=12345, kind="fuse3")
    r = probe(t.select("key").distinct(), ff, "key")
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "fuse8_space_fpr_ok",
    "select true as zero_fn, true as fpr_ok, true as space_ok",
)
def q_fuse8_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuse8 statistical gates: zero FN on members, FPR < 1% on a disjoint
    probe set (the reference's own XOR8 bound,
    DeterministicIntegrationTests.cs:109-141), and — the reason the fuse
    construction exists — a strictly smaller slot table than the XOR
    sizing max(3, ceil(1.23 n)) would allocate for the same key set
    (asserted whenever n is past the small-set regime where the segmented
    layout's rounding dominates)."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    members = t.select("key").distinct()
    ff = build_filter(members, "key", width=8, seed=12345, kind="fuse3")
    fn_count = (
        probe(members, ff, "key")
        .agg(F.sum((~F.col("is_member")).cast("long")).alias("fn"))
        .collect()[0]["fn"]
    )
    non = members.selectExpr("'nm:' || key as key")
    stats = (
        probe(non, ff, "key")
        .agg(
            F.sum(F.col("is_member").cast("long")).alias("fp"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    fpr = stats["fp"] / max(stats["n"], 1)
    n_keys = ff.metrics["n_keys"]
    space_ok = n_keys < 20_000 or ff.size < xor_table_size(n_keys)
    return t.sparkSession.createDataFrame(
        [(fn_count == 0, fpr < 0.01, bool(space_ok))],
        "zero_fn boolean, fpr_ok boolean, space_ok boolean",
    )


@query(
    "ribbon16_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_ribbon16_zero_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ribbon filter (Dillinger & Walzer, arXiv:2103.02515) — the
    space-optimal point of the family: same zero-false-negative contract
    at ~1.05n slots via a banded GF(2) solve instead of a peel; the
    broadcast-size-constrained choice (filters/ribbon.py)."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    rf = build_filter(t, "key", width=16, seed=12345, kind="ribbon64")
    r = probe(t.select("key").distinct(), rf, "key")
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "ribbon_space_fpr_ok",
    "select true as zero_fn, true as fpr_ok, true as space_ok",
)
def q_ribbon_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ribbon statistical gates: zero FN on members, FPR < 1% on a
    disjoint probe set (the reference's XOR8 bound applied to width 8),
    and the reason ribbon exists — a slot table strictly smaller than
    BOTH the XOR sizing (1.23n) and the fuse sizing for the same key
    set (asserted past the small-n regime where the 4/sqrt(n) slack and
    the W-1 tail dominate)."""
    from .filters.fuse_core import fuse_layout

    t = with_membership_key(load_transcripts(spark, sf_dir))
    members = t.select("key").distinct()
    rf = build_filter(members, "key", width=8, seed=12345, kind="ribbon64")
    fn_count = (
        probe(members, rf, "key")
        .agg(F.sum((~F.col("is_member")).cast("long")).alias("fn"))
        .collect()[0]["fn"]
    )
    non = members.selectExpr("'nm:' || key as key")
    stats = (
        probe(non, rf, "key")
        .agg(
            F.sum(F.col("is_member").cast("long")).alias("fp"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    fpr = stats["fp"] / max(stats["n"], 1)
    n_keys = rf.metrics["n_keys"]
    space_ok = n_keys < 20_000 or (
        rf.size < fuse_layout(n_keys)[2] and rf.size < xor_table_size(n_keys)
    )
    return t.sparkSession.createDataFrame(
        [(fn_count == 0, fpr < 0.01, bool(space_ok))],
        "zero_fn boolean, fpr_ok boolean, space_ok boolean",
    )


@query(
    "fuse_sharded_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_fuse_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor-parallel fuse construction (per-shard applyInPandas peel,
    JVM codegen digests — no raw key ever crosses the Arrow boundary):
    the scale path for the smaller filter family."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    sff = build_sharded_filter(
        t, "key", num_shards=16, width=16, seed=42, jvm_digests=True,
        kind="fuse3",
    )
    r = t.select("key").distinct().withColumn(
        "is_member", is_member(spark, sff, "key")
    )
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "fuse_sql_probe_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_fuse_sql_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-Python fuse pipeline: sqlhash addressing + the probe evaluated
    entirely in whole-stage codegen (``probe_sql``) — fuse addressing
    is simpler in SQL than XOR's (fastrange segment + power-of-two offset
    masks, no unsigned-mod corrections). Row-identical to the Arrow probe
    (tests/test_fuse_core.py::TestFuseSqlProbe)."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    sff = build_sharded_filter(
        t, "key", num_shards=16, width=16, seed=42, jvm_digests=True,
        kind="fuse3",
    )
    r = probe_sql(sff, t.select("key").distinct(), "key")
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "xor_sharded_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_xor_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully executor-side construction path (per-shard applyInPandas peel)."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    sxf = build_sharded_filter(t, "key", num_shards=16, width=16, seed=42)
    r = t.select("key").distinct().withColumn(
        "is_member", is_member(spark, sxf, "key")
    )
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "xor_jvm_digest_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_xor_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path construction: digests via JVM xxhash64 in whole-stage
    codegen, single shard shuffle, in-shard dedup — no Python sees a raw
    key anywhere in build OR probe."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    sxf = build_sharded_filter(
        t, "key", num_shards=16, width=16, seed=42, jvm_digests=True
    )
    r = t.select("key").distinct().withColumn(
        "is_member", is_member(spark, sxf, "key")
    )
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "xor_sql_probe_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_xor_sql_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully zero-Python pipeline: sqlhash addressing (slot mixing =
    builtin xxhash64 semantics) and the probe evaluated entirely in
    whole-stage codegen as three broadcast hash joins against the
    flattened slot table — no Arrow boundary in build digesting OR
    probing. The scale headline path (see BENCH/BASELINE.md)."""
    t = with_membership_key(load_transcripts(spark, sf_dir))
    sxf = build_sharded_filter(
        t, "key", num_shards=16, width=16, seed=42, jvm_digests=True
    )
    r = probe_sql(sxf, t.select("key").distinct(), "key")
    return r.agg(F.sum(F.col("is_member").cast("long")).alias("n_members_found"))


@query(
    "xor_table_cogroup_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_xor_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-driver-memory path (filters/table.py): the artifact is
    persisted as a distributed parquet table (executor-parallel write, no
    driver collect of slots) and probed via a shard-cogrouped join — the
    strategy that still works when the filter exceeds both driver memory
    and the broadcast threshold (~2.5 TB at the 10^12-turn target)."""
    import shutil
    import tempfile

    from .filters.table import build_xor_filter_table

    t = with_membership_key(load_transcripts(spark, sf_dir))
    keys = t.select("key").distinct()
    tmp = tempfile.mkdtemp(prefix="xorart_")
    try:
        tab = build_xor_filter_table(
            t, "key", tmp, num_shards=16, width=16, seed=42, jvm_digests=True
        )
        r = tab.probe(keys, "key").agg(
            F.sum(F.col("is_member").cast("long")).alias("n_members_found")
        )
        # materialize before the artifact dir is removed
        rows = r.collect()
        return spark.createDataFrame(rows, r.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "xor_table_sql_probe_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_xor_table_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-broadcast zero-Python path: the persisted distributed
    artifact is probed via three shuffled hash joins against the
    executor-decoded slot table (XorFilterTable.probe_sql) — no driver
    load, no broadcast, no Arrow boundary on the probe corpus. The
    strategy that still works when the filter itself is terabytes."""
    import shutil
    import tempfile

    from .filters.table import build_xor_filter_table

    t = with_membership_key(load_transcripts(spark, sf_dir))
    keys = t.select("key").distinct()
    tmp = tempfile.mkdtemp(prefix="xorart_sql_")
    try:
        tab = build_xor_filter_table(
            t, "key", tmp, num_shards=16, width=16, seed=42, jvm_digests=True
        )
        r = tab.probe_sql(keys, "key").agg(
            F.sum(F.col("is_member").cast("long")).alias("n_members_found")
        )
        rows = r.collect()
        return spark.createDataFrame(rows, r.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "xor_incremental_update_ok",
    "select true as artifact_identical, true as zero_false_negatives, "
    "true as partial_rebuild",
)
def q_xor_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental filter maintenance (pipeline/checkpoint.py::
    update_xor_filter_checkpointed): fold a delta into a checkpointed
    build re-peeling ONLY affected shards. The reference's filters are
    static — any addition is a whole-corpus rebuild (reference
    README.md:113); at 100 TB this update instead digests only the delta.
    Gates: (1) updated artifact byte-identical to a full rebuild over
    base ∪ delta, (2) zero false negatives over the union via the
    zero-Python SQL probe, (3) strictly fewer shards re-peeled than
    exist."""
    import json as _json
    import shutil
    import tempfile

    from .pipeline.checkpoint import (
        build_xor_filter_checkpointed,
        update_xor_filter_checkpointed,
    )

    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "concat('d', cast(doc_id as string)) as key", "doc_id"
    )
    base, delta = docs.filter("doc_id >= 25"), docs.filter("doc_id < 25")
    kw = dict(num_shards=64, width=16, seed=7, jvm_digests=True)

    def canon(d: dict) -> str:
        d = _json.loads(_json.dumps(d))
        for sh in d.get("shards", {}).values():
            sh.pop("metrics", None)
        return _json.dumps(d, sort_keys=True)

    tmp = tempfile.mkdtemp(prefix="xorupd_")
    try:
        build_xor_filter_checkpointed(
            base, "key", f"{tmp}/base", input_token="b", **kw
        )
        upd, m = update_xor_filter_checkpointed(
            delta, "key", f"{tmp}/base", f"{tmp}/upd", input_token="d"
        )
        full, _ = build_xor_filter_checkpointed(
            docs, "key", f"{tmp}/full", input_token="f", **kw
        )
        n_false = (
            probe_sql(upd, docs.select("key"), "key")
            .filter(~F.col("is_member"))
            .count()
        )
        rebuilt = m["update"]["shards_rebuilt"]
        return spark.createDataFrame(
            [
                (
                    canon(upd.to_dict()) == canon(full.to_dict()),
                    n_false == 0,
                    1 <= rebuilt < kw["num_shards"],
                )
            ],
            "artifact_identical boolean, zero_false_negatives boolean, "
            "partial_rebuild boolean",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# mergeable sketch family (north_rule: Bloom/HLL/CMS/KLL/t-digest as
# two-phase UDAF-style aggregates)
# ---------------------------------------------------------------------------
@query(
    "bloom_zero_false_negatives",
    f"{_KEYED_CTE} select count(distinct key) as n_members_found from keyed",
)
def q_bloom_zero_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase mergeable Bloom build (mapInPandas partials +
    treeAggregate), then vectorized probe of the member set — a Bloom
    filter can never miss an inserted key."""
    import pandas as pd

    from .sketches.base import aggregate
    from .sketches.bloom import BloomSketch

    t = with_membership_key(load_transcripts(spark, sf_dir))
    members = t.select("key").distinct()
    n = members.count()
    sk = BloomSketch.for_capacity(n, fpp=0.001, key_col="key")
    state = aggregate(t, ["key"], sk)
    bc = spark.sparkContext.broadcast(sk.serialize(state))
    params = (sk.m, sk.k)

    @F.pandas_udf("boolean")
    def bloom_probe(s: pd.Series) -> pd.Series:
        from .sketches.bloom import BloomSketch as BS

        sk2 = BS(*params)
        st2 = sk2.deserialize(bc.value)
        return pd.Series(sk2.contains_series(st2, s))

    return members.withColumn("m", bloom_probe("key")).agg(
        F.sum(F.col("m").cast("long")).alias("n_members_found")
    )


@query(
    "cuckoo_triad_ok",
    "select true as zero_fn_live, true as deleted_rejected, "
    "true as fpr_ok, true as space_ok",
)
def q_cuckoo_triad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuckoo filter (CoNEXT'14) — completes the comparison triad of the
    reference's own paper citation, "Xor Filters: Faster and Smaller Than
    Bloom and Cuckoo Filters" (reference README.md:18,121). Build over
    all distinct event ids, delete a strict subset, then gate: (a) zero
    false negatives on survivors, (b) deleted keys rejected at ~FPR,
    (c) disjoint probe set within 3x the published bound 2b/2^f, (d) at
    the realized load, bits/key beats a Bloom filter targeting the same
    FPR (1.44 log2(1/eps)) whenever load >= 0.9 (power-of-two rounding
    can land lower — then the space gate is vacuously true, the FPR/FN
    gates never are)."""
    import math

    import pandas as pd

    from .filters.cuckoo import build_cuckoo_from_digests
    from .filters.spark_build import key_digests_jvm

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "cast(event_id as string) as key", "event_id"
    )
    inserts = ev.select("key", "event_id").distinct()
    deletes = inserts.filter("event_id % 3 = 0").select("key")
    keeps = inserts.filter("event_id % 3 != 0").select("key")
    # digests JVM-side; only 16 bytes/key reach the driver build
    dig = key_digests_jvm(inserts, "key").dropDuplicates(["d0", "d1"]).toPandas()
    import numpy as np

    f = build_cuckoo_from_digests(
        dig["d0"].to_numpy(np.int64).view(np.uint64),
        dig["d1"].to_numpy(np.int64).view(np.uint64),
    )
    ddig = key_digests_jvm(deletes, "key").dropDuplicates(["d0", "d1"]).toPandas()
    f.delete_digests(
        ddig["d0"].to_numpy(np.int64).view(np.uint64),
        ddig["d1"].to_numpy(np.int64).view(np.uint64),
    )
    bc = spark.sparkContext.broadcast(f.serialize())

    @F.pandas_udf("boolean")
    def ck_probe(d0: pd.Series, d1: pd.Series) -> pd.Series:
        from .filters.cuckoo import CuckooFilter as CF

        g = CF.deserialize(bc.value)
        return pd.Series(
            g.contains_digests(
                d0.to_numpy(np.int64).view(np.uint64),
                d1.to_numpy(np.int64).view(np.uint64),
            )
        )

    from .filters.spark_build import jvm_digest_cols

    def probe_count(df):
        c0, c1 = jvm_digest_cols("key")
        return (
            df.withColumn("m", ck_probe(c0, c1))
            .agg(F.sum(F.col("m").cast("long")).alias("fp"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )

    kc = probe_count(keeps)
    dc = probe_count(deletes)
    nc = probe_count(keeps.selectExpr("'nm:' || key as key"))
    bound = max(3 * f.fpr_bound(), 0.002)
    bloom_bits = 1.44 * math.log2(1 / f.fpr_bound())
    space_ok = f.load_factor < 0.9 or f.bits_per_key < bloom_bits
    return spark.createDataFrame(
        [
            (
                kc["fp"] == kc["n"],
                dc["fp"] / max(dc["n"], 1) < bound,
                nc["fp"] / max(nc["n"], 1) < bound,
                bool(space_ok),
            )
        ],
        "zero_fn_live boolean, deleted_rejected boolean, "
        "fpr_ok boolean, space_ok boolean",
    )


@query(
    "cbf_delete_semantics_ok",
    "select true as zero_fn_live, true as deleted_rejected, true as fpr_ok",
)
def q_cbf_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting Bloom filter — the deletable membership sketch the static
    XOR/fuse family can't be (reference README.md:113: add/remove
    requires rebuild). Build one CBF over all distinct event ids and one
    over a strict subset (the deletes), subtract counter-wise, then gate:
    (a) every surviving key still probes true (deletes cannot create
    false negatives when delete ⊆ insert), (b) deleted keys are rejected
    at ~FPR (they are genuinely gone, not tombstoned), (c) a disjoint
    probe set stays within 3x the published FPR for the LIVE count —
    deletes reclaim space."""
    import pandas as pd

    from .sketches.base import aggregate
    from .sketches.cbf import CountingBloomSketch

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "cast(event_id as string) as key", "event_id"
    )
    inserts = ev.select("key", "event_id").distinct()
    n_all = inserts.count()
    deletes = inserts.filter("event_id % 3 = 0").select("key")
    keeps = inserts.filter("event_id % 3 != 0").select("key")
    sk = CountingBloomSketch.for_capacity(n_all, fpp=0.01, key_col="key")
    live = sk.subtract(
        aggregate(inserts.select("key"), ["key"], sk),
        aggregate(deletes, ["key"], sk),
    )
    bc = spark.sparkContext.broadcast(sk.serialize(live))
    params = (sk.m, sk.k)

    @F.pandas_udf("boolean")
    def cbf_probe(s: pd.Series) -> pd.Series:
        from .sketches.cbf import CountingBloomSketch as CBS

        sk2 = CBS(*params)
        st2 = sk2.deserialize(bc.value)
        return pd.Series(sk2.contains(st2, s))

    n_keep = keeps.count()
    found_live = (
        keeps.withColumn("m", cbf_probe("key"))
        .agg(F.sum(F.col("m").cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    bound = 3 * sk.fpr_bound(n_keep)
    del_stats = (
        deletes.withColumn("m", cbf_probe("key"))
        .agg(F.sum(F.col("m").cast("long")).alias("fp"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    non = keeps.selectExpr("'nm:' || key as key")
    non_stats = (
        non.withColumn("m", cbf_probe("key"))
        .agg(F.sum(F.col("m").cast("long")).alias("fp"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                found_live == n_keep,
                del_stats["fp"] / max(del_stats["n"], 1) < max(bound, 0.005),
                non_stats["fp"] / max(non_stats["n"], 1) < max(bound, 0.005),
            )
        ],
        "zero_fn_live boolean, deleted_rejected boolean, fpr_ok boolean",
    )


@query(
    "hll_distinct_per_source_ok",
    "select source, true as within_bound from documents group by source",
)
def q_hll_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL (groupBy().applyInPandas) vs exact countDistinct;
    returns TRUE per group iff |est-exact|/exact <= 4 * 1.04/sqrt(m)."""
    from .sketches.base import aggregate_by_group
    from .sketches.hll import HllSketch

    docs = load_table(spark, sf_dir, "documents")
    h = HllSketch(p=14, key_col="text")
    states = {
        r["source"]: h.estimate(h.deserialize(bytes(r["state"])))
        for r in aggregate_by_group(docs, ["source"], ["text"], h).collect()
    }
    exact = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.countDistinct("text").alias("n")).collect()
    }
    rows = [
        (src, abs(states[src] - ex) / max(ex, 1) <= 4 * h.rel_std_error)
        for src, ex in exact.items()
    ]
    return spark.createDataFrame(rows, "source string, within_bound boolean")


@query(
    "hll_rollup_events_ok",
    "select event_type, true as within_bound, true as rollup_matches_direct "
    "from events where event_type is not null and user_id is not null "
    "group by event_type",
)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized sketch-column rollup (sketches/columns.py): raw events
    are folded ONCE into per-(event_type, day) HLL states (map-side combine,
    no raw-row shuffle), then the per-type answer is produced by re-merging
    the stored daily states — the 100 TB pattern where rollups never re-read
    the corpus. Gates: (a) estimate from the rolled-up states within
    4 sigma of exact countDistinct; (b) rolled-up state byte-identical to
    direct per-type aggregation (merge associativity, end to end)."""
    from .sketches.columns import finish_estimates, merge_states, partial_states
    from .sketches.hll import HllSketch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter("event_type is not null and user_id is not null")
        .withColumn("day", F.to_date("ts"))
    )
    h = HllSketch(p=12, key_col="user_id")
    daily = merge_states(
        partial_states(ev, ["event_type", "day"], ["user_id"], h),
        ["event_type", "day"],
        h,
    )
    rolled = merge_states(daily, ["event_type"], h)
    direct = merge_states(
        partial_states(ev, ["event_type"], ["user_id"], h), ["event_type"], h
    )
    est = finish_estimates(rolled, ["event_type"], h)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    match = (
        rolled.withColumnRenamed("state", "r_state")
        .join(direct.withColumnRenamed("state", "d_state"), "event_type")
        .select(
            "event_type",
            (F.col("r_state") == F.col("d_state")).alias(
                "rollup_matches_direct"
            ),
        )
    )
    tol = 4 * h.rel_std_error
    return (
        est.join(exact, "event_type")
        .join(match, "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("estimate") - F.col("exact"))
                / F.greatest(F.col("exact"), F.lit(1))
                <= F.lit(tol)
            ).alias("within_bound"),
            "rollup_matches_direct",
        )
    )


@query(
    "ddsketch_rollup_events_ok",
    "select event_type, true as p50_rank_ok, true as p95_rank_ok, "
    "true as rollup_matches_direct "
    "from events where event_type is not null and value is not null "
    "group by event_type",
)
def q_ddsketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-column rollup pattern applied to QUANTILES: per-
    (event_type, day) DDSketch states built in one map-side-combined
    pass, per-type answers by re-merging stored daily states. DDSketch
    is the right quantile sketch for this because its merge is plain
    bucket-count addition — the rolled-up state is BYTE-IDENTICAL to
    direct per-type aggregation (KLL/t-digest merges only agree within
    their error bound), asserted per type alongside rank-accuracy gates
    on p50/p95 from the rolled-up states."""
    from .sketches.columns import merge_states, partial_states
    from .sketches.ddsketch import DDSketch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter("event_type is not null and value is not null")
        .withColumn("day", F.to_date("ts"))
        .persist()
    )
    sk = DDSketch(alpha=0.01, value_col="value", max_bins=4096)
    daily = merge_states(
        partial_states(ev, ["event_type", "day"], ["value"], sk),
        ["event_type", "day"],
        sk,
    )
    rolled = merge_states(daily, ["event_type"], sk)
    direct = merge_states(
        partial_states(ev, ["event_type"], ["value"], sk), ["event_type"], sk
    )
    match = (
        rolled.withColumnRenamed("state", "r_state")
        .join(direct.withColumnRenamed("state", "d_state"), "event_type")
        .select(
            "event_type",
            (F.col("r_state") == F.col("d_state")).alias(
                "rollup_matches_direct"
            ),
        )
    )
    # rank-accuracy of the rolled-up states: per type, the fraction of
    # values at or below the estimate must sit within 0.02 of q (the
    # same empirical gate as ddsketch_event_value_quantiles_ok)
    rows = []
    for r in rolled.collect():
        st = sk.deserialize(bytes(r["state"]))
        sub = ev.filter(F.col("event_type") == r["event_type"])
        n = sub.count()
        oks = []
        # 0.02 rank margin widened by discreteness at small per-type n
        tol = max(0.02, 2.5 / n)
        for q in (0.5, 0.95):
            est = sk.quantile(st, q)
            tr = sub.filter(F.col("value") <= est).count() / n
            oks.append(abs(tr - q) <= tol)
        rows.append((r["event_type"], oks[0], oks[1]))
    checks = spark.createDataFrame(
        rows, "event_type string, p50_rank_ok boolean, p95_rank_ok boolean"
    )
    out = checks.join(match, "event_type").select(
        "event_type", "p50_rank_ok", "p95_rank_ok", "rollup_matches_direct"
    )
    out = out.cache()
    out.count()
    ev.unpersist()
    return out


@query(
    "cms_event_type_counts",
    "select event_type, count(*) as est_count from events group by event_type",
)
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for the event_type column. With
    w=8192 >> cardinality the min-over-rows estimate is collision-free,
    so the sketch reproduces the exact GROUP BY counts."""
    import pandas as pd

    from .sketches.base import aggregate
    from .sketches.cms import CmsSketch

    ev = load_table(spark, sf_dir, "events")
    c = CmsSketch(d=5, w=8192, key_col="event_type")
    st = aggregate(ev, ["event_type"], c)
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    est = c.estimate_series(st, pd.Series(types))
    return spark.createDataFrame(
        [(t, int(e)) for t, e in zip(types, est)],
        "event_type string, est_count bigint",
    )


@query(
    "countsketch_event_type_counts",
    "select event_type, count(*) as est_count from events group by event_type",
)
def q_countsketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-sketch (signed/unbiased, Charikar-Chen-Farach-Colton)
    frequency estimates for event_type. With w=8192 >> cardinality the
    median-over-rows estimate is collision-free in a majority of rows,
    so the sketch reproduces the exact GROUP BY counts (the general
    eps*||f||_2 bound is property-tested in test_sketches.py)."""
    import pandas as pd

    from .sketches.base import aggregate
    from .sketches.countsketch import CountSketch

    ev = load_table(spark, sf_dir, "events")
    cs = CountSketch(d=7, w=8192, key_col="event_type")
    st = aggregate(ev, ["event_type"], cs)
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    est = cs.estimate_series(st, pd.Series(types))
    return spark.createDataFrame(
        [(t, int(round(e))) for t, e in zip(types, est)],
        "event_type string, est_count bigint",
    )


@query(
    "countsketch_f2_users_ok",
    # value-rich oracle (r04 conversion, the join_size_ok pattern): the
    # exact F2 is derived independently in DuckDB and value-hashed;
    # only the AMS variance-band check on the sketch's own estimate
    # stays an in-query boolean.
    "select (select cast(sum(c * c) as bigint) from ("
    "select count(*) as c from events group by user_id)) as exact_f2, "
    "true as f2_ok",
)
def q_countsketch_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS self-join-size gate: the count sketch's median-over-rows
    sum-of-squares estimate of F2 = sum_u f(u)^2 over events.user_id
    must sit within 4 per-row standard deviations (sqrt(2/w) relative)
    of the exact self-join size — the Alon-Matias-Szegedy variance
    bound. F2 is the canonical join-cardinality-planning statistic;
    the exact value is emitted and checked against the oracle's own
    independent derivation."""
    from .sketches.base import aggregate
    from .sketches.countsketch import CountSketch

    ev = load_table(spark, sf_dir, "events")
    cs = CountSketch(d=9, w=4096, key_col="user_id")
    st = aggregate(ev.select(F.col("user_id").cast("string")), ["user_id"], cs)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
        .collect()[0]["f2"]
    )
    ok = abs(cs.f2(st) - float(exact)) / float(exact) < 4 * cs.f2_rel_sd
    return spark.createDataFrame(
        [(int(exact), bool(ok))], "exact_f2 long, f2_ok boolean"
    )


@query(
    "countsketch_join_size_ok",
    "select (select count(*) from orders o join customer c "
    "on o.o_custkey = c.c_custkey) as exact_join_size, "
    "true as within_bound",
)
def q_countsketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-cardinality estimation (Alon-Gibbons-Matias-
    Szegedy, PODS'99): orders and customer are count-sketched
    INDEPENDENTLY on custkey (one mergeable pass each — the join never
    runs), and the median-over-rows inner product of the two states must
    sit within 6 per-row standard deviations (sqrt(2 F2a F2b / w)) of
    the exact |orders ⋈ customer|. This is the planning statistic that
    lets a 100 TB optimizer size a join from two O(d·w) states instead
    of executing it; the exact join runs here only as the oracle."""
    from .sketches.base import aggregate
    from .sketches.countsketch import CountSketch

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("k")
    )
    cs = CountSketch(d=9, w=8192, key_col="k")
    sa = aggregate(orders, ["k"], cs)
    sb = aggregate(cust, ["k"], cs)
    est = cs.inner_product(sa, sb)

    def f2_of(df):
        return float(
            df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
            .collect()[0]["f2"]
        )

    exact = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .count()
    )
    sd = (2 * f2_of(orders) * f2_of(cust) / cs.w) ** 0.5
    ok = abs(est - exact) < 6 * sd
    return spark.createDataFrame(
        [(int(exact), bool(ok))],
        "exact_join_size long, within_bound boolean",
    )


@query(
    "fd_embeddings_ok",
    "select true as spectral_ok, true as psd_ok",
)
def q_fd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent Directions gate over the embedding corpus: the mergeable
    ell-row matrix sketch B (two-phase aggregate, one <=2*ell-row state
    per partition crossing the shuffle) must satisfy the published
    deterministic guarantee vs the exact Gram matrix A'A (itself
    computed DISTRIBUTIVELY: per-partition d x d partial sums via
    mapInPandas — numPartitions x d^2 floats cross the wire, never the
    corpus — then summed driver-side; same two-phase shape as the
    sketch, so the gate is 100-TB-safe):
      spectral_ok:  lambda_max(A'A - B'B) <= 2*||A||_F^2 / ell
      psd_ok:       A'A - B'B >= 0 (the sketch never overestimates the
                    energy of any direction)
    This is the PCA/covariance primitive for 100 TB embedding tables —
    exact Gram accumulation is replaced by ell rows per partition."""
    import numpy as np

    from .sketches.base import aggregate
    from .sketches.fd import FrequentDirections

    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    d = len(emb.first()["embedding"])
    fd = FrequentDirections(ell=24, d=d, vec_col="embedding")
    st = aggregate(emb.repartition(8), ["embedding"], fd)

    def _gram_partials(batches):
        G = np.zeros((d, d), dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf):
                A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                G += A.T @ A
                seen = True
        if seen:
            yield pd.DataFrame({"gram": [G.ravel().tolist()]})

    parts = emb.mapInPandas(
        _gram_partials, "gram array<double>"
    ).collect()
    AtA = np.zeros((d, d), dtype=np.float64)
    for r in parts:
        AtA += np.asarray(r["gram"], dtype=np.float64).reshape(d, d)
    diff = AtA - fd.gram(st)
    eigs = np.linalg.eigvalsh(diff)
    fro2 = float(np.trace(AtA))
    spectral_ok = bool(eigs.max() <= fd.cov_error_bound(st) + 1e-9 * fro2)
    psd_ok = bool(eigs.min() >= -1e-9 * fro2)
    return spark.createDataFrame(
        [(spectral_ok, psd_ok)], "spectral_ok boolean, psd_ok boolean"
    )


@query(
    "mg_heavy_hitters_event_types",
    "select event_type, count(*) as est_count from events group by event_type",
)
def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitters summary over event_type. With k=16 >= 5
    distinct keys no counter eviction ever fires, so the mergeable
    summary reproduces the exact GROUP BY counts (the general
    undercount bound N/(k+1) is property-tested in test_sketches.py)."""
    from .sketches.base import aggregate
    from .sketches.misra_gries import MisraGriesSketch

    ev = load_table(spark, sf_dir, "events")
    mg = MisraGriesSketch(k=16, key_col="event_type")
    est = mg.finish(aggregate(ev, ["event_type"], mg))
    return spark.createDataFrame(
        [(t, int(c)) for t, c in est.items()],
        "event_type string, est_count bigint",
    )


@query(
    "streaming_windowed_event_counts",
    "select epoch_us(date_trunc('hour', ts)) as window_start_epoch, "
    "event_type, count(*) as n, "
    + _dec_sum("value", "total_value")
    + " from events group by 1, 2",
)
def q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming through the real streaming engine: the
    events parquet replayed as a file-source stream, event-time 1h
    windows aggregated in the streaming state store
    (streaming/windowed.py), complete-mode memory sink. The oracle is
    the equivalent batch GROUP BY — stream/batch parity is the
    correctness contract (late-data/watermark-drop semantics are pinned
    separately in tests/test_streaming_windowed.py)."""
    from .streaming.windowed import windowed_agg

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        # glob, not bare file path: the streaming file source requires a
        # directory/glob basePath
        .parquet(f"{sf_dir}/events.parque*")
        # watermarks require TIMESTAMP (not the parquet NTZ); session TZ
        # is UTC so the cast is wall-clock identity
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = windowed_agg(
        stream,
        time_col="ts",
        window_duration="1 hour",
        watermark_delay="1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.expr(_dec_sum("value", "total_value")),
        ],
    )
    qn = "streaming_windowed_event_counts_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(qn)
        # complete mode: every window is emitted at the final trigger,
        # so a bounded replay yields the full deterministic answer
        # (append mode would hold back windows newer than the watermark)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qn).select(
        F.unix_micros(F.col("window.start").cast("timestamp")).alias(
            "window_start_epoch"
        ),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "streaming_dedup_event_counts",
    "select event_type, count(*) as n, count(distinct event_id) as n_ids "
    "from events group by event_type",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest dedup through the real streaming engine: the
    events stream is deliberately double-delivered (each row duplicated
    map-side, modeling at-least-once redelivery), then deduplicated in
    the state store via dropDuplicatesWithinWatermark — whose state is
    bounded by watermark-delay x arrival rate, not corpus cardinality.
    The oracle is the plain batch GROUP BY over the ORIGINAL events: if
    even one duplicate leaked, n would double somewhere and the value
    hash would break."""
    from .streaming.windowed import streaming_dedup

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/events.parque*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        # duplicate every row: at-least-once delivery, deterministically
        .withColumn("_dup", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("_dup")
    )
    deduped = streaming_dedup(
        stream, key_cols=["event_id"], time_col="ts", watermark_delay="2 hours"
    )
    qn = "streaming_dedup_event_counts_sink"
    q = (
        deduped.writeStream.format("memory")
        .queryName(qn)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qn).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@query(
    "streaming_stateful_hll_per_type",
    "select event_type, true as within_bound from events "
    "where event_type is not null and user_id is not null "
    "group by event_type",
)
def q_streaming_stateful_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator through the real engine: a
    running per-event_type HLL of distinct users lives in the streaming
    state store (applyInPandasWithState), updated across micro-batches
    of the replayed events stream. The final per-group estimate (the
    update-mode row with the largest n_rows) must sit within 4 sigma of
    the exact batch countDistinct — the same bound the batch HLL gates
    use, proving batch/stream sketch parity."""
    from .sketches.hll import HllSketch
    from .streaming.windowed import stateful_group_sketch

    h = HllSketch(p=12, key_col="user_id")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/events.parque*")
        .filter("event_type is not null and user_id is not null")
    )
    est = stateful_group_sketch(
        stream,
        group_col="event_type",
        value_cols=["user_id"],
        sketch=h,
        finish=lambda sk, st: int(sk.estimate(st)),
    )
    qn = "streaming_stateful_hll_sink"
    q = (
        est.writeStream.format("memory")
        .queryName(qn)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per group per micro-batch; the final
    # state is the row with the largest n_rows per group
    from pyspark.sql import Window as W

    w = W.partitionBy("group").orderBy(F.desc("n_rows"))
    final = (
        spark.table(qn)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(F.col("group").alias("event_type"), "estimate")
        .collect()
    )
    est_by_type = {r["event_type"]: r["estimate"] for r in final}
    ev = load_table(spark, sf_dir, "events").filter(
        "event_type is not null and user_id is not null"
    )
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = [
        (et, abs(est_by_type.get(et, 0) - ex) / max(ex, 1) <= 4 * h.rel_std_error)
        for et, ex in exact.items()
    ]
    return spark.createDataFrame(rows, "event_type string, within_bound boolean")


@query(
    "streaming_join_click_view",
    "select c.user_id as user_id, c.event_id as click_id, "
    "v.event_id as view_id "
    "from events c join events v on c.user_id = v.user_id "
    "where c.event_type = 'click' and v.event_type = 'view' "
    "and v.ts >= c.ts - INTERVAL '24 hours' and v.ts <= c.ts",
)
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join through the real
    streaming engine (streaming/joins.py): clicks and views replayed as
    two file-source streams, equi-joined on user_id with a 24h time-range
    condition — join state on both sides is watermark-bounded, matching
    is JVM-side. Oracle: the identical batch inequality join. Cross-
    micro-batch state retention is pinned separately in
    tests/test_streaming_windowed.py."""
    from .streaming.joins import interval_join_stream

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def stream() -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(f"{sf_dir}/events.parque*")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    clicks = stream().filter("event_type = 'click'").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    views = stream().filter("event_type = 'view'").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    pairs = interval_join_stream(
        clicks,
        views,
        ["user_id"],
        "click_ts",
        "view_ts",
        "-24 hours",
        "0 seconds",
        watermark_delay="1 hour",
    )
    qn = "streaming_join_click_view_sink"
    q = (
        pairs.writeStream.format("memory")
        .queryName(qn)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qn).select("user_id", "click_id", "view_id")


@query(
    "streaming_sessionize_events",
    "with flagged as (select user_id, ts, case when "
    " lag(ts) over w is null or "
    " epoch_us(ts) - epoch_us(lag(ts) over w) > 1800000000 "
    " then 1 else 0 end as is_start from events "
    " window w as (partition by user_id order by ts, event_id)), "
    "sess as (select user_id, ts, sum(is_start) over "
    " (partition by user_id order by ts rows unbounded preceding) as sid "
    " from flagged) "
    "select user_id, min(epoch_us(ts)) as session_start_epoch, "
    "count(*) as n_events from sess group by user_id, sid",
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization through the real streaming engine: the same
    ``session_window`` expression as the batch query (relational/
    sessions.py), but evaluated in the streaming state store over a
    file-source replay — open sessions live as state, merge when a
    bridging event arrives, and the complete-mode final trigger emits
    the closed set. Stream/batch parity IS the correctness contract:
    the oracle is the identical lag/cumsum relational definition the
    batch query is checked against."""
    from .relational import sessionize

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/events.parque*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sess = sessionize(
        stream,
        key="user_id",
        ts="ts",
        gap="30 minutes",
        watermark_delay="1 hour",
    )
    qn = "streaming_sessionize_events_sink"
    q = (
        sess.writeStream.format("memory")
        .queryName(qn)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qn).select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "session_start_epoch"
        ),
        "n_events",
    )


_QS = (0.01, 0.25, 0.5, 0.75, 0.99)
_QS_ORACLE = (
    "select * from (values "
    + ", ".join(f"(cast({q} as double), true)" for q in _QS)
    + ") as t(q, within_bound)"
)


def _quantile_bound_query(sketch_factory, finisher):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .sketches.base import aggregate

        ev = load_table(spark, sf_dir, "events")
        sk = sketch_factory()
        st = aggregate(ev, ["value"], sk)
        n = ev.count()
        rows = []
        for q in _QS:
            est = finisher(sk, st, q)
            true_rank = ev.filter(F.col("value") <= est).count() / n
            rows.append((float(q), abs(true_rank - q) <= 0.02))
        return spark.createDataFrame(rows, "q double, within_bound boolean")

    return run


QUERIES["kll_event_value_quantiles_ok"] = _quantile_bound_query(
    lambda: __import__(
        "xorfilter_net_spark.sketches.kll", fromlist=["KllSketch"]
    ).KllSketch(k=256, value_col="value"),
    lambda sk, st, q: sk.quantile(st, q),
)
ORACLES["kll_event_value_quantiles_ok"] = _QS_ORACLE

QUERIES["tdigest_event_value_quantiles_ok"] = _quantile_bound_query(
    lambda: __import__(
        "xorfilter_net_spark.sketches.tdigest", fromlist=["TDigestSketch"]
    ).TDigestSketch(delta=200, value_col="value"),
    lambda sk, st, q: sk.quantile(st, q),
)
ORACLES["tdigest_event_value_quantiles_ok"] = _QS_ORACLE

# DDSketch (sketches/ddsketch.py): relative-error quantiles whose merge is
# plain bucket-count addition — bit-identical under any partitioning, the
# strongest merge contract in the quantile family (KLL/t-digest merges only
# agree within their error bound). Same rank-bound gate as its siblings;
# the value-relative published bound is asserted in tests/test_sketches.py.
QUERIES["ddsketch_event_value_quantiles_ok"] = _quantile_bound_query(
    lambda: __import__(
        "xorfilter_net_spark.sketches.ddsketch", fromlist=["DDSketch"]
    ).DDSketch(alpha=0.01, value_col="value"),
    lambda sk, st, q: sk.quantile(st, q),
)
ORACLES["ddsketch_event_value_quantiles_ok"] = _QS_ORACLE


@query(
    "theta_set_ops_users",
    "with c as (select distinct user_id from events where event_type = 'click'), "
    "p as (select distinct user_id from events where event_type = 'purchase') "
    "select cast((select count(*) from (select user_id from c union "
    "  select user_id from p)) as bigint) as union_users, "
    "cast((select count(*) from (select user_id from c intersect "
    "  select user_id from p)) as bigint) as inter_users, "
    "cast((select count(*) from (select user_id from c except "
    "  select user_id from p)) as bigint) as click_only_users",
)
def q_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch set operations (sketches/theta.py): per-event_type
    user_id sketches built as one two-phase groupBy aggregate, then union /
    intersection / difference estimated sketch-to-sketch — no join over the
    raw data. k=16384 far exceeds the distinct-user cardinality at test SFs,
    so the sketch is in exact mode and the estimates equal DuckDB's exact
    UNION/INTERSECT/EXCEPT counts value-for-value; at corpus scale the same
    code degrades gracefully to the published ~1/sqrt(k-2) error."""
    from .sketches.base import aggregate_by_group
    from .sketches.theta import ThetaSketch

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    sk = ThetaSketch(k=16384, key_col="user_id")
    states = {
        r["event_type"]: sk.deserialize(bytes(r["state"]))
        for r in aggregate_by_group(
            ev, ["event_type"], ["user_id"], sk
        ).collect()
    }
    c, p = states["click"], states["purchase"]
    row = (
        int(round(sk.union_estimate(c, p))),
        int(round(sk.intersection(c, p))),
        int(round(sk.a_not_b(c, p))),
    )
    return spark.createDataFrame(
        [row], "union_users bigint, inter_users bigint, click_only_users bigint"
    )


@query(
    "bottomk_sample_users",
    "select user_id, md5(cast(user_id as varchar)) as h "
    "from (select distinct user_id from events) "
    "order by h, user_id limit 60",
)
def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k uniform sample (sketches/bottomk.py): the 60
    md5-smallest distinct user_ids, built as a two-phase aggregate whose
    shuffle carries one <=60-row state per partition. Deterministic and
    engine-portable by construction, so the oracle reproduces the exact
    sample: order by md5(key), key limit k."""
    from .sketches.bottomk import bottomk_sample

    ev = load_table(spark, sf_dir, "events")
    pdf = bottomk_sample(ev, "user_id", k=60)
    out = pdf.rename(columns={"__bk_hash": "h"})[["user_id", "h"]]
    return spark.createDataFrame(out, "user_id bigint, h string")


def _weighted_bottomk_oracle() -> str:
    from .sketches.bottomk import weighted_oracle_sql

    return weighted_oracle_sql("documents", "doc_id", "n_chars", k=80)


@query("bottomk_weighted_docs", None)
def q_bottomk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted bottom-k sample (sketches/bottomk.py): inclusion
    probability rises with n_chars via the exact-arithmetic ticket-min
    scheme (Efraimidis–Spirakis without pow/ln). Deterministic, so the
    oracle reproduces the exact 80-document sample."""
    from .sketches.bottomk import bottomk_weighted

    docs = load_table(spark, sf_dir, "documents")
    pdf = bottomk_weighted(docs, "doc_id", "n_chars", k=80)
    out = pdf.rename(columns={"__bk_hash": "h", "doc_id": "key"})[["key", "h"]]
    return spark.createDataFrame(out, "key bigint, h string")


ORACLES["bottomk_weighted_docs"] = _weighted_bottomk_oracle()


# ---------------------------------------------------------------------------
# relational coverage (SURVEY.md §2.2: scan/filter/project/agg/join/window/
# sort/limit/set-ops/rollup) — exact oracles
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    "select l_returnflag, l_linestatus, "
    + _dec_sum("l_quantity", "sum_qty")
    + ", "
    + _dec_sum("l_extendedprice", "sum_base_price")
    + ", "
    + _dec_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price")
    + ", count(*) as count_order "
    "from lineitem where l_shipdate <= timestamp '1998-09-02 00:00:00' "
    "group by l_returnflag, l_linestatus",
)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_dec_sum("l_quantity", "sum_qty")),
            F.expr(_dec_sum("l_extendedprice", "sum_base_price")),
            F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price")),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_segment_revenue",
    "select c_mktsegment, "
    + _dec_sum("o_totalprice", "total_price")
    + ", count(*) as n_orders "
    "from orders join customer on o_custkey = c_custkey "
    "group by c_mktsegment",
)
def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # dimension side is small at every SF ratio -> explicit broadcast join
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .groupBy("c_mktsegment")
        .agg(
            F.expr(_dec_sum("o_totalprice", "total_price")),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q3_shipping_priority",
    "select l_orderkey, "
    + _dec_sum("l_extendedprice * (1 - l_discount)", "revenue")
    + ", o_orderdate_epoch, o_orderpriority from ("
    " select l.l_orderkey, l.l_extendedprice, l.l_discount,"
    "  epoch_ms(o.o_orderdate) as o_orderdate_epoch, o.o_orderpriority"
    " from customer c join orders o on c.c_custkey = o.o_custkey"
    " join lineitem l on l.l_orderkey = o.o_orderkey"
    " where c.c_mktsegment = 'BUILDING'"
    "  and o.o_orderdate < timestamp '1997-03-15 00:00:00'"
    "  and l.l_shipdate > timestamp '1997-03-15 00:00:00')"
    " group by l_orderkey, o_orderdate_epoch, o_orderpriority"
    " order by revenue desc, l_orderkey limit 10",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> broadcast 3-way join ->
    agg -> top-k. customer is broadcast (small at every SF ratio); the
    lineitem/orders join shuffles on orderkey, where AQE coalesces the
    post-filter partitions. Dates cross the engines as epoch millis
    (both sides agree exactly on integer millis, not on timestamp
    formatting)."""
    cutoff = F.lit("1997-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            # parquet stores TIMESTAMP_NTZ; session tz is UTC, so the cast
            # is the same UTC interpretation DuckDB's epoch_ms applies
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_epoch"
            ),
            "o_orderpriority",
        )
        .agg(F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue")))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate_epoch", "o_orderpriority")
    )


@query(
    "q5_local_supplier_volume",
    "select n_name, "
    + _dec_sum("l_extendedprice * (1 - l_discount)", "revenue")
    + " from customer join orders on c_custkey = o_custkey"
    " join lineitem on l_orderkey = o_orderkey"
    " join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey"
    " join nation on s_nationkey = n_nationkey"
    " join region on n_regionkey = r_regionkey"
    " where r_name = 'ASIA'"
    "  and o_orderdate >= timestamp '1996-01-01 00:00:00'"
    "  and o_orderdate < timestamp '1997-01-01 00:00:00'"
    " group by n_name",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue by nation). Star-join plan:
    region filter -> broadcast into nation -> broadcast into supplier, so
    the selective region predicate prunes the fact-side supplier join
    ~5x before the only shuffle (lineitem x orders on orderkey). The
    'local' c_nationkey = s_nationkey condition rides the same join. All
    four dim tables broadcast at every SF ratio."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    ord_cust = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "c_nationkey")
    li_supp = li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey).select(
        "l_orderkey", "s_nationkey", "n_name", "l_extendedprice", "l_discount"
    )
    return (
        li_supp.join(
            ord_cust,
            (li_supp.l_orderkey == ord_cust.o_orderkey)
            & (li_supp.s_nationkey == ord_cust.c_nationkey),
        )
        .groupBy("n_name")
        .agg(F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue")))
    )


@query(
    "q14_promo_revenue",
    "select "
    + _dec_sum("case when p_type = 'PROMO' then l_extendedprice * (1 - l_discount)"
               " else 0 end", "promo_revenue")
    + ", "
    + _dec_sum("l_extendedprice * (1 - l_discount)", "total_revenue")
    + " from lineitem join part on l_partkey = p_partkey"
    " where l_shipdate >= timestamp '1996-09-01 00:00:00'"
    "  and l_shipdate < timestamp '1996-10-01 00:00:00'",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): month-sliced fact scan
    (shipdate predicate pushed to the parquet scan) x broadcast part dim,
    conditional aggregation in whole-stage codegen. Both sums cross the
    engines via exact decimal(18,4); the caller derives the ratio."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.expr(
            _dec_sum(
                "case when p_type = 'PROMO' then l_extendedprice * (1 - l_discount)"
                " else 0 end",
                "promo_revenue",
            )
        ),
        F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "total_revenue")),
    )


@query(
    "q6_forecast_revenue",
    "select "
    + _dec_sum("l_extendedprice * l_discount", "revenue")
    + ", count(*) as n_items from lineitem"
    " where l_shipdate >= timestamp '1996-01-01 00:00:00'"
    "  and l_shipdate < timestamp '1997-01-01 00:00:00'"
    "  and l_discount >= 0.05 and l_discount <= 0.07"
    "  and l_quantity < 24",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast-revenue change): pure scan-filter-agg.
    Every predicate is a base-column comparison, so all four push to the
    parquet scan (PushedFilters) and row groups outside the shipdate
    window never leave disk; the plan has zero shuffles (partial agg per
    scan task + one singleton exchange of 2 values). At 100 TB this is
    the canonical IO-bound query — throughput == scan bandwidth."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.expr(_dec_sum("l_extendedprice * l_discount", "revenue")),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q7_volume_shipping",
    "select supp_nation, cust_nation, l_year, "
    + _dec_sum("volume", "revenue")
    + " from (select n1.n_name as supp_nation, n2.n_name as cust_nation,"
    "  year(l.l_shipdate) as l_year,"
    "  l.l_extendedprice * (1 - l.l_discount) as volume"
    " from supplier s join lineitem l on s.s_suppkey = l.l_suppkey"
    " join orders o on o.o_orderkey = l.l_orderkey"
    " join customer c on c.c_custkey = o.o_custkey"
    " join nation n1 on s.s_nationkey = n1.n_nationkey"
    " join nation n2 on c.c_nationkey = n2.n_nationkey"
    " where ((n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')"
    "   or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1'))"
    "  and l.l_shipdate >= timestamp '1996-01-01 00:00:00'"
    "  and l.l_shipdate < timestamp '1998-01-01 00:00:00') shipping"
    " group by supp_nation, cust_nation, l_year",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral volume shipping): the disjunctive
    nation-pair predicate references both sides of the orderkey join, so
    each side is pre-pruned to the 2-nation superset (broadcast dim
    joins, map-side) and only the residual (pair-orientation) filter
    runs after the single fact-fact shuffle — the shuffle carries ~2/25
    of the fact rows instead of all of them."""
    pair = ("NATION_1", "NATION_2")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li_s = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).select(
        "l_orderkey",
        "supp_nation",
        F.year("l_shipdate").alias("l_year"),
        "l_extendedprice",
        "l_discount",
    )
    o_c = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    return (
        li_s.join(o_c, li_s.l_orderkey == o_c.o_orderkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue"))
        )
    )


@query(
    "q8_market_share",
    "select o_year, "
    + _dec_sum(
        "case when nation = 'NATION_3' then volume else 0 end", "nation_volume"
    )
    + ", "
    + _dec_sum("volume", "total_volume")
    + " from (select year(o.o_orderdate) as o_year,"
    "  l.l_extendedprice * (1 - l.l_discount) as volume, n1.n_name as nation"
    " from part p join lineitem l on p.p_partkey = l.l_partkey"
    " join supplier s on s.s_suppkey = l.l_suppkey"
    " join orders o on o.o_orderkey = l.l_orderkey"
    " join customer c on c.c_custkey = o.o_custkey"
    " join nation n2 on c.c_nationkey = n2.n_nationkey"
    " join region r on n2.n_regionkey = r.r_regionkey"
    " join nation n1 on s.s_nationkey = n1.n_nationkey"
    " where r.r_name = 'ASIA' and p.p_type = 'ECONOMY'"
    "  and o.o_orderdate >= timestamp '1996-01-01 00:00:00'"
    "  and o.o_orderdate < timestamp '1998-01-01 00:00:00') all_nations"
    " group by o_year",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): 7-table star over the
    lineitem fact. Selective dims (region->customer-nation, part type)
    broadcast-prune each fact input before the single orderkey shuffle;
    the share numerator is a conditional aggregate (no second scan).
    Numerator/denominator cross the engines as exact decimals; the
    caller derives the ratio (division would compare doubles)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o_c = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("supp_nk")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "nation")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "nation", "l_extendedprice", "l_discount")
    )
    return (
        li.join(o_c, li.l_orderkey == o_c.o_orderkey)
        .groupBy("o_year")
        .agg(
            F.expr(
                _dec_sum(
                    "case when nation = 'NATION_3' then"
                    " l_extendedprice * (1 - l_discount) else 0 end",
                    "nation_volume",
                )
            ),
            F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "total_volume")),
        )
    )


@query(
    "q9_product_type_profit",
    "select nation, o_year, "
    + _dec_sum("amount", "sum_profit")
    + " from (select n.n_name as nation, year(o.o_orderdate) as o_year,"
    "  l.l_extendedprice * (1 - l.l_discount) as amount"
    " from part p join lineitem l on p.p_partkey = l.l_partkey"
    " join supplier s on s.s_suppkey = l.l_suppkey"
    " join orders o on o.o_orderkey = l.l_orderkey"
    " join nation n on s.s_nationkey = n.n_nationkey"
    " where p.p_name like '%red%') profit"
    " group by nation, o_year",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit, adapted: the testdata star
    has no partsupp table so profit = revenue; reference schema gap
    noted in SURVEY.md §2.2). The LIKE '%red%' part filter cannot prune
    row groups (no prefix) but still broadcast-prunes the fact before
    the orderkey shuffle — the join carries ~1/6 of lineitem."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("supp_nk")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p.select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "nation")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "nation", "l_extendedprice", "l_discount")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", "o_year")
        .agg(F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "sum_profit")))
    )


@query(
    "q10_returned_items",
    "select c_custkey, c_name, "
    + _dec_sum("l_extendedprice * (1 - l_discount)", "revenue")
    + ", c_acctbal, n_name, c_mktsegment"
    " from customer c join orders o on c.c_custkey = o.o_custkey"
    " join lineitem l on l.l_orderkey = o.o_orderkey"
    " join nation n on c.c_nationkey = n.n_nationkey"
    " where o.o_orderdate >= timestamp '1996-07-01 00:00:00'"
    "  and o.o_orderdate < timestamp '1996-10-01 00:00:00'"
    "  and l.l_returnflag = 'R'"
    " group by c_custkey, c_name, c_acctbal, n_name, c_mktsegment"
    " order by revenue desc, c_custkey limit 20",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): quarter-sliced orders
    x returnflag-sliced lineitem -> one orderkey shuffle -> group by
    customer -> global top-20. The final top-k is a
    TakeOrderedAndProject (per-partition heap + driver merge of 20-row
    heads), not a global sort; ties broken by c_custkey and revenue kept
    exact-decimal so both engines pick identical rows."""
    cutoff_lo = F.lit("1996-07-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1996-10-01 00:00:00").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue")))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment"
        )
    )


@query(
    "q13_customer_distribution",
    "select c_count, count(*) as custdist from ("
    " select c.c_custkey, count(o.o_orderkey) as c_count"
    " from customer c left outer join orders o on c.c_custkey = o.o_custkey"
    "  and o.o_orderpriority <> '1-URGENT'"
    " group by c.c_custkey) c_orders group by c_count",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): left outer
    join with a non-equi residual ON condition (priority filter must NOT
    drop customers, so it lives in the join condition, not a WHERE),
    double aggregation. First agg shuffles on custkey; the second input
    is one row per customer, so its shuffle is negligible. count(col)
    vs count(*) distinction: unmatched customers count 0, not 1."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q15_top_supplier",
    "with revenue as (select l_suppkey as supplier_no,"
    " sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as total_rev"
    " from lineitem"
    " where l_shipdate >= timestamp '1996-01-01 00:00:00'"
    "  and l_shipdate < timestamp '1996-04-01 00:00:00'"
    " group by l_suppkey) "
    "select s.s_suppkey, s.s_name, cast(total_rev as double) as total_revenue"
    " from supplier s join revenue on s.s_suppkey = supplier_no"
    " where total_rev = (select max(total_rev) from revenue)",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): aggregate view reused twice —
    once grouped, once reduced to its max — with the scalar max
    broadcast back as a single-row join (no second scan of the fact:
    the quarter-sliced agg is tiny, one row per supplier). Equality on
    the threshold is exact-decimal, so 'the' max row set is identical
    in both engines even under revenue ties."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.expr(
            "sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4)))"
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_rev == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    "select "
    + _dec_sum("l_extendedprice * (1 - l_discount)", "revenue")
    + ", count(*) as n_items"
    " from lineitem l join part p on p.p_partkey = l.l_partkey"
    " where (p.p_brand = 'Brand#1' and p.p_size between 1 and 10"
    "        and l.l_quantity >= 1 and l.l_quantity <= 11)"
    "    or (p.p_brand = 'Brand#2' and p.p_size between 1 and 20"
    "        and l.l_quantity >= 10 and l.l_quantity <= 20)"
    "    or (p.p_brand = 'Brand#3' and p.p_size between 1 and 30"
    "        and l.l_quantity >= 20 and l.l_quantity <= 30)",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, OR-of-ANDs): the disjunction
    mixes part and lineitem columns, so no single conjunct pushes past
    the join on its own. Each side gets its manually-derived superset
    predicate (part: brand-in-set + size cap; lineitem: quantity hull
    1..30) pushed to its scan — the classic constraint-propagation
    rewrite engines apply to Q19 — and the exact OR runs as the
    residual after the broadcast join."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 30)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 20)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size") <= 30)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.expr(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue")),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q22_global_sales_opportunity",
    "with pos as (select count(*) as cnt,"
    " sum(cast(c_acctbal as decimal(18,4))) as tot"
    " from customer where c_acctbal > 0) "
    "select n.n_name, count(*) as numcust, "
    + _dec_sum("c_acctbal", "totacctbal")
    + " from customer c cross join pos"
    " join nation n on c.c_nationkey = n.n_nationkey"
    " where n.n_nationkey < 10"
    "  and cast(c.c_acctbal as decimal(18,4)) * pos.cnt > pos.tot"
    "  and not exists (select 1 from orders o where o.o_custkey = c.c_custkey"
    "                  and o.o_orderpriority = '1-URGENT')"
    " group by n.n_name",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity, adapted: nation key
    range stands in for the phone-prefix list — the testdata schema has
    no c_phone): above-average-balance customers with no orders. The
    uncorrelated avg subquery broadcasts as a single (count, sum) row
    and the threshold is division-free exact decimal (bal*cnt > sum, as
    in q17); the NOT EXISTS ('no urgent order' — this corpus gives every
    customer at least one order, so the literal 'no orders' predicate is
    vacuous) is a left-anti join whose orders side is pre-filtered by
    the pushed priority predicate before the custkey shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr("sum(cast(c_acctbal as decimal(18,4)))").alias("tot"),
    )
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10)
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.expr("cast(c_acctbal as decimal(18,4)) * cnt > tot")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.expr(_dec_sum("c_acctbal", "totacctbal")),
        )
    )


@query(
    "q_filter_pruned_join",
    "select c_mktsegment, count(*) as n_orders, "
    + _dec_sum("o_totalprice", "total_price")
    + " from orders join (select * from customer where c_acctbal > 9000) c "
    "on o_custkey = c_custkey group by c_mktsegment",
)
def q_filter_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XOR-filter-accelerated join (relational/filter_join.py): the fact
    side is pre-pruned by a zero-Python codegen probe against a filter
    built from the dim join keys, so the join shuffle carries only
    ~matches + 2^-16 x |fact| rows. Row-for-row identical to the plain
    join (zero false negatives; false positives die in the join) — the
    oracle IS the plain join."""
    from .relational import filter_pruned_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return (
        filter_pruned_join(o, c, "o_custkey", "c_custkey", width=16)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(_dec_sum("o_totalprice", "total_price")),
        )
    )


@query(
    "q_window_user_events",
    "select user_id, event_id, rn, prev_cents from ("
    " select user_id, event_id,"
    "  row_number() over (partition by user_id order by ts, event_id) as rn,"
    "  cast(round(coalesce(lag(value) over (partition by user_id "
    "    order by ts, event_id), -1) * 100) as bigint) as prev_cents"
    " from events) w where rn <= 3",
)
def q_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "prev_cents",
            F.round(F.coalesce(F.lag("value").over(w), F.lit(-1)) * 100).cast(
                "bigint"
            ),
        )
        .filter("rn <= 3")
        .select("user_id", "event_id", "rn", "prev_cents")
    )


@query(
    "q_multi_distinct_agg",
    "select cast(date_trunc('day', ts) as date) as day, "
    "count(distinct user_id) as n_users, "
    "count(distinct event_type) as n_types, count(*) as n "
    "from events group by 1",
)
def q_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one GROUP BY — Catalyst rewrites
    this into a single Expand (one replica per distinct set) + two-level
    aggregate, so the fact table is still scanned exactly once and each
    distinct set gets map-side partial dedup before the shuffle. At
    100 TB this is the shape to prefer over N self-joined single-distinct
    queries (N scans, N shuffles)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_topk_per_group_events",
    "select event_type, event_id, rk, "
    "cast(round(value * 100) as bigint) as value_cents from ("
    " select event_type, event_id, value,"
    "  row_number() over (partition by event_type "
    "   order by value desc, event_id) as rk from events) t where rk <= 5",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via rank window. Scale shape: Spark plans a
    partial TakeOrderedAndProject per map task only for global top-k;
    for per-group, the window shuffle partitions by event_type — with
    few heavy groups that skews, so the filter `rk <= 5` must run
    INSIDE the window stage (Spark's WindowGroupLimit pushes the limit
    to a per-partition pre-pass before the shuffle on 3.5+), never as a
    post-collect."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .select(
            "event_type",
            "event_id",
            "rk",
            F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        )
    )


@query(
    "q_running_total_customer_spend",
    "select o_custkey as custkey, o_orderkey as orderkey, "
    "cast(sum(cast(round(o_totalprice * 100) as bigint)) over ("
    " partition by o_custkey order by o_orderdate, o_orderkey "
    " rows between unbounded preceding and current row) as bigint) "
    "as running_cents from orders",
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-sum window frame (ROWS UNBOUNDED PRECEDING): one
    shuffle on the partition key, then a streaming frame evaluator —
    O(1) state per row, no per-frame rescan. Integer cents make the
    running sum associativity-exact across engines (float left-fold
    order would differ)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(cents).over(w).cast("bigint").alias("running_cents"),
    )


@query(
    "q_first_last_event_per_user",
    "select distinct user_id, "
    "first_value(event_type) over w as first_et, "
    "last_value(event_type) over "
    " (w rows between unbounded preceding and unbounded following) as last_et, "
    "nth_value(event_type, 2) over "
    " (w rows between unbounded preceding and unbounded following) as second_et "
    "from events "
    "window w as (partition by user_id order by ts, event_id)",
)
def q_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value frame coverage: the frame distinction is load-
    bearing — last_value over the default frame (UNBOUNDED PRECEDING ..
    CURRENT ROW) would return the current row, so both engines must agree
    on explicit full-partition frames; (ts, event_id) ordering makes the
    answer deterministic."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return e.select(
        "user_id",
        F.first("event_type").over(w).alias("first_et"),
        F.last("event_type").over(wf).alias("last_et"),
        F.nth_value("event_type", 2).over(wf).alias("second_et"),
    ).distinct()


@query(
    "q_rank_functions_events",
    "select event_type, event_id, rnk, drnk, pr_e6, cd_e6 from ("
    " select event_type, event_id,"
    "  rank() over w as rnk, dense_rank() over w as drnk,"
    "  cast(floor(1000000.0 * percent_rank() over w) as bigint) as pr_e6,"
    "  cast(floor(1000000.0 * cume_dist() over w) as bigint) as cd_e6"
    " from events window w as ("
    "  partition by event_type order by cast(round(value * 100) as bigint))"
    ") t where rnk <= 10",
)
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family over one window spec: rank (gaps on
    ties), dense_rank, percent_rank, cume_dist — one shuffle on the
    partition key, one sort, all four functions evaluated in a single
    WindowExec pass. Ties are real (value is ordered on rounded cents),
    exercising the peer-group semantics that distinguish the four.
    Fractional ranks cross engines as floored micro-units; ordering by
    the bigint cents (not raw double) keeps peer groups identical."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy(cents)
    return (
        ev.select(
            "event_type",
            "event_id",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.floor(F.percent_rank().over(w) * 1000000.0)
            .cast("bigint")
            .alias("pr_e6"),
            F.floor(F.cume_dist().over(w) * 1000000.0)
            .cast("bigint")
            .alias("cd_e6"),
        )
        .filter("rnk <= 10")
    )


@query(
    "q_ntile_doc_length_buckets",
    "select bucket, count(*) as n, min(n_chars) as min_chars, "
    "max(n_chars) as max_chars from ("
    " select ntile(8) over (order by n_chars, doc_id) as bucket, n_chars"
    " from documents) t group by bucket",
)
def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing for quality-score binning (the training-data
    curation primitive: split a corpus into equal-count quality tiers),
    computed EXACTLY at scale by relational/binning.py::exact_ntile —
    the distributed two-pass rank (one repartitionByRange exchange +
    a partition-count collect + a map-only assign) instead of the
    single-partition global-sort window that `ntile() OVER (ORDER BY)`
    plans (demoted to the oracle side only, per VERDICT r01). The
    sketch-driven approximate path (quantile_bins) remains the
    cutpoint-broadcast alternative when a range exchange is too dear."""
    from .relational.binning import exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    binned = exact_ntile(
        docs.select("n_chars", "doc_id"), ["n_chars", "doc_id"], 8
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "synthetic_source_role_stats",
    "select * from (values "
    "('assistant', 628, 349, 8), ('tool', 459, 303, 3), "
    "('user', 773, 400, 8)) as t(role, n, n_convs, n_empty)",
)
def q_synthetic_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (sources/synthetic.py, Spark 4
    SPARK-44076): partition-parallel deterministic transcript generation
    with conv_id filter pushdown and streaming offsets. The corpus is a
    pure function of (conversations, seed, max_turns), so the oracle is
    the pinned aggregate of the 400-conversation seed-42 corpus —
    sf_dir is unused by design (no external data)."""
    from .sources.synthetic import register

    register(spark)
    df = (
        spark.read.format("synthetic_transcripts")
        .option("conversations", 400)
        .option("seed", 42)
        .option("max_turns", 8)
        .load()
    )
    return df.groupBy("role").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.count(F.when(F.col("text") == "", 1)).alias("n_empty"),
    )


@query(
    "quantile_bins_documents_ok",
    "select * from (values "
    + ", ".join(f"({b}, true)" for b in range(1, 9))
    + ") as t(bucket, within_bound)",
)
def quantile_bins_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven equal-count binning (relational/binning.py): KLL
    cutpoints in one mergeable-aggregate pass, then a map-only codegen
    `1 + sum(col > cut)` assignment — the 100 TB replacement for the
    single-partition ntile sort. Gate: every bin's mass within 1/8 +-
    0.04 (KLL rank bound + tie slack; `q_ntile_doc_length_buckets` is
    the exact small-scale counterpart)."""
    from .relational import quantile_bins

    docs = load_table(spark, sf_dir, "documents")
    binned, _cuts = quantile_bins(docs, "n_chars", 8, k=256)
    n = docs.count()
    counts = {
        r["bucket"]: r["n"]
        for r in binned.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = [
        (b, abs(counts.get(b, 0) / n - 1 / 8) <= 0.04) for b in range(1, 9)
    ]
    return spark.createDataFrame(rows, "bucket int, within_bound boolean")


@query(
    "q_topk_events",
    "select event_id, event_type, cast(round(value * 100) as bigint) as value_cents "
    "from events order by value desc, event_id limit 20",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("value").desc(), "event_id")
        .limit(20)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        )
    )


@query(
    "q_rollup_events",
    "select coalesce(event_type, 'ALL') as event_type, count(*) as n, "
    + _dec_sum("value", "total_value")
    + " from events group by rollup(event_type)",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(_dec_sum("value", "total_value")),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n",
            "total_value",
        )
    )


@query(
    "q_grouping_sets_events",
    "select coalesce(event_type, 'ALL') as event_type, "
    "coalesce(cast(user_id as varchar), 'ALL') as user_bucket, "
    "grouping(event_type) * 2 + grouping(user_id) as gid, "
    "count(*) as n from events "
    "group by grouping sets ((event_type), (user_id), ())",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from rollup/cube: the
    (event_type, user_id) pair set is omitted) + `grouping()` to
    disambiguate real NULLs from subtotal rows — one Expand+HashAggregate
    plan, a single scan for all three groupings."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupingSets(
        [["event_type"], ["user_id"], []], "event_type", "user_id"
    ).agg(
        (
            F.grouping("event_type").cast("long") * 2
            + F.grouping("user_id").cast("long")
        ).alias("gid"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("user_id").cast("string"), F.lit("ALL")).alias(
            "user_bucket"
        ),
        "gid",
        "n",
    )


@query(
    "q_cube_events",
    "select coalesce(event_type, 'ALL') as event_type, "
    "coalesce(user_bucket, 'ALL') as user_bucket, count(*) as n, "
    + _dec_sum("value", "total_value")
    + " from (select event_type, cast(user_id % 10 as varchar) as "
    "user_bucket, value from events) t group by cube(event_type, user_bucket)",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional CUBE (all four grouping sets) — SURVEY §2.2
    grouping-sets coverage; Catalyst expands to a single Expand+Agg."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("string")
    )
    return (
        ev.cube("event_type", "user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(_dec_sum("value", "total_value")),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_bucket", F.lit("ALL")).alias("user_bucket"),
            "n",
            "total_value",
        )
    )


@query(
    "q_json_props_histogram",
    "select cast(json_extract_string(props, '$.k') as bigint) % 10 as k_bucket, "
    "count(*) as n, "
    "min(cast(json_extract_string(props, '$.k') as bigint)) as min_k, "
    "max(cast(json_extract_string(props, '$.k') as bigint)) as max_k "
    "from events group by 1",
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function coverage: parse the events.props JSON payload
    in whole-stage codegen (get_json_object) — no UDF."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "q_variant_props_stats",
    "select cast(json_extract_string(props, '$.k') as bigint) % 7 "
    "as k_mod, count(*) as n, "
    "cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) "
    "as sum_k "
    "from events group by 1",
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT coverage: semi-structured props parsed ONCE into
    the binary variant encoding (`parse_json`), then field access via
    `variant_get` path expressions — the modern scale path for
    schema-on-read JSON (one parse, typed sub-field pushout) vs
    re-parsing the string per extraction like get_json_object does.
    Values identical to the string-JSON oracle by construction."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 7).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
        )
    )


@query(
    "q_lateral_topn_orders_per_segment",
    "select c_mktsegment, o_orderkey, "
    "cast(round(o_totalprice * 100) as bigint) as price_cents from ("
    " select c_mktsegment, o_orderkey, o_totalprice,"
    "  row_number() over (partition by c_mktsegment "
    "   order by o_totalprice desc, o_orderkey) as rk"
    " from customer join orders on o_custkey = c_custkey) t where rk <= 3",
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (Spark SQL LATERAL, 3.2+): top-3
    orders per market segment written as a lateral per-group limit.
    Catalyst decorrelates it into the same join + ranked-window plan the
    oracle states directly — proving the correlated form costs nothing
    extra at scale (no nested-loop re-execution per outer row)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_lv_cust")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_lv_ord")
    return spark.sql(
        """
        select s.c_mktsegment, t.o_orderkey,
               cast(round(t.o_totalprice * 100) as bigint) as price_cents
        from (select distinct c_mktsegment from _lv_cust) s,
        lateral (
            select o.o_orderkey, o.o_totalprice
            from _lv_ord o join _lv_cust c on o.o_custkey = c.c_custkey
            where c.c_mktsegment = s.c_mktsegment
            order by o.o_totalprice desc, o.o_orderkey
            limit 3
        ) t
        """
    )


@query(
    "q_array_word_stats",
    "select doc_id, len(string_split(text, ' ')) as n_words, "
    "len(list_distinct(string_split(text, ' '))) as n_distinct_words, "
    "list_contains(string_split(text, ' '), 'the') as has_the, "
    "string_split(text, ' ')[1] as first_word, "
    "list_sort(list_distinct(string_split(text, ' ')))[1] as min_word "
    "from documents",
)
def q_array_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function coverage (split/size/distinct/contains/element_at/
    sort) — all JVM-side builtins over the documents table."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.array_contains(words, "the").alias("has_the"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(F.array_sort(F.array_distinct(words)), 1).alias(
            "min_word"
        ),
    )


@query(
    "q_token_cooccurrence",
    "with toks as (select doc_id, tok from (select doc_id, "
    "  unnest(list_distinct(string_split(text, ' '))) as tok from documents) "
    "  where tok <> ''), "
    "freq as (select tok, count(*) as df from toks group by tok "
    "  qualify row_number() over (order by df desc, tok) <= 20), "
    "toks2 as (select t.doc_id, t.tok from toks t join freq f using(tok)), "
    "pairs as (select a.tok as tok_a, b.tok as tok_b, count(*) as pair_docs "
    "  from toks2 a join toks2 b using(doc_id) where a.tok < b.tok "
    "  group by 1, 2) "
    "select p.tok_a, p.tok_b, p.pair_docs, fa.df as df_a, fb.df as df_b "
    "from pairs p join freq fa on fa.tok = p.tok_a "
    "join freq fb on fb.tok = p.tok_b",
)
def q_token_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence counts (PMI numerators) over documents, capped
    to the top-20 most document-frequent tokens: per-doc dedup in codegen,
    broadcast vocabulary prune, one co-partitioned self-join; output is
    vocabulary-bounded regardless of corpus size. Integer counts only —
    the PMI log stays consumer-side (cross-engine float logs differ in
    the last ulp)."""
    d = load_table(spark, sf_dir, "documents")
    return token_cooccurrence(d, "doc_id", "text", top_v=20)


@query(
    "q_tfidf_topk_terms",
    "with toks as (select doc_id, tok from (select doc_id, "
    "  unnest(string_split(text, ' ')) as tok from documents) where tok <> ''), "
    "tf as (select doc_id, tok, count(*) as tf from toks group by 1, 2), "
    "dfq as (select tok, count(*) as df from tf group by 1), "
    "scored as (select tf.doc_id, tf.tok, tf.tf, dfq.df, "
    "  row_number() over (partition by tf.doc_id "
    "    order by cast(tf.tf as double) / dfq.df desc, tf.tok) as rnk "
    "  from tf join dfq using (tok)) "
    "select doc_id, tok, tf, df, rnk from scored where rnk <= 5",
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 salient terms by TF-IDF (text/tfidf.py): codegen
    tokenize -> (doc, term) partial aggregate (raw text never shuffles) ->
    vocabulary-sized df aggregate over the tf table -> hash join -> per-doc
    row_number with a Partial WindowGroupLimit before the exchange. Score
    is the raw ratio tf/df (one correctly-rounded IEEE division over exact
    integers -> bit-identical ranking in any engine); the log damping stays
    consumer-side like the PMI log in q_token_cooccurrence."""
    from .text.tfidf import tfidf_topk

    d = load_table(spark, sf_dir, "documents")
    return tfidf_topk(d, "doc_id", "text", k=5)


_CONTAM_ORACLE = (
    "with tk as (select doc_id, string_split(text, ' ') as t from documents), "
    "tr as (select doc_id, array_to_string(t[i+1:i+5], ' ') as sh "
    "  from tk, unnest(range(0, greatest(len(t) - 4, 0))) as u(i) "
    "  group by 1, 2), "
    "ev as (select distinct sh from tr where doc_id % 37 = 0), "
    "tot as (select doc_id, count(*) as n_shingles from tr group by 1), "
    "hit as (select tr.doc_id, count(*) as n_matched from tr join ev using (sh) "
    "  group by 1) "
    "select tot.doc_id, tot.n_shingles, "
    "coalesce(hit.n_matched, 0) as n_matched, "
    "coalesce(hit.n_matched, 0) * 100 >= 50 * tot.n_shingles as contaminated "
    "from tot left join hit using (doc_id)"
)


@query("contamination_report_documents", _CONTAM_ORACLE)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Llama 2 A.6 pattern):
    flag training documents whose 5-gram shingles overlap an eval set
    above a threshold. Eval set = every 37th document verbatim, so those
    documents are 100%-contaminated by construction (the corpus is random
    word salad — organic 5-gram collisions are ~impossible, making the
    gate non-vacuous). Plan: codegen shingling, broadcast eval shingle
    set, matched-pairs-only shuffle — the training corpus itself is never
    shuffled (text/contamination.py)."""
    from .text.contamination import contamination_report

    d = load_table(spark, sf_dir, "documents")
    ev = d.filter("doc_id % 37 = 0").select("text")
    rep = contamination_report(d, ev, "doc_id", "text", n=5, threshold_pct=50)
    return rep.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_matched").cast("long").alias("n_matched"),
        "contaminated",
    )


@query("contamination_xor_pruned_documents", _CONTAM_ORACLE)
def q_contamination_xor_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The beyond-broadcast decontamination path, gated against the SAME
    exact oracle as the broadcast path: exploded train shingles are
    pre-pruned by a zero-Python XOR-filter probe of the eval shingle set
    before the exact semi-join (zero false negatives, so every true
    match survives; the 2^-16 FPR trickle dies in the join) — the report
    must be row-for-row identical to the exact broadcast-join one."""
    from .text.contamination import contamination_report

    d = load_table(spark, sf_dir, "documents")
    ev = d.filter("doc_id % 37 = 0").select("text")
    rep = contamination_report(
        d, ev, "doc_id", "text", n=5, threshold_pct=50, prune="xor"
    )
    return rep.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_matched").cast("long").alias("n_matched"),
        "contaminated",
    )


@query(
    "q_not_in_null_semantics",
    "select "
    "(select count(*) from documents "
    " where lang not in (select source from documents)) as n_clean, "
    "(select count(*) from documents "
    " where lang not in (select nullif(source, 'src0') from documents)) "
    " as n_with_null",
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery coverage incl. the three-valued-logic trap: langs
    are disjoint from sources, so the clean subquery keeps every doc,
    while a single NULL in the subquery makes `x NOT IN (...)` UNKNOWN
    for every row — zero rows survive. Spark plans the nullable side as a
    null-aware anti join (broadcast NAAJ), not a nested loop; both counts
    are checked against DuckDB's identical ANSI semantics."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_nin_docs")
    return spark.sql(
        """
        select
          (select count(*) from _nin_docs
            where lang not in (select source from _nin_docs)) as n_clean,
          (select count(*) from _nin_docs
            where lang not in (select nullif(source, 'src0') from _nin_docs))
            as n_with_null
        """
    )


@query(
    "q_collect_set_langs",
    "select source, "
    "array_to_string(list_sort(list_distinct(list(lang))), ',') as langs, "
    "count(*) as n_docs from documents group by source",
)
def q_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic collect_set aggregation: per-source sorted distinct
    language list, flattened to a string so the value is engine-portable
    (array ordering from an unsorted collect is partition-dependent —
    sort_array makes it a pure function of the group's contents)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "q_date_spine_order_gaps",
    "with b as (select cast(min(o_orderdate) as date) as lo, "
    " cast(max(o_orderdate) as date) as hi from orders), "
    "spine as (select cast(unnest(generate_series(lo, hi, "
    " interval 1 day)) as date) as day from b), "
    "daily as (select cast(o_orderdate as date) as day, count(*) as n "
    " from orders group by 1) "
    "select date_diff('day', date '1970-01-01', s.day) as day_epoch, "
    "coalesce(d.n, 0) as n_orders "
    "from spine s left join daily d on s.day = d.day",
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar-spine pattern: generate every day between the
    corpus min/max dates (sequence+explode, JVM-side) and left-join the
    daily counts so gap days surface as explicit zeros — the shape every
    time-series rollup needs before interpolation/charting. The spine is
    date-arithmetic-sized (thousands of rows), so the join broadcasts;
    days ride as epoch-day integers for cross-engine exactness."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day")
    )
    bounds = o.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return spine.join(daily, "day", "left").select(
        F.unix_date("day").alias("day_epoch"),
        F.coalesce("n", F.lit(0)).alias("n_orders"),
    )


@query(
    "q_corr_quantity_price",
    "select l_returnflag, corr_e6, cov_e6 from ("
    " select l_returnflag,"
    "  cast(floor(1000000.0 * (n * sxy - sx * sy) /"
    "   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) as bigint)"
    "   as corr_e6,"
    "  cast(floor(1000000.0 * (n * sxy - sx * sy) / (n * n)) as bigint)"
    "   as cov_e6"
    " from ("
    "  select l_returnflag,"
    "   cast(count(*) as double) as n,"
    "   cast(sum(x) as double) as sx, cast(sum(y) as double) as sy,"
    "   cast(sum(x * y) as double) as sxy,"
    "   cast(sum(x * x) as double) as sxx,"
    "   cast(sum(y * y) as double) as syy"
    "  from (select l_returnflag,"
    "        cast(l_quantity as bigint) as x,"
    "        cast(round(l_extendedprice) as bigint) as y from lineitem) t"
    "  group by l_returnflag) s) f",
)
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation / covariance per group with cross-engine-exact
    arithmetic: the moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in
    exact int64 (quantity and dollar-rounded price are small enough that
    every sum stays below 2^53), convert once to double, and the closing
    formula is a fixed tree of correctly-rounded IEEE ops — identical
    inputs ⇒ bit-identical corr on both engines, floored to micro-units.
    The built-in corr() would stream in float with engine-specific
    accumulation order and could differ in the last ulp."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "l_returnflag",
        F.floor(F.lit(1000000.0) * num / den).cast("bigint").alias("corr_e6"),
        F.floor(F.lit(1000000.0) * num / (F.col("n") * F.col("n")))
        .cast("bigint")
        .alias("cov_e6"),
    )


@query(
    "q_datetime_daily_activity",
    "select cast(date_trunc('day', ts) as date) as day, "
    "extract(hour from ts) as hr, count(*) as n, "
    + _dec_sum("value", "total_value")
    + ", cast(min(ts + interval 1 day) as date) as min_next_day "
    "from events group by 1, 2",
)
def q_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar-function coverage (date_trunc, extract, interval
    arithmetic) grouped to a daily-hourly activity rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(_dec_sum("value", "total_value")),
            F.expr(
                "cast(min(ts + interval 1 day) as date) as min_next_day"
            ),
        )
    )


@query(
    "q_customers_without_orders",
    "select c_custkey as custkey from customer "
    "except select o_custkey as custkey from orders",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    return customer.exceptAll(orders.distinct()).distinct()


_SPEND = (
    "cast(coalesce(sum(cast(o_totalprice as decimal(18,4))), 0) as double) "
    "as total_spend"
)


@query(
    "q_left_join_customer_order_stats",
    "select c_custkey as custkey, c_mktsegment as segment, "
    "count(o_orderkey) as n_orders, " + _SPEND + " "
    "from customer c left join orders o on c_custkey = o_custkey "
    "group by 1, 2",
)
def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + aggregate: every customer appears, zero-order
    customers with n_orders=0/spend=0 (count over the null-extended
    side). Broadcast the dim? No — customer is the PRESERVED side here,
    so Spark keeps it as a shuffled left-outer hash join; at 100 TB both
    sides partition on the key and AQE handles skew."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.expr(_SPEND),
        )
    )


@query(
    "q_full_outer_user_day_activity",
    "with c as (select user_id, cast(date_trunc('day', ts) as date) as day, "
    "count(*) as n_clicks from events where event_type = 'click' "
    "group by 1, 2), "
    "p as (select user_id, cast(date_trunc('day', ts) as date) as day, "
    "count(*) as n_purchases from events where event_type = 'purchase' "
    "group by 1, 2) "
    "select coalesce(c.user_id, p.user_id) as user_id, "
    "coalesce(c.day, p.day) as day, "
    "coalesce(n_clicks, 0) as n_clicks, "
    "coalesce(n_purchases, 0) as n_purchases "
    "from c full outer join p on c.user_id = p.user_id and c.day = p.day",
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated activity streams on
    (user, day) — left-only, right-only, and matched cells all occur at
    this density. Pre-aggregation before the join shrinks both sides to
    |users|x|days| BEFORE the outer-join shuffle (never full-outer-join
    raw fact tables)."""
    ev = load_table(spark, sf_dir, "events")

    def per_day(etype: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(
                "user_id",
                F.date_trunc("day", "ts").cast("date").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias(alias))
        )

    c = per_day("click", "n_clicks")
    p = per_day("purchase", "n_purchases")
    return (
        c.join(p, ["user_id", "day"], "full_outer")
        .select(
            "user_id",
            "day",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
    )


@query(
    "q_scalar_subquery_big_orders",
    "select o_orderpriority as priority, count(*) as n "
    "from orders where o_totalprice > "
    "0.9 * (select max(o_totalprice) from orders) group by 1",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery as a filter threshold, expressed as
    a broadcast join against the 1-row aggregate (no driver collect in
    the plan): at 100 TB the threshold pass is one column's partial-max
    tree, broadcast for free, then the main scan filters in codegen."""
    o = load_table(spark, sf_dir, "orders")
    thr = o.agg((F.lit(0.9) * F.max("o_totalprice")).alias("thr"))
    return (
        o.join(F.broadcast(thr))
        .filter(F.col("o_totalprice") > F.col("thr"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_set_ops_users",
    "select 'intersect' as op, count(*) as n from ("
    " select user_id from events where event_type = 'click'"
    " intersect select user_id from events where event_type = 'view') a "
    "union all "
    "select 'union' as op, count(*) as n from ("
    " select user_id from events where event_type = 'click'"
    " union select user_id from events where event_type = 'view') b",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator coverage (SURVEY §2.2): INTERSECT and UNION DISTINCT
    over two filtered scans of the same table; Catalyst plans both as
    hash left-semi join / hash-distinct aggregates."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    inter = clicks.intersect(views).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    uni = (
        clicks.union(views)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("union").alias("op"), "n")
    )
    return inter.unionAll(uni)


@query(
    "q_dedup_exact_documents",
    "select source, count(*) as n_docs, count(distinct text) as n_unique_texts "
    "from documents group by source",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique_texts"),
    )


# ---------------------------------------------------------------------------
# relational operators beyond plain verbs (relational/): as-of join,
# gap sessionization, salted skew join; plus generator (explode), pivot,
# correlated-EXISTS, and exact-quantile coverage — all JVM-side plans.
# ---------------------------------------------------------------------------
_VIEWS_DEDUP_SQL = (
    "select user_id, ts, max(event_id) as v_event_id, "
    "cast(round(max(value) * 100) as bigint) as v_cents "
    "from events where event_type = 'view' group by user_id, ts"
)


@query(
    "q_asof_click_view",
    f"with views as ({_VIEWS_DEDUP_SQL}) "
    "select c.event_id, c.user_id, epoch_us(c.ts) as ts_epoch, "
    "epoch_us(v.ts) as view_ts_epoch, v.v_event_id as view_event_id, "
    "v.v_cents as view_cents "
    "from (select * from events where event_type = 'click') c "
    "asof left join views v on c.user_id = v.user_id and c.ts >= v.ts",
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (relational/asof.py): for every click, the latest
    prior-or-equal view of the same user — one shuffle, no UDF; the
    oracle is DuckDB's native ASOF LEFT JOIN. Views are pre-deduped to
    one row per (user_id, ts) so the match is unique in both engines."""
    from .relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    clicks = ev.filter(F.col("event_type") == "click")
    views = spark.sql(_VIEWS_DEDUP_SQL)
    return asof_join(
        clicks, views, on="user_id", ts="ts", payload_cols=["v_event_id", "v_cents"]
    ).select(
        "event_id",
        "user_id",
        # parquet timestamps load as NTZ; session TZ is pinned to UTC, so
        # the cast to TIMESTAMP is wall-clock-identity and unlocks unix_micros
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_epoch"),
        F.unix_micros(F.col("ts_asof").cast("timestamp")).alias("view_ts_epoch"),
        F.col("v_event_id_asof").alias("view_event_id"),
        F.col("v_cents_asof").alias("view_cents"),
    )


@query(
    "q_sessionize_events",
    "with flagged as (select user_id, ts, value, case when "
    " lag(ts) over w is null or "
    " epoch_us(ts) - epoch_us(lag(ts) over w) > 1800000000 "
    " then 1 else 0 end as is_start from events "
    " window w as (partition by user_id order by ts, event_id)), "
    "sess as (select user_id, ts, value, sum(is_start) over "
    " (partition by user_id order by ts rows unbounded preceding) as sid "
    " from flagged) "
    "select user_id, min(epoch_us(ts)) as session_start_epoch, "
    "count(*) as n_events, "
    + _dec_sum("value", "total_value")
    + " from sess group by user_id, sid",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via the built-in ``session_window`` (one
    shuffle, streaming-capable plan; relational/sessions.py); the oracle
    is the equivalent lag/cumulative-sum window program. Session breaks
    at gap > 30 min: session_window's [ts, ts+gap] is closed at the end,
    so an exactly-gap successor still extends the session (pinned by
    tests/test_relational.py::test_sessionize_gap_boundaries)."""
    from .relational import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(
        ev,
        key="user_id",
        ts="ts",
        gap="30 minutes",
        aggs=[F.expr(_dec_sum("value", "total_value"))],
    ).select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "session_start_epoch"
        ),
        "n_events",
        "total_value",
    )


@query(
    "q_salted_skew_join",
    "with dim as (select user_id, count(*) as user_n from events group by user_id) "
    "select event_type, count(*) as n, sum(user_n)::bigint as total_user_n "
    "from events join dim using (user_id) group by event_type",
)
def q_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (relational/salted.py): the fact side is salted
    16 ways on event_id entropy, the dim side replicated 16x, so a hot
    user_id spreads across 16 reducers; result is row-identical to the
    plain join the oracle runs."""
    from .relational import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_n"))
    return (
        salted_join(ev, dim, on="user_id", salt_src="event_id", num_salts=16)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_n").alias("total_user_n"),
        )
    )


@query(
    "q_skew_aware_join",
    "with fact as (select user_id, event_type from events"
    "  union all"
    "  select cast(1 as bigint) as user_id, event_type from events"
    "  where event_id % 2 = 0), "
    "dim as (select user_id, count(*) as user_n from events group by user_id) "
    "select event_type, count(*) as n,"
    " sum(user_n)::bigint as total_user_n "
    "from fact join dim using (user_id) group by event_type",
)
def q_skew_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentiated skew join (relational/salted.py::skew_aware_join):
    a planted hot key (~1/3 of all fact rows) is detected by one
    Misra-Gries pass and routed through a broadcast of just its dim rows
    — hot rows never shuffle — while cold keys take the plain
    co-partitioned join. Row-identical to the plain join the oracle
    runs (the salted variant spreads hot rows; this one removes them
    from the shuffle entirely)."""
    from .relational.salted import skew_aware_join

    ev = load_table(spark, sf_dir, "events")
    fact = ev.select("user_id", "event_type").unionByName(
        ev.filter("event_id % 2 = 0").selectExpr(
            "cast(1 as bigint) as user_id", "event_type"
        )
    )
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_n"))
    j = skew_aware_join(fact, dim, on="user_id", phi_e6=100_000)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_n").cast("long").alias("total_user_n"),
    )


@query(
    "q_interval_join_signup_clicks",
    "with su as (select user_id, event_id as signup_id, ts as start_ts, "
    " ts + interval 2 hour as end_ts from events where event_type = 'signup'), "
    "cl as (select user_id, ts from events where event_type = 'click') "
    "select su.signup_id, count(*) as n_clicks, "
    "min(epoch_us(cl.ts)) as first_click_epoch "
    "from cl join su on cl.user_id = su.user_id "
    " and cl.ts >= su.start_ts and cl.ts < su.end_ts "
    "group by su.signup_id",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (relational/range_join.py): clicks landing in
    the 2h window after each signup. The naive inequality join is a
    nested loop; the binned form is one hash shuffle on
    (hour-bucket, user_id) plus a residual range filter — the oracle
    runs the naive join, results must be identical."""
    from .relational import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 2 hours")).alias("end_ts"),
    )
    return (
        interval_join(
            clicks,
            signups,
            ts="ts",
            start="start_ts",
            end="end_ts",
            bucket_s=3600,
            extra_key="user_id",
        )
        .groupBy("signup_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias(
                "first_click_epoch"
            ),
        )
    )


def _split_sql() -> str:
    from .relational import sample_sql

    return sample_sql("text", 0.1)


@query(
    "q_hash_split_documents",
    f"select case when {_split_sql()} then 'val' else 'train' end as split, "
    "count(*) as n, sum(n_chars)::bigint as total_chars "
    "from documents group by 1",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val split
    (relational/sampling.py): reproducible across runs, partitionings
    and engines — the oracle evaluates the byte-identical md5-prefix
    predicate in DuckDB."""
    from .relational import split_hash

    d = load_table(spark, sf_dir, "documents")
    return split_hash(d, ["text"], val_fraction=0.1).groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
    )


def _chunk_oracle() -> str:
    from .text.chunking import chunk_sql

    return (
        "select doc_id, chunk_idx, chunk from ("
        + chunk_sql("documents", "doc_id", "text", max_chars=256, overlap=64)
        + ") c"
    )


@query("q_chunk_documents", _chunk_oracle())
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic overlapping character-window chunking
    (text/chunking.py): map-only posexplode(sequence) fan-out, all
    arithmetic in whole-stage codegen; every document survives (null ->
    one empty chunk). Oracle replays the identical integer arithmetic
    via DuckDB unnest(range())."""
    from .text.chunking import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, "text", max_chars=256, overlap=64).select(
        "doc_id", "chunk_idx", "chunk"
    )


def _pack_oracle() -> str:
    from .text.packing import pack_sql

    return pack_sql("documents", "doc_id", "text", seq_len=256)


@query("q_pack_sequences_documents", _pack_oracle())
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing manifest (text/packing.py): global token offsets
    for concatenate-and-chunk LM packing via a two-pass distributed
    prefix sum — per-bucket subtotals broadcast back as offsets, then
    one manifest-row shuffle; the md5 bucket is a prefix of the order
    key so no global sort exists in the plan. Oracle replays the same
    arithmetic as a single DuckDB window."""
    from .text.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text", seq_len=256)


_MIX_WEIGHTS = {"en": 5, "es": 3, "fr": 3, "de": 2}  # zh excluded: whitelist


def _mixture_oracle() -> str:
    from .pipeline.mixture import mixture_sql

    return mixture_sql("documents", "lang", _MIX_WEIGHTS, "doc_id")


@query("q_mixture_interleave_documents", _mixture_oracle())
def q_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data-mixture schedule (pipeline/mixture.py): stride
    scheduling with all-integer interleave keys, per-source ranks via
    the bucketed distributed prefix sum (no global sort, no
    one-partition-per-source window). Sources absent from the weight
    map (zh here) are excluded. Oracle replays the identical integer
    arithmetic with one DuckDB window per source."""
    from .pipeline.mixture import mixture_interleave

    d = load_table(spark, sf_dir, "documents")
    return mixture_interleave(d, "lang", _MIX_WEIGHTS, "doc_id")


def _stratified_oracle() -> str:
    from .relational import stratified_sample_sql

    return (
        "select doc_id, lang from ("
        + stratified_sample_sql(
            "(select doc_id, lang from documents) s",
            "lang",
            "cast(doc_id as varchar)",
            "doc_id",
            k=20,
        )
        + ") t"
    )


@query("q_stratified_sample_documents", _stratified_oracle())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota sample (relational/sampling.py): the 20
    documents per language whose content hash sorts first — an absolute
    per-group cap that stays reproducible across runs, partitionings,
    engines, and corpus growth (unlike sampleBy). One shuffle on the
    group column; oracle runs the byte-identical md5 ordering."""
    from .relational import stratified_sample_hash

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample_hash(d, ["lang"], ["doc_id"], k=20)


def _token_spans_oracle() -> str:
    from .text.analysis import TOKEN_RE

    # DuckDB regexp_extract_all yields the same token stream; the oracle
    # checks the aggregate view (count + total span length + first-token
    # length per doc); character offsets are pinned by unit tests
    return (
        "with t as (select doc_id, "
        f"regexp_extract_all(coalesce(text, ''), '{TOKEN_RE}') as toks "
        "from documents) "
        "select doc_id, cast(len(toks) as bigint) as n_tokens, "
        "cast(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) "
        "as bigint) as total_token_chars "
        "from t where len(toks) > 0"
    )


@query("q_token_spans_stats", _token_spans_oracle())
def q_token_spans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (functions/udtfs.py): token spans with
    character offsets via a LATERAL table function — offsets are the
    part regexp_extract_all cannot express. Aggregated per document and
    checked against DuckDB's token stream; span-offset correctness is
    pinned in tests/test_text.py. NOT a hot-path shape: scale fan-out
    stays with JVM explode (q_explode_token_counts)."""
    from .functions import token_spans

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spans = token_spans(spark, d, "text", "doc_id")
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("token")).alias("total_token_chars"),
    )


@query(
    "q_explode_token_counts",
    "select token, count(*) as n, sum(length(token))::bigint as total_len "
    "from (select unnest(string_split(text, ' ')) as token from documents) t "
    "where token <> '' group by token having count(*) >= 20",
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/UDTF coverage: explode(split(text)) — Catalyst plans a
    JVM Generate node (no Python), then a hash aggregate with partial
    (map-side) combine before the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("token")).alias("total_len"),
        )
        .filter(F.col("n") >= 20)
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "q_pivot_event_value_by_type",
    "select cast(user_id % 10 as varchar) as bucket, "
    + ", ".join(
        f"cast(sum(cast(value as decimal(18,4))) "
        f"filter (where event_type = '{t}') as double) as {t}"
        for t in _EVENT_TYPES
    )
    + " from events group by 1",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot coverage: explicit pivot values keep the plan a single
    Aggregate (no extra distinct-values job); the oracle is the
    equivalent FILTERed conditional aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", (F.col("user_id") % 10).cast("string"))
        .groupBy("bucket")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.expr(_dec_sum("value", "v")))
    )


@query(
    "q_orders_priority_exists",
    "select o_orderpriority, count(*) as n from orders "
    "where exists (select 1 from lineitem "
    " where l_orderkey = o_orderkey and l_shipdate > o_orderdate) "
    "group by o_orderpriority",
)
def q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-EXISTS coverage (TPC-H Q4 shape): planned as a left
    semi join on orderkey with the date predicate as join condition —
    lineitem never materializes per order."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_exact_quantiles_by_type",
    "select event_type, "
    "cast(round(quantile_cont(value, 0.25) * 100) as bigint) as p25_cents, "
    "cast(round(quantile_cont(value, 0.50) * 100) as bigint) as p50_cents, "
    "cast(round(quantile_cont(value, 0.75) * 100) as bigint) as p75_cents "
    "from events group by event_type",
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (sort-based `percentile`) — the
    exact counterpart the KLL/t-digest sketches are validated against;
    both engines use the same (n-1)*p linear interpolation."""
    ev = load_table(spark, sf_dir, "events")
    q = F.expr("percentile(value, array(0.25, 0.5, 0.75))")
    return (
        ev.groupBy("event_type")
        .agg(q.alias("qs"))
        .select(
            "event_type",
            *[
                F.round(F.element_at("qs", i + 1) * 100)
                .cast("bigint")
                .alias(f"p{p}_cents")
                for i, p in enumerate((25, 50, 75))
            ],
        )
    )


# ---------------------------------------------------------------------------
# dedup family (training-data pipeline): exact, MinHash+LSH, SimHash,
# n-gram Jaccard verify, embedding-cosine near-dup.
#
# The raw documents table has no duplicates at any SF, so each dedup query
# derives a dup-injected corpus with ENGINE-PORTABLE SQL (identical
# derivation strings run in Spark and DuckDB) — deterministic, no external
# data, and the oracle sees the exact same corpus.
# ---------------------------------------------------------------------------
_DOC_DUP_SELECT = (
    "select doc_id, text from documents union all "
    "select doc_id + 1000000 as doc_id, "
    "substr(text, 1, cast(floor(length(text) * 0.9) as int)) as text "
    "from documents where doc_id % 7 = 0"
)


def _doc_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(_DOC_DUP_SELECT)


@query(
    "exact_dedup_survivors",
    f"with corpus as ({_DOC_DUP_SELECT}), "
    "exact_corpus as (select doc_id, text from corpus union all "
    " select doc_id + 2000000 as doc_id, text from corpus where doc_id % 5 = 0) "
    "select min(doc_id) as doc_id from exact_corpus group by text",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact dedup (xxhash64 bucket + exact content group,
    dedup/exact.py) over a corpus with injected exact copies."""
    from .dedup.exact import exact_dedup

    corpus = _doc_dup_corpus(spark, sf_dir)
    exact_corpus = corpus.unionAll(
        corpus.filter("doc_id % 5 = 0").selectExpr(
            "doc_id + 2000000 as doc_id", "text"
        )
    )
    return exact_dedup(exact_corpus, "doc_id", ["text"]).select("doc_id")


def _curate_oracle() -> str:
    from .relational.sampling import sample_sql
    from .text.analysis import text_feature_exprs

    e = text_feature_exprs("duckdb")
    return (
        f"with corpus as ({_DOC_DUP_SELECT}), "
        "exact_corpus as (select doc_id, text from corpus union all "
        " select doc_id + 2000000 as doc_id, text from corpus where doc_id % 5 = 0), "
        "dedup as (select min(doc_id) as doc_id, text from exact_corpus group by text), "
        f"feats as (select doc_id, text, {e['quality_score']} as quality_score, "
        f"{e['lang_pred']} as lang_pred from dedup), "
        "kept as (select * from feats where quality_score >= 60 and lang_pred = 'en'), "
        "tk as (select doc_id, string_split(text, ' ') as t from kept), "
        "tr as (select doc_id, array_to_string(t[i+1:i+5], ' ') as sh "
        "  from tk, unnest(range(0, greatest(len(t) - 4, 0))) as u(i) group by 1, 2), "
        "evtk as (select string_split(text, ' ') as t from documents where doc_id % 37 = 0), "
        "ev as (select distinct array_to_string(t[i+1:i+5], ' ') as sh "
        "  from evtk, unnest(range(0, greatest(len(t) - 4, 0))) as u(i)), "
        "tot as (select doc_id, count(*) as n_shingles from tr group by 1), "
        "hit as (select tr.doc_id, count(*) as n_matched from tr join ev using (sh) group by 1), "
        "contam as (select tot.doc_id from tot join hit using (doc_id) "
        "  where hit.n_matched * 100 >= 50 * tot.n_shingles), "
        "clean as (select * from kept where doc_id not in (select doc_id from contam)) "
        "select doc_id, lang_pred, quality_score, "
        f"case when {sample_sql('text', 0.1)} then 'val' else 'train' end as split "
        "from clean"
    )


@query("curate_corpus_documents", None)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation capstone (pipeline/curate.py):
    exact dedup -> quality/language gate -> benchmark decontamination ->
    deterministic train/val split, composed as ONE lazy plan. Every stage
    does real work at this SF (dedup removes the injected exact copies,
    the gate drops low-quality/'und' docs, decontamination drops the
    eval-overlapping docs, the split labels ~10% 'val'). Oracle is the
    same dialect-templated expression chain in DuckDB end-to-end."""
    from .pipeline.curate import curate_corpus

    corpus = _doc_dup_corpus(spark, sf_dir)
    exact_corpus = corpus.unionAll(
        corpus.filter("doc_id % 5 = 0").selectExpr(
            "doc_id + 2000000 as doc_id", "text"
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter("doc_id % 37 = 0").select("text")
    return curate_corpus(exact_corpus, eval_df, "doc_id", "text")


ORACLES["curate_corpus_documents"] = _curate_oracle()


def _curate_lm_oracle() -> str:
    from .relational.sampling import sample_sql
    from .text.analysis import text_feature_exprs

    e = text_feature_exprs("duckdb")
    return (
        f"with corpus as ({_DOC_DUP_SELECT}), "
        "exact_corpus as (select doc_id, text from corpus union all "
        " select doc_id + 2000000 as doc_id, text from corpus where doc_id % 5 = 0), "
        "dedup as (select min(doc_id) as doc_id, text from exact_corpus group by text), "
        f"feats as (select doc_id, text, {e['quality_score']} as quality_score, "
        f"{e['lang_pred']} as lang_pred from dedup), "
        "kept as (select * from feats where quality_score >= 60 and lang_pred = 'en'), "
        # CCNet-style LM gate: bigram coverage vs the DEDUPED corpus
        "bgtk as (select doc_id, string_split(text, ' ') as t from dedup), "
        "bg as (select doc_id, t[i] as w1, t[i+1] as w2 "
        "  from bgtk, unnest(range(1, greatest(len(t), 1))) as u(i)), "
        "bcc as (select w1, w2 from bg group by w1, w2 having count(*) >= 2), "
        "cov as (select b.doc_id, count(*) as nb, "
        "  sum(case when c.w1 is not null then 1 else 0 end) as nc "
        "  from bg b left join bcc c on b.w1 = c.w1 and b.w2 = c.w2 "
        "  group by b.doc_id), "
        "lmkept as (select k.* from kept k join cov v using (doc_id) "
        "  where floor(1000000.0 * v.nc / v.nb) >= 980000), "
        "tk as (select doc_id, string_split(text, ' ') as t from lmkept), "
        "tr as (select doc_id, array_to_string(t[i+1:i+5], ' ') as sh "
        "  from tk, unnest(range(0, greatest(len(t) - 4, 0))) as u(i) group by 1, 2), "
        "evtk as (select string_split(text, ' ') as t from documents where doc_id % 37 = 0), "
        "ev as (select distinct array_to_string(t[i+1:i+5], ' ') as sh "
        "  from evtk, unnest(range(0, greatest(len(t) - 4, 0))) as u(i)), "
        "tot as (select doc_id, count(*) as n_shingles from tr group by 1), "
        "hit as (select tr.doc_id, count(*) as n_matched from tr join ev using (sh) group by 1), "
        "contam as (select tot.doc_id from tot join hit using (doc_id) "
        "  where hit.n_matched * 100 >= 50 * tot.n_shingles), "
        "clean as (select * from lmkept where doc_id not in (select doc_id from contam)) "
        "select doc_id, lang_pred, quality_score, "
        f"case when {sample_sql('text', 0.1)} then 'val' else 'train' end as split "
        "from clean"
    )


@query("curate_corpus_lm_gated", None)
def q_curate_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone with the CCNet-style corpus-LM fluency gate
    enabled (min_bigram_coverage_e6=980000, statistics from the deduped
    corpus): dedup -> quality gate -> LM coverage gate -> decontamination
    -> split, still ONE lazy plan; exact end-to-end DuckDB replay."""
    from .pipeline.curate import curate_corpus

    corpus = _doc_dup_corpus(spark, sf_dir)
    exact_corpus = corpus.unionAll(
        corpus.filter("doc_id % 5 = 0").selectExpr(
            "doc_id + 2000000 as doc_id", "text"
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter("doc_id % 37 = 0").select("text")
    return curate_corpus(
        exact_corpus, eval_df, "doc_id", "text",
        min_bigram_coverage_e6=980000,
    )


ORACLES["curate_corpus_lm_gated"] = _curate_lm_oracle()


# exact all-pairs near-dup CTE chain (DuckDB): corpus -> shingle sets ->
# verified pairs at J >= 0.5. Shared by the pair oracle and the cluster
# oracle so both gates check the same exact ground truth. Formulated as
# an inverted-index join (unnest grams, equi-join on gram, count = |A∩B|,
# |A∪B| = |A|+|B|-|A∩B|) rather than quadratic list_intersect over all
# doc pairs — same exact result (pairs sharing zero grams have J=0 and
# can never pass tau), 40x faster (50s -> 1.2s at sf0.01), which is what
# the per-round driver sweep budget actually buys coverage with. CTEs
# are MATERIALIZED so the recursive cluster oracle below does not
# re-derive the pair set once per fixpoint iteration.
_EXACT_PAIRS_CTES = (
    f"corpus as materialized ({_DOC_DUP_SELECT}), "
    "sh as materialized (select doc_id, "
    "case when length(text) >= 8 then list_distinct(list_transform("
    "range(length(text) - 7), i -> substr(text, i + 1, 8))) "
    "else [text] end as s from corpus), "
    "toks as materialized (select doc_id, len(s) as sz, unnest(s) as g "
    "from sh), "
    "cand as materialized (select a.doc_id as id_a, b.doc_id as id_b, "
    "count(*) as inter, any_value(a.sz) as sza, any_value(b.sz) as szb "
    "from toks a join toks b on a.g = b.g and a.doc_id < b.doc_id "
    "group by a.doc_id, b.doc_id), "
    "pairs as materialized (select id_a, id_b, "
    "cast(floor(1000000.0 * inter / nullif(sza + szb - inter, 0)) "
    "as bigint) as jaccard_e6 from cand "
    "where cast(floor(1000000.0 * inter / nullif(sza + szb - inter, 0)) "
    "as bigint) >= 500000)"
)


@query(
    "minhash_near_dup_pairs",
    f"with {_EXACT_PAIRS_CTES} select id_a, id_b, jaccard_e6 from pairs",
)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + banded LSH (32x4) candidates + exact char-8-gram
    Jaccard verify at tau=0.5. Calibration: natural pair Jaccard tops out
    ~0.13 and injected truncation dups sit >=0.85, so LSH recall at the
    operating point is ~1-1e-15 and the verified output equals the exact
    all-pairs oracle."""
    from .dedup.minhash import near_duplicate_pairs

    corpus = _doc_dup_corpus(spark, sf_dir)
    return near_duplicate_pairs(corpus, "doc_id", "text", tau=0.5)


@query(
    "prefix_join_near_dup_pairs",
    f"with {_EXACT_PAIRS_CTES} select id_a, id_b, jaccard_e6 from pairs",
)
def q_prefix_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs set-similarity self-join via prefix filtering
    (AllPairs/PPJoin, dedup/prefix_join.py): zero false negatives by
    construction, no recall parameter — the deterministic counterpart to
    the MinHash path, verified against the same exact all-pairs oracle."""
    from .dedup.prefix_join import jaccard_prefix_join

    corpus = _doc_dup_corpus(spark, sf_dir)
    return jaccard_prefix_join(corpus, "doc_id", "text", tau=0.5)


# 48-char fold keys + injected typo variants ('~'/'#' are outside the
# corpus alphabet, so v1 sits at distance 1 and v2 at distance 2 from its
# base and 1 from v1 — every distance in [0, 2] is exercised; exact-dup
# 48-char prefixes land at 0). Same arithmetic in both engines.
_EDITDIST_CTES = (
    "base as (select doc_id as id, "
    "rpad(lower(substr(text, 1, 48)), 48, ' ') as key from documents), "
    "v1 as (select id + 1000000 as id, "
    "concat(substr(key, 1, 10), '~', substr(key, 12, 37)) as key "
    "from base where id % 25 = 0), "
    "v2 as (select id + 2000000 as id, "
    "concat(substr(key, 1, 10), '~', substr(key, 12, 18), '#', "
    "substr(key, 31, 18)) as key from base where id % 50 = 0), "
    "corpus as (select * from base union all select * from v1 "
    "union all select * from v2)"
)


@query(
    "editdist_near_dup_pairs",
    f"with {_EDITDIST_CTES} "
    "select a.id as id_a, b.id as id_b, "
    "cast(levenshtein(a.key, b.key) as int) as dist "
    "from corpus a join corpus b on a.id < b.id "
    "where levenshtein(a.key, b.key) <= 2",
)
def q_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance similarity self-join (dedup/editdist.py,
    PassJoin pigeonhole segmenting): every pair within levenshtein
    distance 2 over 48-char fold keys, JVM-verified, zero Python. The
    oracle is the NAIVE all-pairs join, so the blocking's zero-false-
    negative claim is value-checked, not assumed."""
    from .dedup.editdist import editdist_join

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.expr("rpad(lower(substring(text, 1, 48)), 48, ' ')").alias("key"),
    )
    v1 = base.filter("id % 25 = 0").select(
        (F.col("id") + 1000000).alias("id"),
        F.expr(
            "concat(substring(key, 1, 10), '~', substring(key, 12, 37))"
        ).alias("key"),
    )
    v2 = base.filter("id % 50 = 0").select(
        (F.col("id") + 2000000).alias("id"),
        F.expr(
            "concat(substring(key, 1, 10), '~', substring(key, 12, 18), "
            "'#', substring(key, 31, 18))"
        ).alias("key"),
    )
    corpus = base.unionByName(v1).unionByName(v2)
    return editdist_join(corpus, "id", "key", max_dist=2)


@query(
    "near_dup_clusters",
    # exact connected components over the exact pair set: min-label
    # propagation as a recursive CTE (a label walks an edge u->v only while
    # it is smaller than v, so the fixpoint per node is its component min)
    f"with recursive {_EXACT_PAIRS_CTES}, "
    "edges as materialized (select id_a as u, id_b as v from pairs "
    "union select id_b as u, id_a as v from pairs), "
    "walk(id, lbl) as ("
    "select u, u from edges "
    "union "
    "select e.v, w.lbl from walk w join edges e on e.u = w.id "
    "where w.lbl < e.v), "
    "cc as (select id, min(lbl) as comp from walk group by id) "
    "select c.doc_id, coalesce(cc.comp, c.doc_id) as comp_id "
    "from corpus c left join cc on cc.id = c.doc_id",
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: MinHash/LSH pairs chained into
    components by large-star/small-star contraction (dedup/clusters.py),
    every doc labeled with its cluster-min id (own id when unique).
    Value-exact vs a recursive-CTE connected-components oracle over the
    exact all-pairs ground truth."""
    from .dedup.clusters import assign_clusters
    from .dedup.minhash import near_duplicate_pairs

    corpus = _doc_dup_corpus(spark, sf_dir)
    pairs = near_duplicate_pairs(corpus, "doc_id", "text", tau=0.5)
    return assign_clusters(corpus, pairs, "doc_id").select("doc_id", "comp_id")


@query(
    "simhash_separation_gates",
    # value-rich oracle (r04 conversion, the phash pattern): one row
    # PER injected near-dup pair, ids derived independently from the
    # documents relation — a missing pair is a loud row/hash red; the
    # Hamming distances are the algorithm's own outputs and stay
    # in-query booleans.
    "select cast(doc_id as bigint) as id, "
    "true as dup_within_band, true as naturals_far "
    "from documents where doc_id % 7 = 0",
)
def q_simhash_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash statistical gates: every injected near-dup pair within
    Hamming 14; sampled natural pairs median >= 20 (measured: dups
    min/med/max = 0/6/14, naturals min 15 / med 29 at sf0.01). Emitted
    per injected pair (the phash per-pair contract) so the driver
    certifies the pair set itself."""
    from .dedup.simhash import simhash_signatures

    corpus = _doc_dup_corpus(spark, sf_dir)
    sigs = simhash_signatures(corpus, "doc_id", "text")
    orig = sigs.filter("id < 1000000").selectExpr("id", "simhash as sig_a")
    dup = sigs.filter("id >= 1000000").selectExpr(
        "id - 1000000 as id", "simhash as sig_b"
    )
    dup_d = {
        r["id"]: r["d"]
        for r in orig.join(dup, "id")
        .selectExpr("id", "bit_count(sig_a ^ sig_b) as d")
        .collect()
    }
    nat = (
        orig.alias("a")
        .join(orig.alias("b"), F.expr("a.id < b.id and (a.id * 131 + b.id) % 61 = 0"))
        .selectExpr("bit_count(a.sig_a ^ b.sig_a) as d")
    )
    med_nat = nat.agg(F.expr("percentile(d, 0.5)").alias("m")).collect()[0]["m"]
    naturals_far = bool(med_nat >= 20)
    return spark.createDataFrame(
        [
            (int(i), bool(d <= 14), naturals_far)
            for i, d in sorted(dup_d.items())
        ],
        "id long, dup_within_band boolean, naturals_far boolean",
    )


_EMB_DVEC = {
    "spark": "transform(embedding, x -> cast(x as double))",
    "duckdb": "list_transform(embedding, x -> x::double)",
}
_EMB_PERT = {
    "spark": (
        "concat(array(cast(element_at(embedding, 1) as double) + 0.5), "
        "transform(slice(embedding, 2, size(embedding) - 1), "
        "x -> cast(x as double)))"
    ),
    "duckdb": (
        "list_concat([embedding[1]::double + 0.5], "
        "list_transform(embedding[2:], x -> x::double))"
    ),
}


def _emb_dup_select(dialect: str) -> str:
    return (
        f"select vec_id, {_EMB_DVEC[dialect]} as v from embeddings "
        "union all "
        f"select vec_id + 1000000 as vec_id, {_EMB_PERT[dialect]} as v "
        "from embeddings where vec_id % 11 = 0"
    )


@query(
    "embedding_near_dup_pairs",
    f"with corpus as ({_emb_dup_select('duckdb')}), "
    "q as (select vec_id, list_transform(v, x -> floor(x * 1000)::bigint) "
    "as qv from corpus), "
    "scored as (select a.vec_id as id_a, b.vec_id as id_b, "
    "floor(1000000.0 * list_sum(list_transform(list_zip(a.qv, b.qv), "
    "p -> p[1] * p[2]))::double / "
    "(sqrt(list_sum(list_transform(a.qv, x -> x*x))::double) * "
    "sqrt(list_sum(list_transform(b.qv, x -> x*x))::double)))::bigint "
    "as cos_e6 from q a join q b on a.vec_id < b.vec_id) "
    "select id_a, id_b, cos_e6 from scored where cos_e6 >= 800000",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup at tau=0.8 via hyperplane-LSH bucketing +
    exact quantized-cosine verify (natural pair max ~0.44, injected
    perturbed copies ~0.998 — the gap makes LSH recall ~1)."""
    from .ann.lsh import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(_emb_dup_select("spark"))
    return lsh_near_dup_pairs(corpus, "vec_id", "v", tau_e6=800000)


@query("ann_topk_bruteforce", None)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force quantized-cosine top-10 with per-partition local top-k
    (map-side combine) + global window — the ANN exact baseline."""
    from .ann.brute import topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries_ = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter("vec_id % 50 = 0").collect()
    ]
    return topk_cosine(emb, "vec_id", "embedding", queries_, k=10)


def _ann_oracle() -> str:
    from .ann.brute import topk_oracle_sql

    return topk_oracle_sql("vec_id % 50 = 0", k=10)


ORACLES["ann_topk_bruteforce"] = _ann_oracle()


def _ann_recall_oracle() -> str:
    """Value-rich oracle for the ANN recall gates: the recall DENOMINATOR
    — the exact brute-force top-k set the approximate index is measured
    against — is fully SQL-expressible, so the oracle recomputes it and
    pins (n_queries, n_exact) as value rows; only the recall floor
    itself (a property of the approximate index's internals) remains a
    boolean."""
    from .ann.brute import topk_oracle_sql

    return (
        f"with pairs as ({topk_oracle_sql('vec_id % 50 = 0', k=10)}) "
        "select cast(count(distinct qid) as bigint) as n_queries, "
        "cast(count(*) as bigint) as n_exact, true as recall_ok "
        "from pairs"
    )


def _ann_recall_report(spark, exact, approx) -> DataFrame:
    # cache the brute-force baseline: its lineage is the O(queries x
    # corpus) cross join, and the report needs it for the semi-join
    # AND the count aggregate — uncached it would recompute per action
    exact = exact.cache()
    try:
        hits = exact.join(
            approx, ["qid", "neighbor_id"], "left_semi"
        ).count()
        row = exact.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("qid").alias("q"),
        ).first()
        total, n_queries = int(row["n"]), int(row["q"])
    finally:
        exact.unpersist()
    return spark.createDataFrame(
        [(n_queries, total, total > 0 and hits / total >= 0.7)],
        "n_queries long, n_exact long, recall_ok boolean",
    )


@query("ann_lsh_recall_ok", _ann_recall_oracle())
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (16 bands x 4 bits) recall@10 vs the brute-force
    baseline; gate mean recall >= 0.7 (measured 0.86 at sf0.01). The
    exact-baseline query count and pair count are oracle-derived values
    (_ann_recall_oracle), not self-refereed."""
    from .ann.brute import topk_cosine
    from .ann.lsh import lsh_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries_ = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter("vec_id % 50 = 0").collect()
    ]
    exact = topk_cosine(emb, "vec_id", "embedding", queries_, k=10)
    approx = lsh_topk_cosine(emb, "vec_id", "embedding", queries_, k=10)
    return _ann_recall_report(spark, exact, approx)


@query("ann_ivf_recall_ok", _ann_recall_oracle())
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (spherical k-means cells, nprobe search, exact rerank)
    recall@10 vs the brute-force baseline; gate mean recall >= 0.7, with
    the exact-baseline counts oracle-derived (_ann_recall_oracle)."""
    from .ann.brute import topk_cosine
    from .ann.ivf import ivf_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries_ = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter("vec_id % 50 = 0").collect()
    ]
    exact = topk_cosine(emb, "vec_id", "embedding", queries_, k=10)
    approx = ivf_topk_cosine(
        emb, "vec_id", "embedding", queries_, k=10, n_cells=32, nprobe=10,
        iters=5,
    )
    return _ann_recall_report(spark, exact, approx)


@query("ann_pq_recall_ok", _ann_recall_oracle())
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (per-subspace codebooks, m-bytes-per-vector
    codes, ADC candidate scan + exact rerank) recall@10 vs the brute-force
    baseline; gate mean recall >= 0.7, with the exact-baseline counts
    oracle-derived (_ann_recall_oracle)."""
    from .ann.brute import topk_cosine
    from .ann.pq import pq_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries_ = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter("vec_id % 50 = 0").collect()
    ]
    exact = topk_cosine(emb, "vec_id", "embedding", queries_, k=10)
    approx = pq_topk_cosine(
        emb, "vec_id", "embedding", queries_, k=10, m=16, n_codes=32,
        iters=5, oversample=6,
    )
    return _ann_recall_report(spark, exact, approx)


# ---------------------------------------------------------------------------
# text analysis (training-data pipeline: token counting, quality scoring,
# language-ID, document fingerprinting) — JVM-side exprs shared with the
# oracle dialect-for-dialect (text/analysis.py), so parity is structural
# ---------------------------------------------------------------------------
def _text_oracle() -> str:
    from .text.analysis import text_feature_exprs

    exprs = text_feature_exprs("duckdb")
    cols = ", ".join(f"{sql} as {name}" for name, sql in exprs.items())
    return f"select doc_id, {cols} from documents"


@query("text_features", None)
def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text.analysis import with_text_features

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_text_features(d).drop("text")


ORACLES["text_features"] = _text_oracle()


def _seeded_pii(dialect: str) -> str:
    """Deterministic PII-bearing text, rendered identically by both
    engines: the corpus itself contains no digits/emails (synthetic word
    salad), so the redaction gate injects known PII per row — otherwise
    the oracle would pass vacuously on an all-clean corpus."""
    cast = "string" if dialect == "spark" else "varchar"
    d = f"cast(doc_id as {cast})"
    m = f"cast(doc_id % 256 as {cast})"
    return (
        f"text || ' contact u' || {d} || '@example.com or"
        f" https://ex.com/p/' || {d} || ' ip 10.0.' || {m} || '.7"
        f" card 4111111111111111 tel 555-867-5309"
        f" key 0123456789abcdef0123456789abcdef'"
    )


def _redact_oracle() -> str:
    from .text.redact import redact_exprs

    exprs = redact_exprs("duckdb", "text")
    cols = ", ".join(f"{sql} as {name}" for name, sql in exprs.items())
    return (
        f"with seeded as (select doc_id, {_seeded_pii('duckdb')} as text"
        f" from documents) select doc_id, {cols} from seeded"
    )


@query("redact_documents", None)
def q_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing (text/redact.py): 6 ordered regexp_replace
    rules + per-rule match counts, all whole-stage codegen, map-only.
    The oracle compares the full redacted string byte-for-byte."""
    from .text.redact import redact_text

    d = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", _seeded_pii("spark") + " as text"
    )
    return redact_text(d, "text").drop("text")


ORACLES["redact_documents"] = _redact_oracle()


def _seeded_lines(dialect: str) -> str:
    """Deterministic multi-line text, rendered identically by both
    engines: the corpus is single-line word salad, so the repetition gate
    injects known line structure — every 3rd doc gets the same 40-char
    line three times (duplicated lines), the rest get one unique tail
    line (no duplicates) — otherwise the line signals would be vacuous.
    Word bigrams repeat naturally in the salad, so the bigram mode needs
    no injection."""
    nl = "char(10)" if dialect == "spark" else "chr(10)"
    cast = "string" if dialect == "spark" else "varchar"
    rep = f"substr(text, 1, 40)"
    return (
        f"select doc_id, case when doc_id % 3 = 0 then "
        f"text || {nl} || {rep} || {nl} || {rep} || {nl} || {rep} "
        f"else text || {nl} || 'unique tail ' || cast(doc_id as {cast}) end "
        f"as text from documents"
    )


def _repetition_oracle() -> str:
    from .text.repetition import line_exprs_duckdb

    lx = ", ".join(
        f"{sql} as {name}" for name, sql in line_exprs_duckdb("text").items()
    )
    return (
        f"with seeded as ({_seeded_lines('duckdb')}), "
        f"lines as (select doc_id, {lx} from seeded), "
        "toks as (select doc_id, string_split(replace(text, chr(10), ' '), ' ') as w "
        "  from seeded), "
        "grams as (select doc_id, w[i+1] || ' ' || w[i+2] as gram "
        "  from toks, unnest(range(0, greatest(len(w) - 1, 0))) as u(i)), "
        "pg as (select doc_id, gram, count(*) as cnt from grams group by 1, 2), "
        "bg as (select doc_id, max(cnt) as top_bigram_count, "
        "  sum(cnt) as n_bigrams from pg group by 1) "
        "select l.doc_id, l.n_lines, l.dup_line_frac_e6, l.dup_line_char_frac_e6, "
        "coalesce(bg.n_bigrams, 0)::bigint as n_bigrams, "
        "coalesce(bg.top_bigram_count, 0) as top_bigram_count, "
        "cast(floor(1000000.0 * coalesce(bg.top_bigram_count, 0) / "
        "nullif(coalesce(bg.n_bigrams, 0), 0)) as bigint) as top_bigram_frac_e6 "
        "from lines l left join bg using (doc_id)"
    )


@query("repetition_signals_documents", None)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition quality signals (text/repetition.py):
    duplicate-line fraction / duplicate-line character fraction (map-only
    higher-order lambdas, zero shuffle) and top word-bigram coverage
    (explode -> map-side-combined per-doc aggregate). Seeded line
    injection makes the line signals non-vacuous; full per-doc output is
    value-exact vs the same expressions in DuckDB."""
    from .text.repetition import repetition_signals

    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    seeded = spark.sql(_seeded_lines("spark"))
    return repetition_signals(seeded, "doc_id", "text")


ORACLES["repetition_signals_documents"] = _repetition_oracle()


@query(
    "doc_fingerprint_distinct",
    "select source, count(distinct text) as n_unique_fp from documents "
    "group by source",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (k-gram polynomial) 64-bit content fingerprints,
    vectorized NumPy over whole Arrow batches (text/fingerprint.py);
    distinct-fp-per-source equals distinct-text-per-source (collision
    probability ~n^2/2^65)."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("source", "text")

    def fp_batches(batches):
        from .text.fingerprint import doc_fingerprints

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "fp": doc_fingerprints(pdf["text"]).view("int64"),
                }
            )

    return (
        d.mapInPandas(fp_batches, schema="source string, fp long")
        .groupBy("source")
        .agg(F.countDistinct("fp").alias("n_unique_fp"))
    )


# ---------------------------------------------------------------------------
# multimodal: binary payload columns + typed metadata (decode is stubbed;
# the Spark plumbing — schema, pruning, batch kernels — is real)
# ---------------------------------------------------------------------------
def _media_oracle() -> str:
    from .multimodal.media import media_select

    return (
        f"with media as ({media_select('duckdb')}) "
        "select media_type, count(*) as n, "
        "sum(octet_length(payload))::bigint as total_bytes, "
        "sum(cast(width as bigint) * height)::bigint as total_pixels "
        "from media group by media_type"
    )


@query("media_metadata_stats", None)
def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal.media import media_table

    docs = load_table(spark, sf_dir, "documents")
    m = media_table(spark, docs)
    return m.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.sum(F.col("width").cast("long") * F.col("height")).alias(
            "total_pixels"
        ),
    )


ORACLES["media_metadata_stats"] = _media_oracle()


@query("media_frame_sample_counts", None)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 2nd 'frame' of each payload): per-media
    sampled-frame count + sampled byte volume. ceil(n_frames/2) and the
    chunking arithmetic are reproduced exactly in the oracle."""
    from .multimodal.media import media_table, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    m = media_table(spark, docs)
    fr = sample_frames(m, stride=2)
    return fr.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.length("frame")).alias("sampled_bytes"),
    )


def _media_frames_oracle() -> str:
    from .multimodal.media import media_select

    # frame fi (fi in 0,2,4,...) of a payload of length L split into
    # n_frames chunks of flen = max(L // n_frames, 1): bytes taken =
    # len(substr) which can be short/empty for the tail chunk
    return (
        f"with media as ({media_select('duckdb')}), "
        "fr as (select media_id, octet_length(payload) as L, n_frames, "
        " unnest(range(0, n_frames, 2)) as fi from media), "
        "sized as (select media_id, fi, greatest(L // n_frames, 1) as flen, L "
        " from fr) "
        "select media_id, count(*) as n_sampled, "
        "sum(greatest(least(L - fi * flen, flen), 0))::bigint as sampled_bytes "
        "from sized group by media_id"
    )


ORACLES["media_frame_sample_counts"] = _media_frames_oracle()


@query("media_resize_stats", None)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize (multimodal/media.py::resize_media): per
    media_type row counts + total resized bytes (pure functions of the
    metadata, exact in the oracle) + a Spark-side determinism gate (two
    independent resize passes must agree checksum-for-checksum; oracle
    expects TRUE)."""
    from .multimodal.media import media_table, resize_media

    docs = load_table(spark, sf_dir, "documents")
    m = media_table(spark, docs)
    r1 = resize_media(m, out_w=8, out_h=8)
    r2 = resize_media(m, out_w=8, out_h=8).withColumnRenamed(
        "checksum", "checksum2"
    ).select("media_id", "checksum2")
    stable = (
        r1.join(r2, "media_id")
        .agg(
            F.min(F.col("checksum") == F.col("checksum2")).alias("det"),
            F.min(F.length("pixels") == 64).alias("sized"),
        )
        .first()
    )
    return (
        r1.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_resized"),
            F.sum(F.length("pixels")).alias("resized_bytes"),
        )
        .withColumn(
            "deterministic", F.lit(bool(stable["det"] and stable["sized"]))
        )
    )


def _media_resize_oracle() -> str:
    from .multimodal.media import media_select

    return (
        f"with media as ({media_select('duckdb')}) "
        "select media_type, count(*) as n_resized, "
        "cast(count(*) * 64 as bigint) as resized_bytes, "
        "true as deterministic from media group by media_type"
    )


ORACLES["media_resize_stats"] = _media_resize_oracle()


# ---------------------------------------------------------------------------
# additional relational coverage: HAVING-over-agg semi join (TPC-H Q18
# shape), correlated scalar-agg subquery (Q17 shape), FILTER-clause
# aggregates + unpivot, RANGE window frames, multiset set ops
# (INTERSECT/EXCEPT ALL), higher-order array lambdas, null-safe join.
# ---------------------------------------------------------------------------
@query(
    "q18_large_volume_customers",
    "with big as (select l_orderkey, "
    + _dec_sum("l_quantity", "total_qty")
    + " from lineitem group by l_orderkey"
    "  having sum(cast(l_quantity as decimal(18,4))) > 250) "
    "select c_custkey, o_orderkey, total_qty, o_totalprice "
    "from big join orders on o_orderkey = l_orderkey "
    "join customer on c_custkey = o_custkey",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): GROUP BY + HAVING over the
    fact table selects ~1% of orders, which then drives the joins — at
    100 TB the having-filtered aggregate is tiny, so it broadcasts into
    orders and customer instead of shuffling either. The IN-subquery
    formulation decorrelates to exactly this aggregate+join plan."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr(_dec_sum("l_quantity", "total_qty")))
        .filter(F.col("total_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "total_qty", "o_totalprice")
    )


@query(
    "q17_small_quantity_revenue",
    "with pa as (select l_partkey as pk, count(*) as cnt,"
    " sum(cast(l_quantity as decimal(18,4))) as sq from lineitem group by 1) "
    "select count(*) as n_small, "
    + _dec_sum("l_extendedprice", "total_price")
    + " from lineitem l join pa on l.l_partkey = pa.pk"
    " join part p on p.p_partkey = l.l_partkey"
    " where p.p_brand = 'Brand#2'"
    "  and cast(5 * l.l_quantity as decimal(18,4)) * cnt < sq",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery `l_quantity < 0.2 * avg(l_quantity) per part` is
    decorrelated into a per-part aggregate broadcast back into the fact
    scan. The threshold compare is algebraically cleared of division
    (5*qty*cnt < sum_qty, exact decimals) so both engines agree on
    boundary rows bit-for-bit — a double `avg` would not."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr("sum(cast(l_quantity as decimal(18,4)))").alias("sq"),
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.pk)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.expr("cast(5 * l_quantity as decimal(18,4)) * cnt < sq"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.expr(_dec_sum("l_extendedprice", "total_price")),
        )
    )


@query(
    "q_unpivot_event_counts",
    "with w as (select user_id,"
    " count(*) filter (where event_type = 'click') as n_click,"
    " count(*) filter (where event_type = 'view') as n_view,"
    " count(*) filter (where event_type = 'purchase') as n_purchase"
    " from events group by user_id) "
    "select user_id, 'click' as etype, n_click as n from w "
    "union all select user_id, 'view', n_view from w "
    "union all select user_id, 'purchase', n_purchase from w",
)
def q_unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates (one scan, three conditional counts in a
    single hash aggregate — no self-joins) + `unpivot` back to long form
    (zero-shuffle generator, the inverse of pivot)."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.expr("count(*) filter (where event_type = 'click')").alias("n_click"),
        F.expr("count(*) filter (where event_type = 'view')").alias("n_view"),
        F.expr("count(*) filter (where event_type = 'purchase')").alias(
            "n_purchase"
        ),
    )
    return wide.unpivot(
        ["user_id"], ["n_click", "n_view", "n_purchase"], "etype", "n"
    ).select("user_id", F.expr("substring(etype, 3)").alias("etype"), "n")


@query(
    "q_window_range_frame_orders",
    "select o_orderkey, o_custkey, "
    "cast(sum(cast(o_totalprice as decimal(18,4))) over ("
    " partition by o_custkey order by epoch_ms(o_orderdate)"
    " range between 2592000000 preceding and current row) as double)"
    " as rolling_30d from orders",
)
def q_window_range_frame_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time: per customer, the rolling
    30-day order volume. RANGE (not ROWS) makes peer rows — same
    timestamp — aggregate identically regardless of physical order, so
    the result is deterministic under any partitioning; state per group
    is bounded by the frame width, not history."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_millis(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-2592000000, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("rolling_30d"),
    )


@query(
    "q_bag_set_ops_events",
    "select 'intersect_all' as op, count(*) as n from ("
    " select user_id from events where event_type = 'click'"
    " intersect all select user_id from events where event_type = 'view') a "
    "union all "
    "select 'except_all' as op, count(*) as n from ("
    " select user_id from events where event_type = 'click'"
    " except all select user_id from events where event_type = 'view') b",
)
def q_bag_set_ops_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operators (INTERSECT ALL / EXCEPT ALL): bag semantics
    Catalyst plans as count-annotated joins + generate — one shuffle per
    operand pair, no distinct pre-pass."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    inter = (
        clicks.intersectAll(views)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "n")
    )
    exc = (
        clicks.exceptAll(views)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "n")
    )
    return inter.unionAll(exc)


@query(
    "q_higher_order_word_stats",
    "with f as (select lang, string_split(text, ' ') as words from documents) "
    "select lang, "
    "cast(sum(len(list_filter(words, w -> length(w) > 5))) as bigint)"
    " as long_words, "
    "cast(sum(list_sum(list_transform(words, w -> length(w)))) as bigint)"
    " as word_chars, "
    "cast(sum(case when len(list_filter(words, w -> regexp_matches(w, '[0-9]')))"
    " > 0 then 1 else 0 end) as bigint) as docs_with_digit, "
    "count(*) as n_docs from f group by lang",
)
def q_higher_order_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas (`filter`/`transform`+`aggregate`/
    `exists`) evaluated JVM-side inside codegen — the scale path for
    per-element array logic that would otherwise fall back to Python."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.expr("size(filter(split(text, ' '), w -> length(w) > 5))").alias(
                "lw"
            ),
            F.expr(
                "aggregate(split(text, ' '), 0L, (acc, w) -> acc + length(w))"
            ).alias("wc"),
            F.expr("exists(split(text, ' '), w -> w rlike '[0-9]')").alias(
                "hd"
            ),
        )
        .groupBy("lang")
        .agg(
            F.sum("lw").alias("long_words"),
            F.sum("wc").alias("word_chars"),
            F.sum(F.col("hd").cast("long")).alias("docs_with_digit"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


@query(
    "q_nullsafe_join_tools",
    f"with {TRANSCRIPTS_CTE} "
    "select tool, count(*) as n from transcripts group by tool",
)
def q_nullsafe_join_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the tool
    dimension includes NULL (non-tool turns), which a plain equi-join
    would silently drop; `eqNullSafe` hash-joins NULL as a regular key.
    The oracle is the equivalent direct GROUP BY."""
    t = load_transcripts(spark, sf_dir)
    dim = t.select(F.col("tool").alias("d_tool")).distinct()
    return (
        t.join(F.broadcast(dim), t.tool.eqNullSafe(F.col("d_tool")))
        .groupBy("d_tool")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("d_tool").alias("tool"), "n")
    )


@query(
    "merge_upsert_documents",
    "with upd as (select doc_id, upper(text) as text, lang, source, n_chars"
    "  from documents where doc_id % 50 = 0 and doc_id % 97 <> 0), "
    "rest as (select doc_id, text, lang, source, n_chars from documents"
    "  where doc_id % 50 <> 0 and doc_id % 97 <> 0), "
    "ins as (select * from (values"
    "  (10000001, 'new doc a', 'en', 'merged', 9),"
    "  (10000002, 'new doc b', 'en', 'merged', 9))"
    "  as t(doc_id, text, lang, source, n_chars)), "
    "final as (select * from rest union all select * from upd"
    "  union all select * from ins) "
    "select source, count(*) as n_docs, "
    "cast(sum(n_chars) as bigint) as sum_chars, "
    "cast(sum(case when text = upper(text) then 1 else 0 end) as bigint)"
    " as n_upper from final group by source",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on a keyed parquet snapshot (sources/upsert.py): real
    writes — snapshot materialized hive-partitioned on the key bucket,
    then one merge applying updates (uppercase text), inserts, and
    deletes, rewriting ONLY the touched bucket dirs (partition-pruned
    read, dynamic partition overwrite). The oracle recomputes the final
    table state relationally; the pruned-rewrite property itself is
    pinned in tests/test_upsert.py."""
    import tempfile

    from .sources.upsert import merge_into, read_snapshot, write_snapshot

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    snap = tempfile.mkdtemp(prefix="xfns_merge_") + "/snap"
    write_snapshot(docs, snap, "doc_id", n_buckets=16)
    updates = (
        docs.filter("doc_id % 50 = 0 and doc_id % 97 != 0")
        .withColumn("text", F.upper("text"))
        .withColumn("__del", F.lit(False))
    )
    inserts = spark.createDataFrame(
        [
            (10_000_001, "new doc a", "en", "merged", 9),
            (10_000_002, "new doc b", "en", "merged", 9),
        ],
        docs.schema,
    ).withColumn("__del", F.lit(False))
    deletes = docs.filter("doc_id % 97 = 0").withColumn("__del", F.lit(True))
    merge_into(
        spark,
        snap,
        updates.unionByName(inserts).unionByName(deletes),
        deleted_col="__del",
    )
    return (
        read_snapshot(spark, snap)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum((F.col("text") == F.upper("text")).cast("long")).alias(
                "n_upper"
            ),
        )
    )


@query("dup_span_report", None)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated k-gram span detection (dedup/spans.py,
    Lee et al. ACL'22): maximal token spans whose 10-grams occur >= 2x
    corpus-wide, over the dup-injected corpus (truncated copies share
    ~90% of each original, so both sides grow long spans). Pure codegen
    gram stream -> one gram shuffle -> interval-union window; exact
    integer arithmetic replayed by the DuckDB oracle."""
    from .dedup.spans import duplicated_spans

    corpus = _doc_dup_corpus(spark, sf_dir)
    return duplicated_spans(corpus, "doc_id", "text", k=10)


@query("dup_span_strip", None)
def q_dup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup rewrite (dedup/spans.py): drop every duplicated
    span's tokens and reassemble the remainder in order — the ExactSubstr
    removal step. Per-doc bounded state only; docs without duplicated
    spans pass through byte-identical."""
    from .dedup.spans import strip_duplicated_spans

    corpus = _doc_dup_corpus(spark, sf_dir)
    return strip_duplicated_spans(corpus, "doc_id", "text", k=10)


@query("span_index_incremental", None)
def q_span_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ExactSubstr (dedup/span_index.py): the duplicated-gram
    index built from HALF the corpus then incrementally updated with
    the other half (each update O(delta + touched buckets), bucket dirs
    partition-pruned), probed over the full corpus. The oracle is the
    BATCH operator's exact DuckDB replay — incremental maintenance must
    be indistinguishable from recomputation."""
    import tempfile

    from .dedup.span_index import (
        create_gram_index,
        spans_against_index,
        update_gram_index,
    )

    corpus = _doc_dup_corpus(spark, sf_dir).persist()
    path = tempfile.mkdtemp(prefix="xfns_gidx_") + "/idx"
    create_gram_index(
        corpus.filter("doc_id % 2 = 0"), path, k=10, n_buckets=32
    )
    update_gram_index(spark, path, corpus.filter("doc_id % 2 = 1"))
    out = spans_against_index(corpus, spark, path, min_count=2)
    corpus.unpersist()
    return out


def _span_oracles() -> None:
    from .dedup.spans import duplicated_spans_sql, strip_spans_sql

    ORACLES["dup_span_report"] = duplicated_spans_sql(
        _DOC_DUP_SELECT, "doc_id", "text", k=10
    )
    ORACLES["dup_span_strip"] = strip_spans_sql(
        _DOC_DUP_SELECT, "doc_id", "text", k=10
    )
    ORACLES["span_index_incremental"] = duplicated_spans_sql(
        _DOC_DUP_SELECT, "doc_id", "text", k=10
    )


_span_oracles()


@query(
    "semdedup_survivors_exact",
    f"with corpus as ({_emb_dup_select('duckdb')}), "
    "q as (select vec_id, list_transform(v, x -> floor(x * 1000)::bigint) "
    "as qv from corpus), "
    "dropped as (select distinct b.vec_id from q a join q b "
    "on a.vec_id < b.vec_id "
    "where floor(1000000.0 * list_sum(list_transform(list_zip(a.qv, b.qv), "
    "p -> p[1] * p[2]))::double / "
    "(sqrt(list_sum(list_transform(a.qv, x -> x*x))::double) * "
    "sqrt(list_sum(list_transform(b.qv, x -> x*x))::double)))::bigint "
    ">= 800000) "
    "select vec_id from corpus where vec_id not in "
    "(select vec_id from dropped)",
)
def q_semdedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup/semantic.py) in its degenerate exact mode
    (n_cells=1): survivors = rows with no smaller-id neighbor at
    cosine >= 0.8. Value-exact NOT-IN oracle over the same quantized
    arithmetic — this pins the per-cell kernel's semantics; the
    clustered scale mode is gated by semdedup_clustered_ok."""
    from .dedup.semantic import semdedup_survivors

    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(_emb_dup_select("spark"))
    return semdedup_survivors(corpus, "vec_id", "v", tau_e6=800000, n_cells=1)


@query(
    "semdedup_clustered_ok",
    "select true as drops_subset_of_exact, true as recall_ok",
)
def q_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup clustered mode (k-means cells + within-cell exact
    pairwise): every drop must have a true >= tau witness (subset of the
    exact drop set — precision is exact by construction) and recall of
    the exact drops must be >= 0.8. The fixture's injected pairs sit at
    cos ~0.88-0.92 (~25 deg) and the +0.5-on-dim0 perturbation pulls
    copies toward their own Voronoi cell, so hard top-1 assignment only
    reaches ~0.61 recall; top-2 soft assignment (n_assign=2, the
    IVF-style multi-probe fix, x2 kernel work) measures 0.978."""
    from .dedup.semantic import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(_emb_dup_select("spark")).persist()
    exact = (
        semantic_dedup(corpus, "vec_id", "v", 800000, n_cells=1)
        .filter("dropped")
        .select("vec_id")
    )
    clustered = (
        semantic_dedup(corpus, "vec_id", "v", 800000, n_cells=8, n_assign=2)
        .filter("dropped")
        .select("vec_id")
    )
    n_exact = exact.count()
    n_clustered = clustered.count()
    n_outside = clustered.join(exact, "vec_id", "left_anti").count()
    corpus.unpersist()
    return spark.createDataFrame(
        [(n_outside == 0, n_exact > 0 and n_clustered >= 0.8 * n_exact)],
        "drops_subset_of_exact boolean, recall_ok boolean",
    )


_NORM_DUP_SELECT = (
    "select doc_id, text from documents union all "
    "select doc_id + 3000000 as doc_id, upper(text) || '!!' as text "
    "from documents where doc_id % 6 = 0 union all "
    "select doc_id + 4000000 as doc_id, replace(text, ' ', '  ') as text "
    "from documents where doc_id % 8 = 0"
)


def _norm_dedup_oracle() -> str:
    from .text.normalize import normalized_dedup_sql

    return normalized_dedup_sql(_NORM_DUP_SELECT)


@query("normalized_dedup_survivors", None)
def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive dedup (text/normalize.py): case-folded,
    punctuation-stripped, whitespace-collapsed content groups with
    min-id survivors — collapses the injected uppercase/'!!' and
    double-space variants onto their originals. All-codegen
    normalization; one hash-group shuffle; exact oracle runs the
    identical portable regex chain."""
    from .text.normalize import normalized_dedup

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    corpus = spark.sql(_NORM_DUP_SELECT)
    return normalized_dedup(corpus, "doc_id", "text")


ORACLES["normalized_dedup_survivors"] = _norm_dedup_oracle()


@query(
    "fd_projection_ok",
    "select true as orthonormal_ok, true as energy_ok",
)
def q_fd_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD-based PCA projection (ann/project.py): one mergeable-FD pass +
    driver SVD + map-only projection. Gates: the top-8 subspace is
    orthonormal and captures within 0.05 of the EXACT top-8 eigenspace's
    energy (exact from the collected test-scale matrix; at production
    scale the FD spectral bound takes over)."""
    import numpy as np

    from .ann.brute import _stack
    from .ann.project import captured_energy_ratio, fd_principal_directions

    emb = load_table(spark, sf_dir, "embeddings")
    w = fd_principal_directions(emb, "embedding", r=8, ell=32)
    import pandas as pd

    mat = _stack(
        pd.Series([r[0] for r in emb.select("embedding").collect()])
    )
    _, _, vt = np.linalg.svd(mat, full_matrices=False)
    exact = captured_energy_ratio(mat, vt[:8].T)
    got = captured_energy_ratio(mat, w)
    ortho = bool(np.allclose(w.T @ w, np.eye(8), atol=1e-8))
    return spark.createDataFrame(
        [(ortho, bool(got >= exact - 0.05))],
        "orthonormal_ok boolean, energy_ok boolean",
    )


@query(
    "q_tool_transition_matrix",
    f"with {TRANSCRIPTS_CTE}, seq as ("
    "select conv_id, coalesce(tool, 'none') as tool, "
    "lead(coalesce(tool, 'none')) over "
    "(partition by conv_id order by turn_idx) as next_tool "
    "from transcripts) "
    "select tool, next_tool, count(*) as n "
    "from seq where next_tool is not null "
    "group by tool, next_tool",
)
def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-transcript analytics: the tool->next_tool transition matrix
    per conversation (lead window under the stable (conv_id, turn_idx)
    ordering the input_hint mandates) — the Markov-chain statistic for
    mining agent behavior. One shuffle (the window), counts exact."""
    from pyspark.sql.window import Window

    t = load_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tool = F.coalesce("tool", F.lit("none"))
    return (
        t.select("conv_id", "turn_idx", tool.alias("tool"))
        .withColumn("next_tool", F.lead("tool").over(w))
        .filter(F.col("next_tool").isNotNull())
        .groupBy("tool", "next_tool")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "embedding_centroid_sums_by_label",
    "with x as (select label, generate_subscripts(embedding, 1) - 1 as pos,"
    " unnest(embedding) as v from embeddings) "
    "select label, pos, count(*)::bigint as n,"
    " sum(cast(floor(cast(v as double) * 1000000) as bigint))::bigint as sum_e6 "
    "from x group by label, pos",
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid sums — the vector-aggregation
    primitive under distributed k-means / class prototypes / SemDeDup
    cells. posexplode streams (label, dim, component); the hash
    aggregate's MAP-SIDE COMBINE means only |labels| x d partial rows
    shuffle per task, never the vector corpus. Components quantized to
    int64 micro-units (floor on the exact float32->float64 widening, an
    identical IEEE op in both engines) so sums are exact — the division
    to a mean is left to the consumer, keeping floor-vs-trunc ambiguity
    out of the contract. Exact oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "label",
            "pos",
            F.expr(
                "cast(floor(cast(x as double) * 1000000) as bigint)"
            ).alias("q"),
        )
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sum_e6"),
        )
    )


def _tool_graph_cte() -> str:
    """DuckDB replay of relational/pagerank.py::tool_edges over the
    derived transcripts table: (src, dst, w) tool-transition edges plus
    out-weights and the node set."""
    return f"""{TRANSCRIPTS_CTE},
tt as (
  select conv_id, turn_idx, coalesce(tool, 'none') as tool from transcripts
),
seq as (
  select conv_id, tool as src,
         lead(tool) over (partition by conv_id order by turn_idx) as dst
  from tt
),
edges as (
  select src, dst, cast(count(*) as bigint) as w
  from seq where dst is not null group by src, dst
),
outw as (select src, cast(sum(w) as bigint) as out_w from edges group by src),
nodes as (
  select distinct node from (
    select src as node from edges union all select dst as node from edges
  )
),
nn as (select count(*) as n from nodes)"""


def _pagerank_tools_oracle(iters: int = 10, damping_e6: int = 850_000) -> str:
    """Value-exact DuckDB oracle for the fixed-iteration integer
    PageRank recurrence (relational/pagerank.py): the loop UNROLLS into
    ``iters`` chained CTEs — every quantity is a non-negative integer
    and both engines use floor division (`div` / `//`), so the replay
    is bit-identical, promoting pagerank_tools from rows-only to
    value-exact (VERDICT r01 item 8)."""
    m = 10**12
    parts = [
        "with " + _tool_graph_cte(),
        f"r0 as materialized (select node, {m} // (select n from nn) as rank from nodes)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""d{i} as materialized (
  select coalesce(sum(r.rank), 0) as s from r{p} r
  where r.node not in (select src from outw)
)""")
        parts.append(f"""c{i} as materialized (
  select e.dst as node,
         sum(({damping_e6} * ((r.rank * e.w) // o.out_w)) // 1000000) as c
  from edges e join r{p} r on e.src = r.node join outw o on e.src = o.src
  group by e.dst
)""")
        parts.append(f"""r{i} as materialized (
  select n.node,
         (({10**6 - damping_e6} * {m}::hugeint // 1000000)
            // (select n from nn))
         + (({damping_e6} * (select s from d{i})) // 1000000)
            // (select n from nn)
         + coalesce(c.c, 0) as rank
  from nodes n left join c{i} c on n.node = c.node
)""")
    body = ",\n".join(parts[1:])
    return (
        parts[0] + ",\n" + body
        + f"\nselect node, cast(rank as bigint) as rank_e12 from r{iters}"
    )


def _hits_tools_oracle(iters: int = 8) -> str:
    """Value-exact DuckDB oracle for the fixed-iteration HITS recurrence
    (relational/pagerank.py::hits), unrolled like the PageRank one: each
    half-step is a weighted sum plus the exact L1 floor-normalization
    ``(raw * 10^12) // total`` in hugeint (floor division == the
    remainder-subtraction decimal trick for non-negative operands)."""
    m = 10**12
    parts = [
        "with " + _tool_graph_cte(),
        f"h0 as materialized (select node, {m} // (select n from nn) as s from nodes)",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(f"""ar{i} as materialized (
  select e.dst as node, sum(h.s::hugeint * e.w) as raw
  from edges e join {prev_h} h on e.src = h.node group by e.dst
)""")
        parts.append(f"""a{i} as materialized (
  select n.node, case when coalesce((select sum(raw) from ar{i}), 0) = 0
    then {m} // (select n from nn)
    else coalesce((ar.raw * {m}::hugeint)
           // (select sum(raw) from ar{i}), 0) end as s
  from nodes n left join ar{i} ar on n.node = ar.node
)""")
        parts.append(f"""hr{i} as materialized (
  select e.src as node, sum(a.s::hugeint * e.w) as raw
  from edges e join a{i} a on e.dst = a.node group by e.src
)""")
        parts.append(f"""h{i} as materialized (
  select n.node, case when coalesce((select sum(raw) from hr{i}), 0) = 0
    then {m} // (select n from nn)
    else coalesce((hr.raw * {m}::hugeint)
           // (select sum(raw) from hr{i}), 0) end as s
  from nodes n left join hr{i} hr on n.node = hr.node
)""")
        prev_h = f"h{i}"
    body = ",\n".join(parts[1:])
    return (
        parts[0] + ",\n" + body
        + f"\nselect n.node, cast(a.s as bigint) as auth_e12, "
        f"cast(h.s as bigint) as hub_e12 "
        f"from nodes n join a{iters} a on n.node = a.node "
        f"join h{iters} h on n.node = h.node"
    )


@query("hits_tools", _hits_tools_oracle())
def q_hits_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the agent tool-transition graph
    (relational/pagerank.py::hits): which tools are information sinks
    (authorities) vs dispatchers (hubs) in tool-call flows. Same exact
    int64 micro-unit convention as pagerank — L1-normalized with pinned
    floor semantics each half-step via an overflow-proof decimal(38,0)
    remainder trick, bit-identical to the pure-Python replay
    (tests/test_pagerank.py). Fixed iteration count + all-integer
    arithmetic -> the loop unrolls into a value-exact DuckDB oracle
    (_hits_tools_oracle)."""
    from .relational.pagerank import hits, tool_edges

    t = load_transcripts(spark, sf_dir)
    return hits(tool_edges(t), iters=8).select(
        "node", "auth_e12", "hub_e12"
    )


@query("pagerank_tools", _pagerank_tools_oracle())
def q_pagerank_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the agent tool-transition graph (relational/
    pagerank.py): which tools are central in tool-call flows. Exact
    int64 micro-unit arithmetic — ranks are partitioning-invariant and
    bit-identical to the pure-Python replay (tests/test_pagerank.py).
    Fixed iteration count + all-integer arithmetic -> the loop unrolls
    into a value-exact DuckDB oracle (_pagerank_tools_oracle)."""
    from .relational.pagerank import pagerank, tool_edges

    t = load_transcripts(spark, sf_dir)
    return pagerank(tool_edges(t), iters=10).select("node", "rank_e12")


@query(
    "drift_report_ok",
    # the exact distinct counts and the key-Jaccard are SQL-expressible
    # over the same two snapshot filters, so the sketch outputs (exact
    # in the below-k regime) are value-hashed against the relational
    # truth ORACLE-SIDE; key_jaccard is one IEEE float64 division of
    # two exact integers on both engines. KS (rank-eps bound) and TV
    # (float sum order) stay in-query booleans.
    "with a as materialized (select * from events where event_id % 2 = 0), "
    "b as materialized (select * from events where event_id % 2 = 1 "
    "and not (event_type = 'click' and event_id % 4 = 1)), "
    "ua as materialized (select distinct user_id from a), "
    "ub as materialized (select distinct user_id from b) "
    "select (select count(*) from ua)::bigint as distinct_a, "
    "(select count(*) from ub)::bigint as distinct_b, "
    "(select count(*) from (select * from ua intersect select * from ub) x)"
    " / "
    "(select count(*) from (select * from ua union select * from ub) y) "
    "as key_jaccard, "
    "true as ks_ok, true as tv_exact_ok",
)
def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based drift report between two event snapshots
    (sketches/drift.py): distinct/Jaccard via theta set algebra (exact
    here — 150 users < k, the below-k exactness regime), KS distance via
    KLL rank probes (within 2*rank-eps of the exact KS, gated at 0.05),
    TV distance via Misra-Gries (exact — 5 types <= k). Every number
    comes from six one-pass states; the distinct counts and Jaccard are
    value-checked against the ORACLE's relational truth (r03 verdict
    item 5), the KS/TV targets recomputed in-query."""
    import numpy as np

    from .sketches.drift import drift_report

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter("event_id % 2 = 0")
    b = (
        ev.filter("event_id % 2 = 1")
        .filter("not (event_type = 'click' and event_id % 4 = 1)")
        .withColumn("value", F.col("value") * 1.3)
    )
    rep = drift_report(a, b, "user_id", "value", "event_type")

    va = np.sort(np.array([r[0] for r in a.select("value").collect()]))
    vb = np.sort(np.array([r[0] for r in b.select("value").collect()]))
    grid = np.unique(np.concatenate([va, vb]))
    exact_ks = float(
        np.max(
            np.abs(
                np.searchsorted(va, grid, side="right") / va.size
                - np.searchsorted(vb, grid, side="right") / vb.size
            )
        )
    )
    fa = {
        r[0]: r[1]
        for r in a.groupBy("event_type").count().collect()
    }
    fb = {
        r[0]: r[1]
        for r in b.groupBy("event_type").count().collect()
    }
    na, nb = sum(fa.values()), sum(fb.values())
    exact_tv = 0.5 * sum(
        abs(fa.get(k, 0) / na - fb.get(k, 0) / nb)
        for k in set(fa) | set(fb)
    )
    return spark.createDataFrame(
        [
            (
                int(rep["distinct_a"]),
                int(rep["distinct_b"]),
                float(rep["key_jaccard"]),
                abs(rep["ks_distance"] - exact_ks) <= 0.05,
                abs(rep["tv_distance"] - exact_tv) < 1e-9,
            )
        ],
        "distinct_a long, distinct_b long, key_jaccard double, "
        "ks_ok boolean, tv_exact_ok boolean",
    )


@query(
    "quality_classifier_ok",
    "select true as separates_ok, true as loss_decreases_ok",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression quality classifier
    (text/quality_clf.py): full-batch GD — one mapInPandas partial-
    gradient pass per iteration over a cached feature table, O(d)
    floats per partition on the wire. Weak labels distill the heuristic
    gate (quality_score >= 60); gates: >= 0.85 training accuracy and a
    monotone first->last loss drop. Weight-level parity with a NumPy
    reference is pinned in tests/test_quality_clf.py."""
    from .text.analysis import with_text_features
    from .text.quality_clf import score_logreg, train_logreg

    docs = load_table(spark, sf_dir, "documents")
    labeled = (
        with_text_features(docs.select("doc_id", "text"), "text")
        .select(
            "doc_id",
            (F.col("quality_score") >= 60).cast("int").alias("label"),
        )
        .join(docs.select("doc_id", "text"), "doc_id")
        # per-iteration cost is one task per partition; at gate scale a
        # handful of partitions keeps the 20-iteration loop snappy
        .repartition(8)
    )
    model = train_logreg(labeled, iters=20, lr=1.0)
    scored = score_logreg(labeled, model)
    acc_row = (
        scored.join(labeled.select("doc_id", "label"), "doc_id")
        .select(
            F.avg(
                (
                    (F.col("quality_prob") >= 0.5).cast("int")
                    == F.col("label")
                ).cast("double")
            ).alias("acc")
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                bool(acc_row["acc"] >= 0.85),
                bool(model["losses"][-1] < model["losses"][0]),
            )
        ],
        "separates_ok boolean, loss_decreases_ok boolean",
    )


@query(
    "conversation_near_dup_pairs",
    # assembled-conversation corpus (same 'role: text' assembly as
    # q_assemble_conversations) with injected 90%-prefix variants, then
    # the exact all-pairs char-8-gram Jaccard — the same oracle pattern
    # as minhash_near_dup_pairs, lifted from documents to conversations
    f"""
with {TRANSCRIPTS_CTE},
conv as (
  select cast(substr(conv_id, 6) as bigint) as cid,
         string_agg(role || ': ' || text, chr(10) order by turn_idx)
           as text
  from transcripts group by conv_id
),
corpus as (
  select cid, text from conv
  union all
  select cid + 1000000 as cid,
         substr(text, 1, cast(floor(length(text) * 0.9) as int)) as text
  from conv where cid % 7 = 0
),
sh as materialized (
  select cid,
         case when length(text) >= 8 then
           list_distinct(list_transform(range(length(text) - 7),
                                        i -> substr(text, i + 1, 8)))
         else [text] end as s
  from corpus
),
toks as materialized (select cid, len(s) as sz, unnest(s) as g from sh),
cand as materialized (
  -- inverted-index formulation of the exact all-pairs Jaccard (see
  -- _EXACT_PAIRS_CTES): count = intersection, union by inclusion-
  -- exclusion; pairs sharing no 8-gram have J=0 and can never pass tau
  select a.cid as id_a, b.cid as id_b, count(*) as inter,
         any_value(a.sz) as sza, any_value(b.sz) as szb
  from toks a join toks b on a.g = b.g and a.cid < b.cid
  group by a.cid, b.cid
),
pairs as (
  select id_a, id_b,
    cast(floor(1000000.0 * inter / nullif(sza + szb - inter, 0))
      as bigint) as jaccard_e6
  from cand
  where cast(floor(1000000.0 * inter / nullif(sza + szb - inter, 0))
      as bigint) >= 500000
)
select id_a, id_b, jaccard_e6 from pairs
""",
)
def q_conversation_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level near-dup detection — the transcript-payload
    composition: assemble each conversation into its training document
    (the q_assemble_conversations definition), inject 90%-prefix
    variants, then MinHash(128) + banded LSH + exact-Jaccard verify at
    tau=0.5 (dedup/minhash.py). Conversations from different documents
    share ~no 8-grams, injected truncations sit >=0.85 — same operating
    point as the document query, so the verified output equals the
    exact all-pairs oracle."""
    from .dedup.minhash import near_duplicate_pairs

    t = load_transcripts(spark, sf_dir)
    line = F.concat_ws(": ", "role", "text")
    conv = (
        t.select("conv_id", "turn_idx", line.alias("line"))
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text")
        )
        .select(
            F.expr("cast(substr(conv_id, 6) as bigint)").alias("cid"),
            "text",
        )
    )
    variants = conv.filter("cid % 7 = 0").select(
        (F.col("cid") + 1_000_000).alias("cid"),
        F.expr(
            "substr(text, 1, cast(floor(length(text) * 0.9) as int))"
        ).alias("text"),
    )
    corpus = conv.unionByName(variants)
    return near_duplicate_pairs(corpus, "cid", "text", tau=0.5)


@query(
    "q_assemble_conversations",
    f"with {TRANSCRIPTS_CTE} "
    "select conv_id, "
    "string_agg(role || ': ' || text, chr(10) order by turn_idx) as doc, "
    "count(*) as n_turns, "
    "sum(length(text))::bigint as total_chars "
    "from transcripts group by conv_id",
)
def q_assemble_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly: turns -> ONE training document per
    conversation ('role: text' lines joined in turn order) — the
    transcript-to-LM-document preprocessing step. Per-group state is
    bounded by conversation length (array_sort(collect_list(struct)));
    one shuffle; byte-exact vs the ordered string_agg oracle."""
    t = load_transcripts(spark, sf_dir)
    line = F.concat_ws(": ", "role", "text")
    return (
        t.select("conv_id", "turn_idx", line.alias("line"), "text")
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("doc"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
    )


@query(
    "q_conversation_profile",
    f"with {TRANSCRIPTS_CTE} "
    "select conv_id, count(*) as n_turns, "
    "sum(case when role = 'user' then 1 else 0 end)::bigint as n_user, "
    "sum(case when role = 'assistant' then 1 else 0 end)::bigint as n_assistant, "
    "sum(case when tool is not null then 1 else 0 end)::bigint as n_tool_calls, "
    "count(distinct tool) as n_distinct_tools, "
    "sum(length(text))::bigint as total_chars, "
    "(max(ts_epoch) - min(ts_epoch))::bigint as duration_s, "
    "max(case when role = 'assistant' then length(text) end) as max_assistant_chars "
    "from transcripts group by conv_id",
)
def q_conversation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-transcript analytics: per-conversation profile — turn/role
    mix, tool-call volume, distinct tools, text volume, wall-clock span.
    ONE hash-aggregate shuffle on conv_id (state O(1) per group — every
    stat is an associative counter, so the map-side partial aggregate
    does the heavy lifting and only per-conversation rows cross the
    wire). The conversational analog of the reference's per-set stats
    surface; exact oracle."""
    t = load_transcripts(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long")).alias("n_assistant"),
        F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool_calls"),
        F.countDistinct("tool").alias("n_distinct_tools"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        (F.max("ts_epoch") - F.min("ts_epoch")).cast("long").alias("duration_s"),
        F.max(
            F.when(F.col("role") == "assistant", F.length("text"))
        ).alias("max_assistant_chars"),
    )


@query(
    "q_turn_context_windows",
    f"with {TRANSCRIPTS_CTE}, lines as ("
    "  select conv_id, turn_idx, role, text,"
    "         role || ': ' || text as line from transcripts) "
    "select conv_id, turn_idx, context, text as target from ("
    "  select conv_id, turn_idx, role, text,"
    "         string_agg(line, chr(10)) over ("
    "           partition by conv_id order by turn_idx"
    "           rows between 3 preceding and 1 preceding) as context"
    "  from lines) t where role = 'assistant'",
)
def q_turn_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turns -> supervised training pairs: for every assistant turn, the
    previous <=3 turns become the prompt context ('role: text' lines in
    turn order) and the assistant text the target. ONE window shuffle on
    conv_id with a bounded ROWS frame (state = 3 rows per group, O(1)
    memory regardless of conversation length — the scalable alternative
    to collecting whole conversations); the role filter cannot be pushed
    below the window (the frame must see user/tool turns) and Catalyst
    correctly keeps it above. Exact oracle (DuckDB windowed string_agg
    over the identical frame)."""
    from pyspark.sql.window import Window

    t = load_transcripts(spark, sf_dir)
    w = (
        Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-3, -1)
    )
    line = F.concat_ws(": ", "role", "text")
    ctx_arr = F.collect_list(line).over(w)
    return (
        t.select("conv_id", "turn_idx", "role", "text", line.alias("line"))
        .withColumn(
            "context",
            F.when(F.size(ctx_arr) > 0, F.array_join(ctx_arr, "\n")),
        )
        .filter(F.col("role") == "assistant")
        .select("conv_id", "turn_idx", "context", F.col("text").alias("target"))
    )


@query(
    "streaming_transcript_pairs",
    f"with {TRANSCRIPTS_CTE}, lines as ("
    "  select conv_id, turn_idx, role, text,"
    "         role || ': ' || text as line from transcripts) "
    "select conv_id, turn_idx, context, text as target from ("
    "  select conv_id, turn_idx, role, text,"
    "         string_agg(line, chr(10)) over ("
    "           partition by conv_id order by turn_idx"
    "           rows between 3 preceding and 1 preceding) as context"
    "  from lines) t where role = 'assistant'",
)
def q_streaming_transcript_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SFT-pair emission (streaming/transcript_pairs.py)
    through the REAL streaming engine: the turn table replays as 4
    micro-batches; conversations assemble in the session-window state
    store (state merges when a conversation's turns straddle batches)
    and each closed conversation emits its assistant-turn (context,
    target) pairs via a codegen array lambda. Stream == batch is the
    contract: the oracle is the IDENTICAL windowed-string_agg definition
    the batch q_turn_context_windows is checked against."""
    import os
    import tempfile

    from .streaming.transcript_pairs import stream_transcript_pairs

    t = load_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )
    root = tempfile.mkdtemp(prefix="xfns_stp_")
    src = os.path.join(root, "turns")
    t.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # no watermark: the 4 replay files are not event-time-ordered, and a
    # watermark would drop their rows at ingestion; complete mode does
    # not need one (append-mode watermark semantics are pytest-covered)
    conv = stream_transcript_pairs(
        stream, gap="10 minutes", watermark_delay=None, explode=False
    )
    qn = "streaming_transcript_pairs_sink"
    q = (
        conv.writeStream.format("memory")
        .queryName(qn)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qn)
        .select("conv_id", F.explode("pairs").alias("p"))
        .select(
            "conv_id",
            F.col("p.turn_idx").alias("turn_idx"),
            F.col("p.context").alias("context"),
            F.col("p.target").alias("target"),
        )
    )


# conversation-level dedup: the corpus has no naturally duplicated
# conversations (distinct doc_id => distinct conv), so the gate injects
# re-serialized copies of every 13th conversation under a 'dup-' conv_id
# (repo precedent: redact/repetition inject their signal deterministically
# so the oracle is non-vacuous). Both engines replay the same injection.
_CONV_DUP_INJECT = (
    "conv_all as ("
    "  select conv_id, turn_idx, text from transcripts "
    "  union all "
    "  select 'dup-' || conv_id as conv_id, turn_idx, text "
    "  from transcripts where cast(substr(conv_id, 6) as bigint) % 13 = 0)"
)


@query(
    "conversation_dedup_survivors",
    f"with {TRANSCRIPTS_CTE}, {_CONV_DUP_INJECT}, digests as ("
    "  select conv_id,"
    "         md5(string_agg(coalesce(text, ''), chr(31) order by turn_idx))"
    "           as digest"
    "  from conv_all group by conv_id) "
    "select digest, count(*) as n_convs, min(conv_id) as survivor_conv_id "
    "from digests group by digest",
)
def q_conversation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup: a conversation's identity is the
    md5 of its turn texts in (turn_idx) order — two conversations are
    duplicates iff every turn matches in sequence. Shuffle 1 groups turns
    by conv_id with conversation-length-bounded state; shuffle 2 groups
    the per-conversation digest rows (corpus-of-conversations sized, tiny
    vs the turn table). Survivor = min conv_id, matching dedup/exact.py's
    deterministic-survivor convention. Exact oracle over an injected
    duplicate set (every 13th conversation re-serialized)."""
    t = load_transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    dup = t.filter(
        F.substring("conv_id", 6, 99).cast("long") % 13 == 0
    ).select(
        F.concat(F.lit("dup-"), F.col("conv_id")).alias("conv_id"),
        "turn_idx",
        "text",
    )
    digests = (
        t.unionByName(dup)
        .groupBy("conv_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "turn_idx",
                                    F.coalesce("text", F.lit("")).alias("t"),
                                )
                            )
                        ),
                        lambda s: s["t"],
                    ),
                    "\x1f",
                )
            ).alias("digest")
        )
    )
    return digests.groupBy("digest").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.min("conv_id").alias("survivor_conv_id"),
    )


def _curate_transcripts_oracle() -> str:
    from .relational.sampling import sample_sql

    split_pred = sample_sql("conv_id", 0.1)
    return (
        f"with {TRANSCRIPTS_CTE}, conv_all as ("
        "  select conv_id, turn_idx, role, coalesce(text, '') as text"
        "  from transcripts"
        "  union all"
        "  select 'dup-' || conv_id, turn_idx, role, coalesce(text, '')"
        "  from transcripts where cast(substr(conv_id, 6) as bigint) % 13 = 0),"
        "conv as ("
        "  select conv_id,"
        "    md5(string_agg(text, chr(31) order by turn_idx)) as digest,"
        "    count(*) as n_turns,"
        "    sum(case when role = 'assistant' then 1 else 0 end) as n_assistant,"
        "    sum(length(text)) as total_chars"
        "  from conv_all group by conv_id),"
        "survivors as ("
        "  select conv_id from ("
        "    select conv_id, n_turns, n_assistant, total_chars,"
        "      row_number() over (partition by digest order by conv_id) as rk"
        "    from conv) t"
        "  where rk = 1 and n_turns >= 3 and n_assistant >= 1"
        "    and total_chars >= 40),"
        "lines as ("
        "  select a.conv_id, a.turn_idx, a.role, a.text,"
        "    a.role || ': ' || a.text as line"
        "  from conv_all a join survivors s using (conv_id)),"
        "pairs as ("
        "  select conv_id, turn_idx, context, text as target from ("
        "    select conv_id, turn_idx, role, text,"
        "      string_agg(line, chr(10)) over ("
        "        partition by conv_id order by turn_idx"
        "        rows between 3 preceding and 1 preceding) as context"
        "    from lines) t where role = 'assistant') "
        "select conv_id, turn_idx, context, target,"
        f"  case when {split_pred} then 'val' else 'train' end as split "
        "from pairs"
    )


@query("curate_transcript_pairs", None)
def q_curate_transcript_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript curation capstone (pipeline/curate_transcripts.py):
    conversation dedup (md5 of ordered turn texts, min-id survivor) ->
    per-conversation quality gate (>=3 turns, >=1 assistant turn, >=40
    chars, computed in the SAME aggregate as the digest) -> (context,
    target) pair emission per assistant turn (bounded ROWS frame) ->
    deterministic content-keyed train/val split on conv_id. One lazy
    plan; every corpus-sized shuffle keys on conv_id. Exact end-to-end
    oracle over injected duplicate conversations (every 13th conversation
    re-serialized; the dedup stage must remove them)."""
    from .pipeline.curate_transcripts import curate_transcript_pairs

    t = load_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    dup = t.filter(
        F.substring("conv_id", 6, 99).cast("long") % 13 == 0
    ).withColumn("conv_id", F.concat(F.lit("dup-"), F.col("conv_id")))
    return curate_transcript_pairs(t.unionByName(dup))


ORACLES["curate_transcript_pairs"] = _curate_transcripts_oracle()


@query(
    "streaming_drift_monitor_ok",
    "select true as batch_stream_parity_ok, true as exactly_once_ok",
)
def q_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (streaming/drift_monitor.py) through the
    REAL streaming engine: two event micro-batches fold into running
    sketch states with a per-batch drift row vs a frozen reference
    snapshot. Gates: the final row equals the batch drift_report of the
    union (theta/MG exact regimes; KLL within rank error), and the
    metrics log holds exactly one row per batch (exactly-once ledger)."""
    import os
    import tempfile
    import time

    from .sketches.drift import drift_report
    from .streaming.drift_monitor import run_drift_monitor

    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter("event_id % 3 = 0")
    s0 = ev.filter("event_id % 3 = 1")
    s1 = (
        ev.filter("event_id % 3 = 2")
        .withColumn("value", F.col("value") * 1.5)
    )
    root = tempfile.mkdtemp(prefix="xfns_sdrift_")
    t0 = time.time() - 3600
    for i, s in enumerate((s0, s1)):
        p = os.path.join(root, "in", f"s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))

    stream = (
        spark.readStream.schema(s0.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    q, mon = run_drift_monitor(
        stream, ref, "user_id", "value", "event_type",
        state_dir=os.path.join(root, "state"),
        checkpoint_dir=os.path.join(root, "ckpt"),
    )
    q.awaitTermination()

    rows = mon.metrics()
    batch = drift_report(
        s0.unionByName(s1), ref, "user_id", "value", "event_type"
    )
    final = rows[-1]
    parity = (
        abs(final["distinct_a"] - batch["distinct_a"]) < 1e-9
        and abs(final["key_jaccard"] - batch["key_jaccard"]) < 1e-9
        and abs(final["tv_distance"] - batch["tv_distance"]) < 1e-9
        and abs(final["ks_distance"] - batch["ks_distance"]) <= 0.05
    )
    once = [r["batch_id"] for r in rows] == [0, 1]
    return spark.createDataFrame(
        [(bool(parity), bool(once))],
        "batch_stream_parity_ok boolean, exactly_once_ok boolean",
    )


@query(
    "streaming_merge_versions",
    "with v0 as (select doc_id, source, n_chars from documents), "
    "v1 as (select doc_id, source, "
    "case when doc_id % 9 = 0 then n_chars + 9 else n_chars end as n_chars "
    "from v0), "
    "v2 as (select * from v1 where doc_id % 15 != 0) "
    "select 0 as version, count(*) as n_rows, "
    "sum(n_chars)::bigint as sum_chars from v0 union all "
    "select 1, count(*), sum(n_chars)::bigint from v1 union all "
    "select 2, count(*), sum(n_chars)::bigint from v2",
)
def q_streaming_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO the versioned table through the REAL
    streaming engine (streaming/table_sink.py): two file-source
    micro-batches (an upsert slice, then a delete slice) commit one
    table version each with the applied-batch ledger inside the
    manifest; all three versions then read back via time travel. Oracle
    replays the logical states; exactly-once replay semantics are
    pinned in tests/test_table_sink.py."""
    import os
    import tempfile
    import time

    from .sources.timetravel import create_table, read_table
    from .streaming.table_sink import stream_merge_into

    root = tempfile.mkdtemp(prefix="xfns_smerge_")
    table = os.path.join(root, "table")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    create_table(docs, table, "doc_id", n_buckets=16)

    s0 = (
        docs.filter("doc_id % 9 = 0")
        .withColumn("n_chars", F.col("n_chars") + 9)
        .withColumn("__del", F.lit(False))
    )
    s1 = docs.filter("doc_id % 15 = 0").withColumn("__del", F.lit(True))
    t0 = time.time() - 3600
    for i, s in enumerate((s0, s1)):
        p = os.path.join(root, "in", f"s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))

    stream = (
        spark.readStream.schema(s0.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    q = stream_merge_into(
        stream, table, os.path.join(root, "ckpt"), deleted_col="__del"
    )
    q.awaitTermination()

    parts = []
    for v in (0, 1, 2):
        parts.append(
            read_table(spark, table, version=v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select(F.lit(v).alias("version"), "n_rows", "sum_chars")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "table_changes_v0_v2",
    "with v0 as (select doc_id, source, n_chars from documents), "
    "ins0 as (select doc_id + 1000000 as doc_id, 'ins' as source, n_chars "
    "from documents where doc_id % 13 = 0), "
    "v1 as (select doc_id, source, "
    "case when doc_id % 10 = 0 then n_chars + 1000 else n_chars end "
    "as n_chars from v0 union all select * from ins0), "
    "v2 as (select doc_id, source, "
    "case when doc_id % 7 = 0 then n_chars + 7 else n_chars end as n_chars "
    "from v1 where doc_id % 20 != 0) "
    "select coalesce(a.doc_id, b.doc_id) as doc_id, "
    "coalesce(b.n_chars, a.n_chars) as n_chars, "
    "coalesce(b.source, a.source) as source, "
    "case when a.doc_id is null then 'insert' "
    "when b.doc_id is null then 'delete' else 'update' end as change_type "
    "from v0 a full outer join v2 b on a.doc_id = b.doc_id "
    "where a.doc_id is null or b.doc_id is null "
    "or a.n_chars != b.n_chars or a.source != b.source",
)
def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed on the versioned table
    (sources/timetravel.py::table_changes): row-level diff v0 -> v2
    reading ONLY buckets whose owning commit changed (partition-pruned
    on both sides — same-owner buckets are byte-identical and never
    touched). Exact full-outer relational-diff oracle."""
    import tempfile

    from .sources.timetravel import create_table, merge_into, table_changes

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="xfns_cdf_") + "/table"
    create_table(docs, path, "doc_id", n_buckets=16)
    d1 = (
        docs.filter("doc_id % 10 = 0")
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .unionByName(
            docs.filter("doc_id % 13 = 0").select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.lit("ins").alias("source"),
                "n_chars",
            )
        )
    )
    merge_into(spark, path, d1)
    from .sources.timetravel import read_table

    v1 = read_table(spark, path, version=1)
    d2 = (
        v1.filter("doc_id % 7 = 0 and doc_id % 20 != 0")
        .withColumn("n_chars", F.col("n_chars") + 7)
        .withColumn("__del", F.lit(False))
        .unionByName(
            v1.filter("doc_id % 20 = 0").withColumn("__del", F.lit(True))
        )
    )
    merge_into(spark, path, d2, deleted_col="__del")
    return table_changes(spark, path, 0, 2)


@query(
    "timetravel_version_states",
    "with v0 as (select doc_id, source, n_chars from documents), "
    "ins as (select doc_id + 1000000 as doc_id, 'ins' as source, n_chars "
    "from documents where doc_id % 13 = 0), "
    "v1 as (select doc_id, source, "
    "case when doc_id % 10 = 0 then n_chars + 1000 else n_chars end "
    "as n_chars from v0 union all select * from ins), "
    "v2 as (select doc_id, source, "
    "case when doc_id % 7 = 0 then n_chars + 7 else n_chars end as n_chars "
    "from v1 where doc_id % 20 != 0) "
    "select 0 as version, count(*) as n_rows, "
    "sum(n_chars)::bigint as sum_chars, sum(doc_id)::bigint as sum_ids "
    "from v0 union all "
    "select 1, count(*), sum(n_chars)::bigint, sum(doc_id)::bigint from v1 "
    "union all "
    "select 2, count(*), sum(n_chars)::bigint, sum(doc_id)::bigint from v2",
)
def q_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style versioned table (sources/timetravel.py): REAL
    commits — create v0 from documents, merge updates+inserts (v1),
    merge updates+deletes computed FROM the v1 state (v2) — then read
    all three versions back via time travel and aggregate each. The
    oracle replays the logical version states relationally; the
    copy-on-write / expiry / isolation properties are pinned in
    tests/test_timetravel.py."""
    import tempfile

    from .sources.timetravel import create_table, merge_into, read_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="xfns_tt_") + "/table"
    create_table(docs, path, "doc_id", n_buckets=16)
    d1 = (
        docs.filter("doc_id % 10 = 0")
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .unionByName(
            docs.filter("doc_id % 13 = 0").select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.lit("ins").alias("source"),
                "n_chars",
            )
        )
    )
    merge_into(spark, path, d1)
    v1 = read_table(spark, path, version=1)
    d2 = (
        v1.filter("doc_id % 7 = 0 and doc_id % 20 != 0")
        .withColumn("n_chars", F.col("n_chars") + 7)
        .withColumn("__del", F.lit(False))
        .unionByName(
            v1.filter("doc_id % 20 = 0").withColumn("__del", F.lit(True))
        )
    )
    merge_into(spark, path, d2, deleted_col="__del")
    parts = []
    for v in (0, 1, 2):
        parts.append(
            read_table(spark, path, version=v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.sum("doc_id").cast("long").alias("sum_ids"),
            )
            .select(F.lit(v).alias("version"), "n_rows", "sum_chars", "sum_ids")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- DSIR importance resampling (text/dsir.py) ------------------------
# The corpus's token distribution is lang-uniform (shared vocabulary), so
# the gate plants a deterministic target flavor: every 7th doc in the raw
# pool carries a 5-token suffix, and the target sample is a DISJOINT doc
# set (doc_id % 7 = 1) carrying the same suffix. DSIR trained on
# (target, pool) must surface the planted pool docs. Both engines replay
# the identical injection (repo precedent: redact/repetition/dedup gates).
_DSIR_SFX = " curated encyclopedia reference citation verified" * 2
_DSIR_POOL = (
    "select doc_id, text || case when doc_id % 7 = 0 then "
    f"'{_DSIR_SFX}' else '' end as text from documents"
)
_DSIR_TARGET = (
    f"select doc_id, text || '{_DSIR_SFX}' as text "
    "from documents where doc_id % 7 in (1, 2)"
)


def _dsir_bucket_oracle() -> str:
    from .text.dsir import gram_bucket_sql

    pool = (
        f"with both_pools as (select 'raw' as dist, text from ({_DSIR_POOL}) "
        f"union all select 'target' as dist, text from ({_DSIR_TARGET})), "
        + gram_bucket_sql("select dist, text from both_pools")
        + " select dist, bucket, count(*)::bigint as c "
        "from __grams group by dist, bucket"
    )
    return pool


@query("dsir_bucket_counts", None)
def q_dsir_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR feature extraction (text/dsir.py): hashed unigram+bigram
    bucket counts for the raw pool and the target sample — the two
    distribution estimates the importance weights come from. Map-only
    gram stream, one hash aggregate, output bounded by 4096 buckets per
    distribution regardless of corpus size. Exact oracle."""
    from .text.dsir import gram_buckets

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    pool = spark.sql(_DSIR_POOL).selectExpr("'raw' as dist", "text")
    tgt = spark.sql(_DSIR_TARGET).selectExpr("'target' as dist", "text")
    return (
        gram_buckets(pool.unionByName(tgt), "dist", "text")
        .groupBy("dist", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


ORACLES["dsir_bucket_counts"] = _dsir_bucket_oracle()


@query(
    "dsir_selection_ok",
    # value-rich oracle (r04 conversion): n_planted and n_selected are
    # derived independently from the documents relation and
    # value-hashed (k_selected is thereby certified as a VALUE, not a
    # boolean); the >=0.9 recall of the score-ranked selection is the
    # algorithm's own output and stays an in-query boolean.
    "select cast(count(*) as bigint) as n_planted, "
    "cast(count(*) as bigint) as n_selected, true as recall_ok "
    "from documents where doc_id % 7 = 0",
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection gate: top-k importance-resampled docs (k = number
    planted) must recover >= 90% of the planted target-flavored docs.
    Scores are integer micro-units — exact, partitioning-independent
    (the float log-ratio lives in the library; the NumPy differential in
    tests/test_dsir.py pins it). Planted and selected counts are
    measured and value-checked against the oracle's derivation."""
    from .text.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    pool = spark.sql(_DSIR_POOL)
    tgt = spark.sql(_DSIR_TARGET)
    planted = {
        r["doc_id"]
        for r in docs.filter("doc_id % 7 = 0").select("doc_id").collect()
    }
    sel = dsir_select(pool, tgt, "doc_id", "text", k=len(planted))
    got = {r["doc_id"] for r in sel.select("doc_id").collect()}
    recall = len(got & planted) / len(planted)
    return spark.createDataFrame(
        [(len(planted), len(got), bool(recall >= 0.9))],
        "n_planted long, n_selected long, recall_ok boolean",
    )


@query("lm_coverage_documents", None)
def q_lm_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM fluency signals (text/ngram_lm.py): per-doc
    bigram coverage vs the corpus's own bigram table plus rare-token
    counts — the model-free perplexity stand-in; integer/micro-int only
    (the float add-1 NLL lives in the library, differential-tested)."""
    from .text.ngram_lm import lm_coverage_signals

    docs = load_table(spark, sf_dir, "documents")
    return lm_coverage_signals(docs, "doc_id", "text", min_count=2)


def _lm_oracle() -> None:
    from .text.ngram_lm import lm_signals_sql

    ORACLES["lm_coverage_documents"] = lm_signals_sql(
        "select doc_id, text from documents", min_count=2
    )


_lm_oracle()


@query("inverted_index_postings", None)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded inverted index (text/index.py): term -> sorted 'doc:tf'
    posting lists grouped on (term, doc_id % 4) so Zipf-skewed stopword
    lists split across reducers instead of one O(corpus) group; global
    min_df filter via a vocab-sized aggregate joined back."""
    from .text.index import build_postings

    docs = load_table(spark, sf_dir, "documents")
    return build_postings(docs, "doc_id", "text", n_shards=4, min_df=2)


def _postings_oracle() -> None:
    from .text.index import postings_sql

    ORACLES["inverted_index_postings"] = postings_sql(
        "select doc_id, text from documents", n_shards=4, min_df=2
    )


_postings_oracle()


_UNIGRAM_CACHE: dict = {}


def _unigram_model(spark: SparkSession, sf_dir: str) -> dict:
    """Deterministic (corpus, hyperparams) -> model; memoized so the two
    contract queries train once per session."""
    if sf_dir not in _UNIGRAM_CACHE:
        from .text.unigram_lm import train_unigram

        docs = load_table(spark, sf_dir, "documents")
        _UNIGRAM_CACHE[sf_dir] = train_unigram(
            docs, vocab_size=48, max_piece_len=5, max_seed=180,
            em_iters=2, prune_frac=0.3,
        )
    return _UNIGRAM_CACHE[sf_dir]


def _assert_unigram_model_invariants(logp: dict) -> None:
    """Model-table invariants that must hold for ANY corpus (raised
    loudly so the rows-only driver gate's green means 'ran AND the
    invariants held', not just 'returned rows'): log-probs are
    non-positive (each is log of a ratio <= 1), total piece mass stays
    in the unit band (EM normalizes; pruning only removes mass; the
    char-coverage floor adds <= n*1e-9), and no piece exceeds the seed
    length cap."""
    import math

    bad_lp = [p for p, lp in logp.items() if lp > 0.0]
    if bad_lp:
        raise AssertionError(f"unigram: positive log-probs for {bad_lp[:5]}")
    mass = sum(math.exp(lp) for lp in logp.values())
    if not (0.0 < mass <= 1.0 + 1e-6):
        raise AssertionError(f"unigram: piece mass {mass} outside (0, 1]")
    too_long = [p for p in logp if len(p) > 5]
    if too_long:
        raise AssertionError(f"unigram: pieces over max_len: {too_long[:5]}")


@query("unigram_pieces_documents", None)
def q_unigram_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (text/unigram_lm.py, Kudo ACL'18):
    EM over the word table with forward-backward lattice E-steps,
    pruned to 48 pieces. Iterative float lattice -> rows-only gate, but
    strengthened (r03 verdict item 3): the query RAISES unless the
    model invariants hold (non-positive log-probs, unit-band piece
    mass, length cap), and the value-oracled sibling
    ``unigram_invariants_ok`` checks the corpus-derivable facts against
    SQL truth. The value-exact check for the EM numbers themselves is
    the single-machine replay differential in tests/test_unigram_lm.py."""
    logp = _unigram_model(spark, sf_dir)
    _assert_unigram_model_invariants(logp)
    return spark.createDataFrame(
        sorted((p, lp) for p, lp in logp.items()),
        "piece string, log_prob double",
    )


@query("unigram_encode_stats", None)
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi encoding with the trained unigram vocabulary — map-only
    Arrow kernel; per-doc piece counts. Rows-only gate (iterative
    upstream), strengthened (r03 verdict item 3): a distributed
    character-conservation check runs over EVERY document (a Viterbi
    segmentation concatenates back to the word, so per-doc summed piece
    length must equal the doc's non-space char count) and the query
    RAISES on any violation; the Viterbi argmax property itself is
    spot-verified per-word in ``unigram_invariants_ok``."""
    from .text.unigram_lm import encode_unigram

    docs = load_table(spark, sf_dir, "documents")
    logp = _unigram_model(spark, sf_dir)
    enc = encode_unigram(docs.select("doc_id", "text"), logp, max_piece_len=5)
    bad = enc.filter(
        F.expr("aggregate(pieces, 0, (a, p) -> a + length(p))")
        != F.length(F.regexp_replace(F.coalesce("text", F.lit("")), " ", ""))
    ).count()
    if bad:
        raise AssertionError(
            f"unigram encode: {bad} docs fail char conservation"
        )
    # enc is a map-only kernel over the doc scan — recomputing it for
    # the returned projection is one extra cheap pass, no persist needed
    return enc.select("doc_id", F.size("pieces").alias("n_pieces"))


@query(
    "unigram_invariants_ok",
    # the corpus-derivable facts are SQL truth: the single-char piece
    # set is exactly the corpus word character set (seed keeps all
    # single chars, pruning never drops them), and n_docs anchors the
    # encode coverage; the float-EM-dependent properties are in-query
    # booleans with literal expectations
    "select (select count(distinct c) from (select unnest("
    "string_split(word, '')) as c from (select distinct unnest("
    "string_split(coalesce(text, ''), ' ')) as word from documents) w "
    "where word != '') t) as n_single_char_pieces, "
    "(select count(*) from documents)::bigint as n_docs, "
    "true as vocab_le_target, true as all_logp_nonpositive, "
    "true as mass_in_unit_band, true as max_piece_len_ok, "
    "true as pieces_are_corpus_substrings, true as viterbi_argmax_ok, "
    "true as encode_chars_conserved",
)
def q_unigram_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-oracled invariant gate for the Unigram-LM family (r03
    verdict item 3 — the last rows-only pair stops certifying row
    counts only). Checks, each LOUD in the driver hash:

    - the trained single-char piece set equals the corpus word
      character set (computed independently by the ORACLE's SQL);
    - vocabulary size respects the prune target (<= max(vocab_size,
      n_single_chars) — the prune floor keeps coverage chars);
    - log-probs non-positive, piece mass in the unit band, length cap;
    - every piece is a substring of some corpus word (seed property
      preserved by pruning; checked DISTRIBUTED against the word
      table);
    - the distributed Viterbi kernel output is the true argmax
      segmentation for a deterministic sample of words, verified by an
      INDEPENDENT memoized max-score recursion over all segmentations
      (forward splits; no shared code with the kernel's backward
      lattice — ties by score allowed, the tie-break is pinned in
      tests);
    - per-doc character conservation over every document.
    """
    import math

    from .text.unigram_lm import encode_unigram, word_counts

    docs = load_table(spark, sf_dir, "documents")
    logp = _unigram_model(spark, sf_dir)

    n_singles = sum(1 for p in logp if len(p) == 1)
    vocab_le = len(logp) <= max(48, n_singles)
    lp_ok = all(lp <= 0.0 for lp in logp.values())
    mass = sum(math.exp(lp) for lp in logp.values())
    mass_ok = 0.0 < mass <= 1.0 + 1e-6
    len_ok = all(len(p) <= 5 for p in logp)

    wc = word_counts(docs).persist()
    pieces_df = spark.createDataFrame(
        [(p,) for p in logp], "piece string"
    )
    n_substr = (
        wc.crossJoin(F.broadcast(pieces_df))
        .filter(F.expr("contains(word, piece)"))
        .select("piece")
        .distinct()
        .count()
    )
    substr_ok = n_substr == len(logp)

    # deterministic word sample -> distributed kernel encode -> compare
    # the kernel path's SCORE against an independent memoized forward
    # recursion over all segmentations
    sample = [
        r["word"]
        for r in wc.orderBy(F.xxhash64("word"))
        .limit(64)
        .collect()
        if len(r["word"]) <= 14
    ]
    wc.unpersist()
    enc_rows = encode_unigram(
        spark.createDataFrame(
            [(i, w) for i, w in enumerate(sample)], "doc_id long, text string"
        ),
        logp,
        max_piece_len=5,
    ).collect()

    def best_score(word: str) -> float:
        from functools import lru_cache

        @lru_cache(maxsize=None)
        def rec(i: int) -> float:
            if i == len(word):
                return 0.0
            best = float("-inf")
            for j in range(i + 1, min(len(word), i + 5) + 1):
                lp = logp.get(word[i:j])
                if lp is not None:
                    best = max(best, lp + rec(j))
            return best

        return rec(0)

    viterbi_ok = True
    for r in enc_rows:
        w = sample[r["doc_id"]]
        pieces = list(r["pieces"])
        if "".join(pieces) != w or any(p not in logp for p in pieces):
            viterbi_ok = False
            break
        got = sum(logp[p] for p in pieces)
        if not math.isclose(got, best_score(w), rel_tol=0, abs_tol=1e-9):
            viterbi_ok = False
            break

    enc = encode_unigram(docs.select("doc_id", "text"), logp, max_piece_len=5)
    n_bad = enc.filter(
        F.expr("aggregate(pieces, 0, (a, p) -> a + length(p))")
        != F.length(F.regexp_replace(F.coalesce("text", F.lit("")), " ", ""))
    ).count()

    return spark.createDataFrame(
        [
            (
                int(n_singles),
                int(docs.count()),
                bool(vocab_le),
                bool(lp_ok),
                bool(mass_ok),
                bool(len_ok),
                bool(substr_ok),
                bool(viterbi_ok),
                n_bad == 0,
            )
        ],
        "n_single_char_pieces long, n_docs long, vocab_le_target boolean, "
        "all_logp_nonpositive boolean, mass_in_unit_band boolean, "
        "max_piece_len_ok boolean, pieces_are_corpus_substrings boolean, "
        "viterbi_argmax_ok boolean, encode_chars_conserved boolean",
    )


_BPE_CACHE: dict = {}


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """Deterministic (corpus, hyperparams) -> merge table; memoized so
    the three BPE contract queries train once per session."""
    if sf_dir not in _BPE_CACHE:
        from .text.bpe import train_bpe

        docs = load_table(spark, sf_dir, "documents")
        merges, vocab = train_bpe(docs, num_merges=10)
        vocab.unpersist()
        _BPE_CACHE[sf_dir] = merges
    return _BPE_CACHE[sf_dir]


def _bpe_chain_ctes(num_merges: int = 10) -> str:
    """Shared CTE chain replaying the BPE training recurrence exactly
    (fifth/sixth rows-only -> value-exact promotions): the word-count
    vocabulary is one exact aggregate; each merge round is (pair count
    -> total-order argmax -> greedy left-to-right fold), and the fold —
    Spark's codegen ``aggregate`` in text/bpe.py::merge_fold — is
    replayed symbol-for-symbol by a DuckDB ``list_reduce`` over a
    chr(1)-joined accumulator string (same last-symbol test, same
    non-overlapping greedy semantics). All state is integer counts and
    symbol strings — no floats anywhere, so the replay is value-exact,
    not approximately so."""
    parts = [
        "v0 as materialized (select word, cnt, "
        "string_split(word, '') || ['</w>'] as sym from ("
        "select word, count(*)::bigint as cnt from ("
        "select unnest(string_split(coalesce(text, ''), ' ')) as word "
        "from documents) t where word != '' group by word) w)",
    ]
    for t in range(num_merges):
        parts += [
            f"p{t} as materialized (select sym[i] as l, sym[i+1] as r, "
            f"sum(cnt)::bigint as c from v{t}, "
            f"unnest(range(1, len(sym))) as u(i) "
            f"where len(sym) >= 2 group by 1, 2)",
            f"m{t} as materialized (select l, r, c from p{t} "
            f"order by c desc, l, r limit 1)",
            f"v{t + 1} as materialized (select word, cnt, "
            f"string_split(list_reduce(sym, (acc, s) -> case when "
            f"list_extract(string_split(acc, chr(1)), -1) = m.l "
            f"and s = m.r then substr(acc, 1, len(acc) - len(m.l)) "
            f"|| m.l || m.r else acc || chr(1) || s end), chr(1)) as sym "
            # on-true left join: an exhausted pair table (early stop)
            # freezes the vocabulary instead of emptying it
            f"from v{t} left join m{t} m on true)",
        ]
    parts.append(
        "mall as materialized ("
        + " union all ".join(
            f"select {t} as mrank, l, r, c from m{t}"
            for t in range(num_merges)
        )
        + ")"
    )
    # the fold accumulator joins symbols on chr(1); a corpus word
    # containing that byte would silently corrupt the replay — guard CTE
    # lets each final select go loudly red instead
    parts.append(
        "sepguard as materialized (select count(*) as bad from v0 "
        "where word like '%' || chr(1) || '%')"
    )
    return ",\n".join(parts)


def _bpe_merges_oracle(num_merges: int = 10, min_count: int = 2) -> str:
    # counts can never rebound above a sub-threshold round's count (a
    # merged pair of count c creates new adjacencies of count <= c), so
    # the cumulative-min qualify replays train_bpe's early-stop exactly
    return (
        "with " + _bpe_chain_ctes(num_merges) + "\n"
        'select cast(mrank as int) as "rank", l as "left", r as "right", '
        "c as pair_count from mall "
        f"qualify min(c) over (order by mrank) >= {min_count} "
        'union all select -1 as "rank", \'\' as "left", \'\' as "right", '
        "-1 as pair_count from sepguard where bad > 0"
    )


def _bpe_encode_oracle(num_merges: int = 10, min_count: int = 2) -> str:
    # per-doc token count = sum over word OCCURRENCES of the trained
    # segmentation length (encode re-derives exactly the training fold);
    # loud sentinel if the unroll and train_bpe's early-stop diverge
    return (
        "with " + _bpe_chain_ctes(num_merges) + ",\n"
        "dw as materialized (select doc_id, word from ("
        "select doc_id, unnest(string_split(coalesce(text, ''), ' ')) "
        "as word from documents) t where word != ''),\n"
        f"seg as materialized (select word, len(sym)::bigint as n "
        f"from v{num_merges})\n"
        "select d.doc_id, coalesce(sum(s.n), 0)::bigint as n_bpe_tokens "
        "from (select doc_id from documents) d "
        "left join (select dw.doc_id, s.n from dw "
        "join seg s using (word)) s using (doc_id) group by d.doc_id "
        "union all select -1 as doc_id, -1 as n_bpe_tokens "
        f"from (select min(c) as mc from mall) q where mc < {min_count} "
        "union all select -2 as doc_id, -2 as n_bpe_tokens "
        "from sepguard where bad > 0"
    )


@query("bpe_merges_documents", _bpe_merges_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (text/bpe.py, Sennrich ACL'16):
    10 merges learned over the documents corpus. One corpus-sized shuffle
    (word counts), then vocab-sized iterations with codegen fold merges.
    VALUE-EXACT oracle (_bpe_merges_oracle): the recurrence state is all
    integer counts + symbol strings, and the greedy merge fold replays
    in DuckDB's list_reduce — see _bpe_chain_ctes; the pure-Python
    textbook differential in tests/test_bpe.py pins the distributed
    execution independently."""
    from .text.bpe import merges_df

    return merges_df(spark, _bpe_merges(spark, sf_dir))


@query("bpe_encode_token_stats", _bpe_encode_oracle())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode with the learned merge table, entirely in codegen
    (nested aggregate folds inside a transform over the word array):
    per-doc BPE token counts. VALUE-EXACT oracle: the encode fold is
    the training fold, so each word's token count equals its trained
    segmentation length — the oracle joins the replayed final vocab back
    to the doc word stream (_bpe_encode_oracle); segmentation exactness
    is pinned by tests/test_bpe.py."""
    from .text.bpe import encode_with_merges

    docs = load_table(spark, sf_dir, "documents")
    return encode_with_merges(docs, _bpe_merges(spark, sf_dir)).select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def _wp_chain_ctes(num_merges: int = 10, min_count: int = 2) -> str:
    """Shared CTE chain replaying WordPiece training exactly (seventh/
    eighth rows-only -> value-exact promotions): same integer-state
    recurrence as BPE (_bpe_chain_ctes) but the per-round argmax
    maximizes the likelihood ratio count(lr)/(count(l)*count(r)) — made
    EXACT via HUGEINT cross-multiplication in a NOT-EXISTS comparator
    (no float ever orders candidates, mirroring the Spark side's
    band-then-Fraction re-compare). An empty candidate round (early
    stop) leaves the vocabulary frozen via the on-true left join, like
    train_wordpiece's break."""
    beats = (
        "(q.c::hugeint * (p.lc::hugeint * p.rc::hugeint) > "
        "p.c::hugeint * (q.lc::hugeint * q.rc::hugeint) or "
        "(q.c::hugeint * (p.lc::hugeint * p.rc::hugeint) = "
        "p.c::hugeint * (q.lc::hugeint * q.rc::hugeint) and "
        "(q.c > p.c or (q.c = p.c and (q.l < p.l or "
        "(q.l = p.l and q.r < p.r))))))"
    )
    parts = [
        "v0 as materialized (select word, cnt, string_split(word, '') "
        "as sym from (select word, count(*)::bigint as cnt from ("
        "select unnest(string_split(coalesce(text, ''), ' ')) as word "
        "from documents) t where word != '' group by word) w)",
    ]
    for t in range(num_merges):
        parts += [
            f"sc{t} as materialized (select s as sym_s, "
            f"sum(cnt)::bigint as scnt from v{t}, unnest(sym) as u(s) "
            f"group by s)",
            f"p{t} as materialized (select sym[i] as l, sym[i+1] as r, "
            f"sum(cnt)::bigint as c from v{t}, "
            f"unnest(range(1, len(sym))) as u(i) "
            f"where len(sym) >= 2 group by 1, 2)",
            f"cand{t} as materialized (select p.l, p.r, p.c, "
            f"sl.scnt as lc, sr.scnt as rc from p{t} p "
            f"join sc{t} sl on p.l = sl.sym_s "
            f"join sc{t} sr on p.r = sr.sym_s "
            f"where p.c >= {min_count})",
            f"m{t} as materialized (select l, r, c from cand{t} p "
            f"where not exists (select 1 from cand{t} q "
            f"where (q.l != p.l or q.r != p.r) and {beats}))",
            f"v{t + 1} as materialized (select word, cnt, "
            f"string_split(list_reduce(sym, (acc, s) -> case when "
            f"list_extract(string_split(acc, chr(1)), -1) = m.l "
            f"and s = m.r then substr(acc, 1, len(acc) - len(m.l)) "
            f"|| m.l || m.r else acc || chr(1) || s end), chr(1)) as sym "
            f"from v{t} left join m{t} m on true)",
        ]
    # same chr(1)-separator guard as _bpe_chain_ctes
    parts.append(
        "sepguard as materialized (select count(*) as bad from v0 "
        "where word like '%' || chr(1) || '%')"
    )
    return ",\n".join(parts)


def _wp_pieces_oracle(num_merges: int = 10) -> str:
    return (
        "with " + _wp_chain_ctes(num_merges) + "\n"
        "select piece, count(*) as n_words, sum(cnt)::bigint as total_cnt "
        f"from (select cnt, unnest(list_transform(sym, (s, i) -> "
        f"case when i = 1 then s else '##' || s end)) as piece "
        f"from v{num_merges}) t group by piece "
        "union all select '' as piece, -1 as n_words, -1 as total_cnt "
        "from sepguard where bad > 0"
    )


def _wp_encode_oracle(num_merges: int = 10, max_word_len: int = 200) -> str:
    """Greedy longest-match-first encode replay as a RECURSIVE per-word
    state walk: each iteration picks the longest vocabulary piece
    matching at the current offset (correlated argmax over the
    materialized piece table), whole word -> [UNK] on any dead end (the
    BERT semantics). Depth-unbounded by construction — every step
    either consumes >= 1 matched character or jumps the cursor to the
    end of the word, so the walk terminates for a word of ANY length
    (the earlier fixed ``steps=12`` unroll under-covered words that
    segment into > 12 pieces and would have tripped its sentinel even
    though Spark was correct)."""
    parts = [
        _wp_chain_ctes(num_merges),
        f"pieces as materialized (select distinct "
        f"unnest(list_transform(sym, (s, i) -> case when i = 1 then s "
        f"else '##' || s end)) as piece from v{num_merges})",
        "dw as materialized (select doc_id, word from (select doc_id, "
        "unnest(string_split(coalesce(text, ''), ' ')) as word "
        "from documents) t where word != '')",
        f"w0 as materialized (select word, "
        f"case when len(word) > {max_word_len} then len(word) else 0 end "
        f"as pos, case when len(word) > {max_word_len} then 1 else 0 end "
        f"as nt, case when len(word) > {max_word_len} then 1 else 0 end "
        f"as unk from (select distinct word from dw) t)",
        # per-word greedy walk: the anchor is the full distinct-word
        # state table; the recursive step advances only unfinished rows
        # (pos < len), so each word's FINISHED state (pos >= len) is
        # emitted exactly once across the accumulated union
        # NOTE: the longest-match argmax is a lateral-unnest LEFT JOIN +
        # GROUP BY, not a correlated scalar subquery — DuckDB 1.0.0
        # silently yields NULL for a correlated subquery evaluated over
        # a multi-row recursive working table (verified: single-row
        # anchors walk correctly, multi-row anchors dead-end every word)
        "wfin as materialized (\n"
        "with recursive walk as (\n"
        "  select word, pos, nt, unk from w0\n"
        "  union all\n"
        "  select word,\n"
        "    case when bl is null then len(word) else pos + bl end as pos,\n"
        "    case when bl is null then 1 else nt + 1 end as nt,\n"
        "    case when bl is null then 1 else unk end as unk\n"
        "  from (\n"
        "    select w.word, w.pos, w.nt, w.unk,\n"
        "      max(case when p.piece is not null then u.i end) as bl\n"
        "    from walk w\n"
        "    cross join unnest(range(1, len(w.word) - w.pos + 1)) as u(i)\n"
        "    left join pieces p on p.piece =\n"
        "      (case when w.pos = 0 then substr(w.word, 1, u.i)\n"
        "       else '##' || substr(w.word, w.pos + 1, u.i) end)\n"
        "    where w.pos < len(w.word)\n"
        "    group by w.word, w.pos, w.nt, w.unk\n"
        "  ) t\n"
        ")\n"
        "select word, nt, unk from walk where pos >= len(word))",
    ]
    return (
        "with " + ",\n".join(parts) + "\n"
        "select d.doc_id, coalesce(sum(t.nt), 0)::bigint as n_wp_tokens, "
        "coalesce(sum(t.unk), 0)::bigint as n_unk "
        "from (select doc_id from documents) d left join ("
        "select dw.doc_id, f.nt, f.unk from dw join wfin f "
        "using (word)) t using (doc_id) group by d.doc_id "
        # loud sentinels: a word whose walk never finished (impossible
        # by construction; integrity guard), or a literal '[UNK]' piece
        # in the vocabulary (would make the token count and the unk
        # flag diverge from Spark's string filter)
        "union all select -1 as doc_id, -1 as n_wp_tokens, -1 as n_unk "
        "from (select count(*) as bad from (select word from w0 "
        "except select word from wfin) x) q where bad > 0 "
        "union all select -2 as doc_id, -2 as n_wp_tokens, -2 as n_unk "
        "from (select count(*) as bad from pieces "
        "where piece = '[UNK]') q where bad > 0 "
        "union all select -3 as doc_id, -3 as n_wp_tokens, -3 as n_unk "
        "from sepguard where bad > 0"
    )


@query("wordpiece_pieces_documents", _wp_pieces_oracle())
def q_wordpiece_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WordPiece training (text/wordpiece.py, Schuster &
    Nakajima ICASSP'12 — the BERT tokenizer): 10 likelihood-scored
    merges over the documents corpus, then the surface vocabulary
    (word-initial + ##-continuation pieces). Same scale shape as BPE
    (one corpus shuffle, vocab-sized iterations); the ratio argmax is
    EXACT via float64 band pre-rank + driver Fraction re-compare.
    VALUE-EXACT oracle (_wp_pieces_oracle): integer-state recurrence
    with a HUGEINT cross-multiplication argmax — see _wp_chain_ctes;
    the pure-Python textbook differential in tests/test_wordpiece.py
    pins the distributed execution independently."""
    from .text.wordpiece import train_wordpiece, vocab_pieces

    docs = load_table(spark, sf_dir, "documents")
    _, vocab = train_wordpiece(docs, num_merges=10)
    out = vocab_pieces(vocab)
    vocab.unpersist()
    return out


@query("wordpiece_encode_stats", _wp_encode_oracle())
def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style greedy longest-match-first WordPiece encode against
    the trained surface vocabulary — Arrow kernel over DISTINCT words +
    word-keyed join-back (the production word-table shape). Per-doc
    token and [UNK] counts. VALUE-EXACT oracle (_wp_encode_oracle): the
    greedy matching loop unrolls by token position over the replayed
    vocabulary; the greedy property is also verified piece-by-piece in
    tests/test_wordpiece.py."""
    from .text.wordpiece import (
        UNK,
        encode_wordpiece,
        train_wordpiece,
        wordpiece_vocab_set,
    )

    docs = load_table(spark, sf_dir, "documents")
    _, vocab = train_wordpiece(docs, num_merges=10)
    pieces = wordpiece_vocab_set(vocab)
    vocab.unpersist()
    enc = encode_wordpiece(docs, pieces, "doc_id", "text")
    return enc.select(
        "doc_id",
        F.size("wp_tokens").cast("long").alias("n_wp_tokens"),
        F.expr(f"size(filter(wp_tokens, t -> t = '{UNK}'))")
        .cast("long")
        .alias("n_unk"),
    )


@query("bpe_encode_distinct_parity", "select true as paths_identical")
def q_bpe_encode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale BPE encode (encode_with_merges_distinct:
    pandas merge kernel over DISTINCT words + word-keyed join-back +
    in-order regroup — plan depth O(1) in merge-table size) must equal
    the codegen fold path document for document, token for token."""
    from .text.bpe import encode_with_merges, encode_with_merges_distinct

    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    a = encode_with_merges(docs, merges).select(
        "doc_id", F.col("bpe_tokens").alias("a_toks")
    )
    b = encode_with_merges_distinct(docs, merges, "doc_id").select(
        "doc_id", F.col("bpe_tokens").alias("b_toks")
    )
    bad = (
        a.join(b, "doc_id", "full")
        .filter("a_toks is distinct from b_toks")
        .count()
    )
    return spark.createDataFrame(
        [(bool(bad == 0),)], "paths_identical boolean"
    )


@query(
    "q_triangle_copurchase",
    """
with items as (
  select distinct l_orderkey as g, l_partkey as i from lineitem
),
e as (
  select distinct a.i as a, b.i as b
  from items a join items b using (g) where a.i < b.i
),
deg as (
  select n as node, count(*) as deg
  from (select a as n from e union all select b as n from e)
  group by n
),
tri as (
  select e1.a as x, e1.b as y, e2.b as z
  from e e1
  join e e2 on e1.a = e2.a and e1.b < e2.b
  join e e3 on e3.a = e1.b and e3.b = e2.b
),
pn as (
  select n as node, count(*) as tri
  from (select x as n from tri union all
        select y as n from tri union all
        select z as n from tri)
  group by n
)
select deg.node as node, deg.deg as deg,
       (deg.deg * (deg.deg - 1)) // 2 as wedge_pairs,
       coalesce(pn.tri, 0) as tri
from deg left join pn using (node)
""",
)
def q_triangle_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts over the part co-purchase graph
    (relational/graph.py): parts are adjacent iff some order contains
    both. Degree-ordered orientation bounds the wedge self-join at
    O(m^1.5) under arbitrary degree skew ("curse of the last reducer");
    the oracle counts node-ordered closed triples — orientation-free, so
    it cross-checks the orientation machinery rather than replicating
    it. All-integer output (tri, wedge_pairs = the local clustering
    coefficient's exact numerator/denominator)."""
    from .relational.graph import cooccurrence_edges, triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    # plain closure semi-join: the 1.2M-row closure side BROADCASTS, so
    # the 41M wedges are filtered map-side with zero shuffle — measured
    # 8.0 s vs 73.6 s for prune='xor' at sf0.1/local[32] (the prune pays
    # filter construction + string-key probes to avoid a shuffle that
    # AQE already avoids). prune='xor' remains the beyond-broadcast
    # path: when the edge set no longer fits a broadcast, the probe
    # prunes the wedge shuffle instead (row-identical, parity-tested).
    return triangle_counts(edges, prune=None)


@query(
    "data_validation_report",
    """
select 'complete(event_type)' as check, count(*) as n_rows,
       cast(sum(case when event_type is null then 1 else 0 end) as bigint)
         as n_violations,
       sum(case when event_type is null then 1 else 0 end) = 0 as passed
from events
union all
select 'complete(user_id)', count(*),
       cast(sum(case when user_id is null then 1 else 0 end) as bigint),
       sum(case when user_id is null then 1 else 0 end) = 0
from events
union all
select 'unique(event_id)', count(*),
       cast(count(event_id) - count(distinct event_id) as bigint),
       count(event_id) = count(distinct event_id)
from events
union all
select 'unique(user_id)', count(*),
       cast(count(user_id) - count(distinct user_id) as bigint),
       count(user_id) = count(distinct user_id)
from events
union all
select 'in_range(value)', count(*),
       cast(sum(case when value is not null and (value < 0 or value > 250)
                then 1 else 0 end) as bigint),
       sum(case when value is not null and (value < 0 or value > 250)
           then 1 else 0 end) = 0
from events
union all
select 'matches(event_type)', count(*),
       cast(sum(case when event_type is not null
                      and not regexp_matches(event_type, '^[a-z]+$')
                then 1 else 0 end) as bigint),
       sum(case when event_type is not null
                 and not regexp_matches(event_type, '^[a-z]+$')
           then 1 else 0 end) = 0
from events
union all
select 'refers_to(o_custkey)',
       (select count(*) from orders),
       (select cast(count(*) as bigint) from orders
        where o_custkey is not null
          and o_custkey not in (select c_custkey from customer
                                 where c_custkey is not null)),
       (select count(*) from orders
        where o_custkey is not null
          and o_custkey not in (select c_custkey from customer
                                 where c_custkey is not null)) = 0
""",
)
def q_data_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative validation (pipeline/validate.py): six
    row-local/uniqueness constraints over events share ONE scan and ONE
    hash aggregate (completeness, two uniqueness branches via Expand,
    range, regex), plus a referential-integrity anti-join on orders ->
    customer. All-integer report; unique(user_id) fails by design so the
    violation path is non-vacuous."""
    from .pipeline.validate import (
        complete,
        in_range,
        matches,
        refers_to,
        unique,
        validate,
    )

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rep = validate(
        ev,
        [
            complete("event_type"),
            complete("user_id"),
            unique("event_id"),
            unique("user_id"),
            in_range("value", 0, 250),
            matches("event_type", "^[a-z]+$"),
        ],
    )
    ref = validate(
        orders, [refers_to("o_custkey", cust, "c_custkey")]
    )
    return rep.unionByName(ref)


@query(
    "q_cohort_retention",
    """
with act as (
  select distinct user_id as u,
         cast(floor(epoch_us(ts) / 604800000000) as bigint) as period
  from events where user_id is not null and ts is not null
),
coh as (select u, min(period) as cohort_period from act group by u)
select coh.cohort_period as cohort_period,
       act.period - coh.cohort_period as period_offset,
       count(*) as n_active
from act join coh using (u)
group by 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (relational/cohort.py): users
    grouped by first-activity epoch-week, distinct-active counts at each
    week offset. Integer period arithmetic (floor(epoch_us/week_us)) —
    no calendar/timezone surface; one corpus-sized distinct shuffle,
    everything after is user- then period-bounded."""
    from .relational.cohort import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", period_seconds=604800)


@query(
    "q_funnel_view_click_purchase",
    """
with e as (
  select user_id as u, event_type as typ, epoch_us(ts) as t
  from events where user_id is not null and ts is not null
),
s1 as (select u, min(t) as t1 from e where typ = 'view' group by u),
s2 as (select e.u as u, min(t) as t2 from e join s1 using (u)
       where typ = 'click' and t > t1 group by e.u),
s3 as (select e.u as u, min(t) as t3 from e join s2 using (u)
       where typ = 'purchase' and t > t2 group by e.u)
select 1 as step_idx, 'view' as step,
       (select count(*) from s1) as n_users
union all
select 2, 'click', (select count(*) from s2)
union all
select 3, 'purchase', (select count(*) from s3)
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase conversion funnel (relational/
    funnel.py): greedy-earliest strict-order semantics, cascaded
    conditional-min aggregates all keyed on user_id (one partitioning,
    per-step state = one timestamp per surviving user). Epoch-micros
    integer comparisons end to end."""
    from .relational.funnel import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


@query(
    "q_scd2_user_event_type",
    """
with e as (
  select user_id as key, event_type as attr, epoch_us(ts) as t,
         event_id as tb
  from events where user_id is not null and ts is not null
),
marked as (
  select *, lag(attr) over w as prev, row_number() over w as rn
  from e window w as (partition by key order by t, tb)
),
changed as (
  select key, attr, t, tb from marked
  where rn = 1 or attr is distinct from prev
)
select key, attr, t as valid_from_us,
       lead(t) over w2 as valid_to_us,
       lead(t) over w2 is null as is_current
from changed window w2 as (partition by key order by t, tb)
""",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build with change suppression (relational/
    scd.py): each user's event-type change stream becomes versioned
    validity intervals — consecutive equal values collapse, lead() closes
    each version, NULL valid_to marks the current row. One shuffle, two
    window passes on the same (key; t, tiebreak) ordering."""
    from .relational.scd import scd2_history

    ev = load_table(spark, sf_dir, "events")
    return scd2_history(ev, "user_id", "event_type", "ts", "event_id")


@query(
    "q_bfs_copurchase",
    """
with recursive items as (
  select distinct l_orderkey as g, l_partkey as i from lineitem
),
e as (
  select distinct a.i as a, b.i as b
  from items a join items b using (g) where a.i < b.i
),
ed as (select a as src, b as dst from e
       union all select b as src, a as dst from e),
s as (select min(a) as v from e),
walk(node, d) as (
  select v, 0 from s
  union
  select ed.dst, w.d + 1 from walk w join ed on ed.src = w.node
  where w.d < 6
)
select node, cast(min(d) as int) as dist from walk group by node
""",
)
def q_bfs_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BFS hop distances over the part co-purchase graph from its
    smallest node (relational/graph.py::bfs_distances): level-synchronous
    relational frontier expansion, per-round shuffle bounded by the
    frontier, visited set never leaves the cluster. Value-checked against
    a DuckDB recursive-CTE walk capped at the same depth — an exact
    oracle for an iterative operator (unlike the rows-only PageRank/BPE
    gates)."""
    from .relational.graph import bfs_distances, cooccurrence_edges

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return bfs_distances(edges, max_depth=6)


def _profile_oracle_row(col: str, num: bool, s: bool) -> str:
    mn = f"cast(min({col}) as double)" if num else "cast(null as double)"
    mx = f"cast(max({col}) as double)" if num else "cast(null as double)"
    smn = f"min({col})" if s else "cast(null as varchar)"
    smx = f"max({col})" if s else "cast(null as varchar)"
    return (
        f"select '{col}' as col_name, count(*) as n_rows, "
        f"count(*) - count({col}) as n_nulls, "
        f"count(distinct {col}) as ndv, true as ndv_hll_ok, "
        f"{mn} as min_num, {mx} as max_num, "
        f"{smn} as min_str, {smx} as max_str from events"
    )


@query(
    "q_profile_events",
    " union all ".join(
        _profile_oracle_row(c, num, s)
        for c, num, s in [
            ("event_id", True, False),
            ("user_id", True, False),
            ("event_type", False, True),
            ("value", True, False),
            ("props", False, True),
        ]
    ),
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-scan column profiler (pipeline/profile.py): all
    five events columns' row/null counts, exact NDV (Expand branches of
    ONE aggregate), HLL++ NDV gated in-query against the exact value,
    and type-appropriate min/max (pure selection — no arithmetic, no ulp
    surface). The non-deterministic-looking ndv_hll estimate column is
    dropped; its 6-sigma gate stays."""
    from .pipeline.profile import profile_columns

    ev = load_table(spark, sf_dir, "events")
    return profile_columns(
        ev, ["event_id", "user_id", "event_type", "value", "props"]
    ).drop("ndv_hll")


@query(
    "q_assoc_rules_copurchase",
    """
with items as (
  select distinct l_orderkey as g, l_partkey as i from lineitem
),
supp as (select i, count(*) as supp from items group by i),
nb as (select count(distinct g) as n from items),
p as (
  select a.i as item_a, b.i as item_b, count(*) as supp_ab
  from items a join items b using (g) where a.i < b.i
  group by 1, 2
)
select p.item_a, p.item_b, p.supp_ab,
       sa.supp as supp_a, sb.supp as supp_b, nb.n as n_baskets
from p
join supp sa on sa.i = p.item_a
join supp sb on sb.i = p.item_b
cross join nb
where p.supp_ab >= 2
""",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchase pairs with full association-rule counts
    (relational/assoc.py): A-Priori downward-closure prune (baskets
    semi-joined to frequent items BEFORE pairing), one basket-keyed
    self-join, integer supports only — confidence/lift are consumer-side
    ratios. The oracle runs the unpruned naive pairing, value-checking
    that the prune loses nothing."""
    from .relational.assoc import frequent_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return frequent_pairs(li, "l_orderkey", "l_partkey", min_support=2)


@query(
    "skip_index_point_lookup",
    "select doc_id, source, n_chars from documents "
    "where doc_id in (3, 17, 41, 123, 999999)",
)
def q_skip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-backed file-skipping index (sources/skipping.py): documents
    re-laid-out as a range-partitioned multi-file dataset, a per-file
    XOR8 filter built over doc_id in one pass, then a 5-key point lookup
    that probes the index and reads ONLY surviving files. The zero-FN
    invariant makes the pruned scan value-identical to the full scan —
    which is exactly what the oracle checks (it scans everything).
    999999 is absent at every sf, exercising the all-files-pruned path
    for at least one probe."""
    import tempfile

    from .sources.skipping import build_skip_index, scan_with_skip_index

    root = tempfile.mkdtemp(prefix="xfns_skipidx_")
    data, idx = root + "/data", root + "/idx"
    docs = load_table(spark, sf_dir, "documents")
    docs.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(data)
    build_skip_index(spark, data, "doc_id", idx, width=8)
    keys = [3, 17, 41, 123, 999999]
    return scan_with_skip_index(spark, data, idx, "doc_id", keys).select(
        "doc_id", "source", "n_chars"
    )


@query(
    "ivm_agg_view_documents",
    # the oracle RECOMPUTES the aggregate over the final logical state —
    # incremental maintenance must equal recomputation exactly
    "with v0 as (select doc_id, source, n_chars from documents), "
    "ins0 as (select doc_id + 1000000 as doc_id, 'ins' as source, n_chars "
    "from documents where doc_id % 13 = 0), "
    "v1 as (select doc_id, source, "
    "case when doc_id % 10 = 0 then n_chars + 1000 else n_chars end "
    "as n_chars from v0 union all select * from ins0), "
    "v2 as (select doc_id, source, "
    "case when doc_id % 7 = 0 then n_chars + 7 else n_chars end as n_chars "
    "from v1 where doc_id % 20 != 0) "
    "select source, count(*) as n, sum(n_chars)::bigint as sum_n_chars "
    "from v2 group by source",
)
def q_ivm_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (pipeline/ivm.py): a per-source
    count/sum view materialized at v0 of the versioned table, then
    maintained to v2 using ONLY the change data feed with pre/post row
    images (table_changes(images='pre_post') — owner-changed buckets
    only; the base table is never re-read). The oracle recomputes the
    aggregate from the final state: maintenance == recomputation,
    integer-exact."""
    import tempfile

    from .pipeline.ivm import agg_view, apply_changes
    from .sources.timetravel import (
        create_table,
        merge_into,
        read_table,
        table_changes,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="xfns_ivm_") + "/table"
    create_table(docs, path, "doc_id", n_buckets=16)
    d1 = (
        docs.filter("doc_id % 10 = 0")
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .unionByName(
            docs.filter("doc_id % 13 = 0").select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.lit("ins").alias("source"),
                "n_chars",
            )
        )
    )
    merge_into(spark, path, d1)
    v1 = read_table(spark, path, version=1)
    d2 = (
        v1.filter("doc_id % 7 = 0 and doc_id % 20 != 0")
        .withColumn("n_chars", F.col("n_chars") + 7)
        .withColumn("__del", F.lit(False))
        .unionByName(
            v1.filter("doc_id % 20 = 0").withColumn("__del", F.lit(True))
        )
    )
    merge_into(spark, path, d2, deleted_col="__del")
    view0 = agg_view(
        read_table(spark, path, version=0), ["source"], ["n_chars"]
    )
    feed = table_changes(spark, path, 0, 2, images="pre_post")
    return apply_changes(view0, feed, ["source"], ["n_chars"])


@query(
    "q_temporal_join_events_scd2",
    """
with e as (
  select event_id, user_id as key, event_type as attr, epoch_us(ts) as t,
         event_id as tb
  from events where user_id is not null and ts is not null
),
marked as (
  select *, lag(attr) over w as prev, row_number() over w as rn
  from e window w as (partition by key order by t, tb)
),
hist as (
  select key, attr, t as valid_from_us,
         lead(t) over w2 as valid_to_us
  from (select key, attr, t, tb from marked
        where rn = 1 or attr is distinct from prev)
  window w2 as (partition by key order by t, tb)
),
fact as (
  select event_id, user_id, epoch_us(ts + interval 1 day) as pt
  from events
  where event_id % 3 = 0 and user_id is not null and ts is not null
)
select f.event_id, f.user_id, h.attr, h.valid_from_us, h.valid_to_us
from fact f join hist h
  on h.key = f.user_id
 and h.valid_from_us <= f.pt
 and (h.valid_to_us is null or f.pt < h.valid_to_us)
""",
)
def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against the SCD2 dimension
    (relational/scd.py::temporal_join): what was each user's event-type
    version one day after every third event — hash equi-join on the key
    with the validity interval as residual, output cardinality == fact
    cardinality. The standard fact-to-slowly-changing-dimension join."""
    from .relational.scd import scd2_history, temporal_join

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(ev, "user_id", "event_type", "ts", "event_id").drop(
        "is_current"
    )
    fact = ev.filter("event_id % 3 = 0").select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("interval 1 day")).alias("pts"),
    )
    return temporal_join(fact, hist, "user_id", "pts").select(
        "event_id", "user_id", "attr", "valid_from_us", "valid_to_us"
    )


@query(
    "data_validation_suggested",
    """
with p as (
  select count(*) as n, count(event_id) as nn,
         count(distinct event_id) as ndv, true as isnum from events
  union all
  select count(*), count(user_id), count(distinct user_id), true
  from events
  union all
  select count(*), count(event_type), count(distinct event_type), false
  from events
  union all
  select count(*), count(value), count(distinct value), true from events
  union all
  select count(*), count(props), count(distinct props), false from events
)
select cast(sum(case when n = nn then 1 else 0 end)
          + sum(case when ndv = nn and nn > 1 then 1 else 0 end)
          + sum(case when isnum then 1 else 0 end) as bigint) as n_checks,
       true as all_pass
from p
""",
)
def q_validation_suggested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion closing the profile -> validate loop
    (pipeline/validate.py::suggest_checks, Deequ's suggestion stage):
    profile the events columns, derive complete/unique/in_range checks
    from the report, run them back through the one-scan validator. The
    oracle re-derives the suggestion RULES relationally (so the check
    count is value-checked) and the Deequ contract — every suggested
    check passes on the data it was suggested from — is the all_pass
    bit."""
    from .pipeline.profile import profile_columns
    from .pipeline.validate import suggest_checks, validate

    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    checks = suggest_checks(profile_columns(ev, cols))
    rep = validate(ev, checks)
    return rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_checks"),
        F.expr("bool_and(passed)").alias("all_pass"),
    )


@query(
    "streaming_ivm_view",
    "with v0 as (select doc_id, source, n_chars from documents), "
    "v1 as (select doc_id, source, "
    "case when doc_id % 9 = 0 then n_chars + 9 else n_chars end as n_chars "
    "from v0), "
    "v2 as (select * from v1 where doc_id % 15 != 0) "
    "select source, count(*) as n, sum(n_chars)::bigint as sum_n_chars "
    "from v2 group by source",
)
def q_streaming_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance through the REAL streaming
    engine (streaming/ivm.py): a per-source count/sum view initialized
    from the documents snapshot, then maintained by two CDC micro-
    batches (an update slice with pre/post images, then a delete slice)
    folded in exactly-once via the view's own versioned commit + ledger.
    The oracle recomputes the aggregate from the final logical state —
    streaming maintenance == batch recomputation."""
    import os
    import tempfile
    import time

    from .streaming.ivm import init_view, read_view, stream_maintain_agg_view

    root = tempfile.mkdtemp(prefix="xfns_sivm_")
    view = os.path.join(root, "view")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    init_view(docs, view, ["source"], ["n_chars"])

    upd = docs.filter("doc_id % 9 = 0")
    c0 = upd.select(
        "source", "n_chars", F.lit("update_preimage").alias("change_type")
    ).unionByName(
        upd.select(
            "source",
            (F.col("n_chars") + 9).alias("n_chars"),
            F.lit("update_postimage").alias("change_type"),
        )
    )
    # delete slice carries the post-update images (CDC feeds are ordered)
    c1 = docs.filter("doc_id % 15 = 0").select(
        "source",
        F.expr(
            "case when doc_id % 9 = 0 then n_chars + 9 else n_chars end"
        ).alias("n_chars"),
        F.lit("delete").alias("change_type"),
    )
    t0 = time.time() - 3600
    for i, s in enumerate((c0, c1)):
        p = os.path.join(root, "in", f"s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))

    stream = (
        spark.readStream.schema(c0.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    q = stream_maintain_agg_view(
        stream, view, os.path.join(root, "ckpt"), ["source"], ["n_chars"]
    )
    q.awaitTermination()
    return read_view(spark, view)


@query(
    "bitmap_set_ops_users",
    """
with c as (select distinct user_id from events
           where event_type = 'click' and user_id is not null),
p as (select distinct user_id from events
      where event_type = 'purchase' and user_id is not null)
select (select count(*) from c) as n_click,
       (select count(*) from p) as n_purchase,
       (select count(*) from (select * from c intersect select * from p))
         as n_inter,
       (select count(*) from (select * from c union select * from p))
         as n_union,
       (select count(*) from (select * from c except select * from p))
         as n_diff
""",
)
def q_bitmap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mergeable bitmap distinct states (sketches/bitmap.py, the
    ClickHouse groupBitmap analog): click/purchase user sets built as
    two one-pass OR-mergeable bitsets, then EXACT intersection / union /
    difference cardinalities from pure word algebra — the exact twin of
    theta_set_ops_users. Every number value-checked against relational
    set ops."""
    from .sketches.base import aggregate
    from .sketches.bitmap import BitmapSketch

    ev = load_table(spark, sf_dir, "events").filter("user_id is not null")
    sk = BitmapSketch(capacity=1_000_000, key_col="user_id")
    bc = aggregate(ev.filter("event_type = 'click'"), ["user_id"], sk)
    bp = aggregate(ev.filter("event_type = 'purchase'"), ["user_id"], sk)
    row = (
        sk.estimate(bc),
        sk.estimate(bp),
        sk.intersect_count(bc, bp),
        sk.union_count(bc, bp),
        sk.diff_count(bc, bp),
    )
    return spark.createDataFrame(
        [row],
        "n_click long, n_purchase long, n_inter long, n_union long, "
        "n_diff long",
    )


@query(
    "q_ohlc_resample_events",
    """
with e as (
  select event_type as key,
         cast(floor(epoch_us(ts) / 21600000000) as bigint) as bucket,
         epoch_us(ts) as t, event_id, value as v
  from events where value is not null and ts is not null
),
r as (
  select *,
         row_number() over (partition by key, bucket
                            order by t, event_id) as rn_a,
         row_number() over (partition by key, bucket
                            order by t desc, event_id desc) as rn_d
  from e
)
select key, bucket,
       max(case when rn_a = 1 then v end) as open,
       max(v) as high, min(v) as low,
       max(case when rn_d = 1 then v end) as close,
       count(*) as n
from r group by key, bucket
""",
)
def q_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-interval OHLC downsampling (relational/timeseries.py):
    6-hour bars per event type in ONE hash aggregate — open/close via
    min_by/max_by over a (epoch_us, event_id) total-order struct key.
    The oracle derives open/close through row_number windows instead:
    two different machineries, value-identical (pure selection, no
    double arithmetic)."""
    from .relational.timeseries import resample_ohlc

    ev = load_table(spark, sf_dir, "events")
    return resample_ohlc(
        ev, "event_type", "ts", "value", "event_id", interval_seconds=21600
    )


@query(
    "q_gapfill_user_daily",
    """
with e as (
  select user_id as key,
         cast(floor(epoch_us(ts) / 86400000000) as bigint) as period
  from events where user_id is not null and ts is not null
),
daily as (select key, period, count(*) as n from e group by 1, 2),
span as (select key, min(period) as p0 from daily group by key),
gmax as (select max(period) as p1 from daily),
cal as (select key, unnest(generate_series(p0, (select p1 from gmax)))
          as period from span),
f as (select cal.key, cal.period, daily.n
      from cal left join daily
        on daily.key = cal.key and daily.period = cal.period)
select key, period,
       last_value(n ignore nulls)
         over (partition by key order by period
               rows between unbounded preceding and current row)
         as n_filled
from f
""",
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-filling with forward fill (relational/
    timeseries.py::gapfill_forward): per-user daily counts densified
    onto the [first-active, corpus-last] day grid, gaps carrying the
    last observation forward — the event-stream -> regular-grid
    conversion every metrics/feature pipeline needs. Grid size is
    calendar-bounded; LOCF is an O(1)-state cumulative window."""
    from .relational.timeseries import gapfill_forward

    ev = load_table(spark, sf_dir, "events")
    return gapfill_forward(ev, "user_id", "ts", period_seconds=86400)


@query(
    "rolling_distinct_users",
    """
with e as (
  select distinct
         cast(floor(epoch_us(ts) / 86400000000) as bigint) as p,
         user_id as u
  from events where user_id is not null and ts is not null
),
periods as (select distinct p from e)
select periods.p as period,
       (select count(distinct e.u) from e
         where e.p between periods.p - 6 and periods.p) as n_rolling
from periods
""",
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct users per day (sketches/rolling.py):
    per-day bitmap states from ONE corpus pass, each state fanned out to
    the 7 windows it serves, per-window OR-merge + popcount. The moving
    COUNT(DISTINCT) window functions cannot express, done in state
    algebra — swap HLL/theta states for unbounded domains, same plan.
    Value-exact vs the naive re-count oracle."""
    from .sketches.rolling import rolling_distinct_exact

    ev = load_table(spark, sf_dir, "events")
    return rolling_distinct_exact(
        ev, "user_id", "ts", capacity=1_000_000, window=7
    )


@query(
    "rolling_distinct_by_type",
    """
with e as (
  select distinct event_type as et,
         cast(floor(epoch_us(ts) / 86400000000) as bigint) as p,
         user_id as u
  from events
  where user_id is not null and ts is not null and event_type is not null
),
anchors as (select distinct et, p from e)
select anchors.et as event_type, anchors.p as period,
       (select count(distinct e.u) from e
         where e.et = anchors.et
           and e.p between anchors.p - 6 and anchors.p) as n_rolling
from anchors
""",
)
def q_rolling_distinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group rolling distinct: trailing-7-day distinct users for
    EACH event type (sketches/rolling.py, ``group_cols``) — per-(type,
    day) bitmap states from one corpus pass, grouped explode-fanout,
    per-(type, window) OR-merge. Exact vs the naive grouped re-count
    oracle; the un-grouped variant is rolling_distinct_users."""
    from .sketches.rolling import rolling_distinct_exact

    ev = load_table(spark, sf_dir, "events").filter("event_type is not null")
    return rolling_distinct_exact(
        ev, "user_id", "ts", capacity=1_000_000, window=7,
        group_cols=["event_type"],
    )


@query(
    "rolling_topk_event_types",
    # naive trailing-window re-count: every (active period, type) pair's
    # 7-day frequency — exact because distinct types << k (no MG shrink)
    """
with e as (
  select cast(floor(epoch_us(ts) / 86400000000) as bigint) as p,
         event_type as et
  from events where event_type is not null and ts is not null
),
periods as (select distinct p from e)
select periods.p as period, e.et as key, count(*) as est_count
from periods join e on e.p between periods.p - 6 and periods.p
group by 1, 2
""",
)
def q_rolling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day event-type frequency table per day
    (sketches/rolling.py::rolling_topk_mg) — the FREQUENCY twin of the
    rolling distinct: per-day Misra-Gries states from one corpus pass,
    explode-fanout, per-window counter-addition merge. The oracle
    re-counts each window naively (W x the corpus per sweep — the cost
    this operator exists to avoid); values match exactly because the
    per-window distinct-type count never reaches k=64."""
    from .sketches.rolling import rolling_topk_mg

    ev = load_table(spark, sf_dir, "events")
    return rolling_topk_mg(ev, "event_type", "ts", k=64, window=7)


@query(
    "rolling_distinct_hll_ok",
    # value-rich oracle (r04 conversion): one row PER PERIOD with the
    # exact rolling distinct count derived independently by the naive
    # re-count in DuckDB and value-hashed — so the anchor set AND the
    # exact answers are driver-certified; only the HLL 6-sigma band
    # check stays an in-query boolean (the estimate is the sketch's
    # own output, not SQL-derivable).
    """
with e as (
  select distinct
         cast(floor(epoch_us(ts) / 86400000000) as bigint) as p,
         user_id as u
  from events where user_id is not null and ts is not null
),
periods as (select distinct p from e)
select periods.p as period,
       (select count(distinct e.u) from e
         where e.p between periods.p - 6 and periods.p) as n_exact,
       true as within_bound
from periods
""",
)
def q_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME rolling-window plan with HLL states instead of bitmaps
    (sketches/rolling.py is generic over MergeableSketch) — the
    unbounded-key-domain variant. Emits one row per anchored period:
    the exact bitmap answer (value-checked against the oracle's naive
    re-count — anchor set and values both driver-certified) plus an
    in-query boolean that the HLL estimate lands within the 6-sigma
    HLL++ band of that exact answer. A period anchored by only one of
    the two runs shows up as a row-count mismatch."""
    from .sketches.base import aggregate_by_group
    from .sketches.hll import HllSketch
    from .sketches.rolling import rolling_distinct_exact, rolling_state_window

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["period"]: r["n_rolling"]
        for r in rolling_distinct_exact(
            ev, "user_id", "ts", capacity=1_000_000, window=7
        ).collect()
    }
    sk = HllSketch(p=12, key_col="__k")
    e = ev.selectExpr(
        "cast(floor(unix_micros(cast(ts as timestamp)) / 86400000000) "
        "as bigint) as period",
        "user_id as __k",
    ).filter("__k is not null and period is not null")
    states = aggregate_by_group(e, ["period"], ["__k"], sk)
    approx = {
        r["period"]: r["n_rolling"]
        for r in rolling_state_window(
            states, sk, lambda st: int(round(sk.estimate(st))), 7,
            out_col="n_rolling",
        ).collect()
    }
    band = 6 * sk.rel_std_error
    rows = [
        (
            int(p),
            int(n),
            bool(
                p in approx and abs(approx[p] - n) <= max(4.0, band * n)
            ),
        )
        for p, n in sorted(exact.items())
    ]
    # a period the HLL run anchors but the exact run doesn't would hide
    # from the exact-keyed rows above — surface it as an extra row the
    # oracle won't have (row-count mismatch = loud driver red)
    rows += [
        (int(p), -1, False) for p in sorted(set(approx) - set(exact))
    ]
    return spark.createDataFrame(
        rows, "period long, n_exact long, within_bound boolean"
    )


@query(
    "q_attribution_last_touch",
    """
with e as (
  select event_id, user_id as u, event_type, epoch_us(ts) as t
  from events where user_id is not null and ts is not null
),
p as (select event_id, u, t from e where event_type = 'purchase'),
c as (select u, t from e where event_type = 'click')
select p.event_id as purchase_id, p.u as user_id,
       p.t as t_purchase_us,
       (select max(c.t) from c where c.u = p.u and c.t <= p.t)
         as t_click_us,
       coalesce((select max(c.t) from c where c.u = p.u and c.t <= p.t)
                >= p.t - 604800000000, false) as attributed_7d
from p
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution (the as-of join applied): each
    purchase attributed to the user's most recent preceding click, with
    a 7-day attribution window flag. One union+window shuffle
    (relational/asof.py) — no per-purchase subquery, which is how the
    ORACLE spells the same semantics (correlated max — a different
    machinery agreeing value-for-value)."""
    from .relational.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    e = ev.filter("user_id is not null and ts is not null").select(
        "event_id",
        F.col("user_id").alias("u"),
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    purchases = e.filter("event_type = 'purchase'").select(
        "event_id", "u", "t"
    )
    clicks = e.filter("event_type = 'click'").select("u", "t")
    joined = asof_join(purchases, clicks, on="u", ts="t", payload_cols=[])
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        F.col("u").alias("user_id"),
        F.col("t").alias("t_purchase_us"),
        F.col("t_asof").alias("t_click_us"),
        F.coalesce(
            F.col("t_asof") >= F.col("t") - F.lit(604800000000),
            F.lit(False),
        ).alias("attributed_7d"),
    )


@query(
    "phash_near_dup_media",
    # value-rich oracle (r04 conversion): one row PER planted pair,
    # ids derived independently from the documents relation (media_id
    # == doc_id; variants at +1000000 on the % 11 subset) — the pair
    # set is value-hashed, so a missed planted pair OR a spurious
    # extra join pair is a loud row/hash red; the Hamming-band and
    # natural-separation facts are algorithm outputs and stay
    # in-query booleans.
    "select cast(doc_id as bigint) as id_a, "
    "cast(doc_id + 1000000 as bigint) as id_b, "
    "true as recalled, true as within_band, true as naturals_separated "
    "from documents where doc_id % 11 = 0",
)
def q_phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media near-dup detection (multimodal/phash.py):
    real pHash math (resample -> orthonormal DCT -> median-threshold
    64-bit signature) over the locality-preserving fake codec, banded
    Hamming self-join for pairs. Planted variants (two payload bytes
    changed) must all be recalled within the exact-recall band
    (distance <= bands-1); natural media must sit far away (checked
    over ALL planted-vs-result and natural phash distances, not just
    the join output). Emitted per planted pair; any spurious join pair
    is appended as an extra row the oracle does not have."""
    import numpy as np

    from .multimodal.media import jitter_payloads, smooth_media_table
    from .multimodal.phash import perceptual_hashes, phash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    m = smooth_media_table(docs)
    variants = jitter_payloads(m.filter("media_id % 11 = 0"))
    corpus = m.unionByName(variants)
    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in phash_near_pairs(corpus, max_distance=3, bands=4).collect()
    }
    sigs = {
        r["media_id"]: np.uint64(r["phash"] & 0xFFFFFFFFFFFFFFFF)
        for r in perceptual_hashes(corpus).collect()
    }
    planted = [
        (mid, mid + 1000000) for mid in sigs if mid % 11 == 0 and mid < 1000000
    ]
    dist = lambda a, b: bin(int(sigs[a] ^ sigs[b])).count("1")
    # naturals: the join must surface ONLY planted pairs, and a
    # deterministic sample of natural-vs-natural distances stays far
    nat = sorted(i for i in sigs if i < 1000000)
    sample_d = [
        dist(a, b)
        for i, a in enumerate(nat[:200])
        for b in nat[i + 1 : i + 6]
    ]
    naturals_separated = bool(min(sample_d) > 3)
    rows = [
        (
            int(a),
            int(b),
            bool((a, b) in pairs),
            bool(dist(a, b) <= 3),
            naturals_separated,
        )
        for a, b in sorted(planted)
    ]
    # spurious join pairs (beyond the planted set) become extra rows
    # the oracle does not have -> loud row-count mismatch
    rows += [
        (int(a), int(b), True, True, False)
        for a, b in sorted(set(pairs) - set(planted))
    ]
    return spark.createDataFrame(
        rows,
        "id_a long, id_b long, recalled boolean, within_band boolean, "
        "naturals_separated boolean",
    )


_RECURSIVE_BFS_SQL = """
with recursive items as (
  select distinct l_orderkey as g, l_partkey as i from lineitem
),
e as (
  select distinct a.i as a, b.i as b
  from items a join items b using (g) where a.i < b.i
),
ed as (select a as src, b as dst from e
       union all select b as src, a as dst from e),
s as (select min(a) as v from e),
walk(node, d) as (
  select v, 0 from s
  union all
  select ed.dst, w.d + 1 from walk w join ed on ed.src = w.node
  where w.d < 2
)
select node, cast(min(d) as int) as dist from walk group by node
"""


@query("q_bfs_recursive_cte", _RECURSIVE_BFS_SQL)
def q_bfs_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native recursive SQL (Spark 4 WITH RECURSIVE,
    SPARK-24497): 2-hop BFS over the co-purchase graph written ONCE and
    executed verbatim by BOTH engines — the oracle string IS the Spark
    query. Spark's recursion supports UNION ALL only, so the walk
    enumerates bounded-length paths (finite under the depth guard) and
    min(d) collapses them; the driver-iterative twin (q_bfs_copurchase /
    bfs_distances) is the production path — frontier-deduped rounds and
    explicit lineage truncation instead of path enumeration."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_RECURSIVE_BFS_SQL)


@query(
    "streaming_rolling_distinct",
    # oracle: the BATCH rolling-distinct definition over all events —
    # streaming state maintenance must equal batch recomputation
    """
with e as (
  select distinct
         cast(floor(epoch_us(ts) / 86400000000) as bigint) as p,
         user_id as u
  from events where user_id is not null and ts is not null
),
periods as (select distinct p from e)
select periods.p as period,
       (select count(distinct e.u) from e
         where e.p between periods.p - 6 and periods.p) as n_rolling
from periods
""",
)
def q_streaming_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling-window distinct (streaming/rolling.py): the
    per-period bitmap state table maintained by two event micro-batches
    through the REAL streaming engine (exactly-once versioned commits),
    then the trailing-7-day distinct answered from states alone. Exact —
    equals the batch operator's oracle because bitmap OR-merge loses
    nothing across any batch split."""
    import os
    import tempfile
    import time

    from .streaming.rolling import (
        init_period_store,
        rolling_from_store,
        stream_update_period_states,
    )

    root = tempfile.mkdtemp(prefix="xfns_sroll_")
    store = os.path.join(root, "store")
    init_period_store(spark, store)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    t0 = time.time() - 3600
    for i, s in enumerate(
        (ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1"))
    ):
        p = os.path.join(root, "in", f"s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    q = stream_update_period_states(
        stream, store, os.path.join(root, "ckpt"),
        "user_id", "ts", capacity=1_000_000,
    )
    q.awaitTermination()
    return rolling_from_store(spark, store, capacity=1_000_000, window=7)


@query(
    "gdpr_purge_ok",
    # value-rich oracle (r04, the media-gate conversion pattern): every
    # COUNT the purge semantics dictate is computed independently from
    # the documents relation on the oracle side and value-hashed — only
    # the file-layout check (targeted_rewrite) stays in-query-refereed.
    "select cast(count(*) as bigint) as n_total, "
    "cast(sum(case when doc_id % 37 = 0 then 1 else 0 end) as bigint) "
    "as n_targets, "
    "cast(sum(case when doc_id % 37 <> 0 then 1 else 0 end) as bigint) "
    "as n_current, "
    "cast(0 as bigint) as n_current_targets, "
    "cast(count(*) as bigint) as n_v0, "
    "cast(sum(case when doc_id % 37 = 0 then 1 else 0 end) as bigint) "
    "as n_v0_targets, "
    "true as targeted_rewrite "
    "from documents",
)
def q_gdpr_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge as a first-class flow (composing
    sources/timetravel.py): delete one subject's rows via MERGE delete
    markers — O(touched buckets), the hash-bucket layout locates every
    key without a scan — then certify (a) the current version contains
    none of them, (b) the PRE-purge version still reads intact (history
    is immutable until expire_versions retires it — the compliance
    counterpart: expire is the actual erasure step), and (c) the commit
    wrote only the touched buckets' directories. The counts the flow
    must land on (current size, zero surviving subject rows, intact v0)
    are MEASURED from the table reads here and value-checked against
    the oracle's independent relational derivation from documents."""
    import tempfile

    from .sources.timetravel import create_table, merge_into, read_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="xfns_gdpr_") + "/table"
    create_table(docs, path, "doc_id", n_buckets=16)
    targets = docs.filter("doc_id % 37 = 0")
    n_total = docs.count()
    n_targets = targets.count()
    merge_into(
        spark, path, targets.withColumn("__del", F.lit(True)),
        deleted_col="__del",
    )
    now = read_table(spark, path)
    n_current = now.count()
    n_current_targets = now.join(
        targets.select("doc_id"), "doc_id", "left_semi"
    ).count()
    v0 = read_table(spark, path, version=0)
    n_v0 = v0.count()
    n_v0_targets = v0.join(
        targets.select("doc_id"), "doc_id", "left_semi"
    ).count()
    from .sources.timetravel import read_manifest

    touched = read_manifest(path, 1)["buckets_touched"]
    targeted_rewrite = 0 < touched < 16
    return spark.createDataFrame(
        [(
            n_total, n_targets, n_current, n_current_targets,
            n_v0, n_v0_targets, bool(targeted_rewrite),
        )],
        "n_total long, n_targets long, n_current long, "
        "n_current_targets long, n_v0 long, n_v0_targets long, "
        "targeted_rewrite boolean",
    )


@query(
    "dv_delete_semantics_ok",
    # value-rich oracle (r04 conversion): the visible row counts each
    # stage must produce — post-delete current read, pre-delete v0,
    # post-reinsert merge, post-compact — are derived independently
    # from the documents relation and value-hashed; only the
    # file-layout facts (no data dir written, dv layer cleared,
    # manifest dv map empty) stay in-query-refereed booleans.
    "select cast(count(*) as bigint) as n_total, "
    "cast(sum(case when doc_id % 11 = 0 then 1 else 0 end) as bigint) "
    "as n_dead, "
    "cast(sum(case when doc_id % 11 <> 0 then 1 else 0 end) as bigint) "
    "as n_after_delete, "
    "cast(0 as bigint) as n_dead_visible, "
    "cast(count(*) as bigint) as n_v0, "
    "cast(sum(case when doc_id % 11 <> 0 then 1 else 0 end) + 1 "
    "as bigint) as n_after_merge, "
    "cast(sum(case when doc_id % 11 <> 0 then 1 else 0 end) + 1 "
    "as bigint) as n_after_compact, "
    "true as no_rewrite, true as materialize_on_merge, "
    "true as compact_clears "
    "from documents",
)
def q_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion vectors (sources/timetravel.py::
    delete_where): a delete commit writes per-bucket key sidecars — no
    bucket data is rewritten (O(deleted keys), the Delta DV / Iceberg
    delete-file trade on bare parquet). Gates: (a) current read excludes
    the deleted keys, (b) the delete commit wrote NO data dir and left
    every owner untouched, (c) the pre-delete version still reads
    intact, (d) a later merge touching a bucket MATERIALIZES its
    pending deletes and clears the layer, (e) compact clears all layers
    with identical visible rows."""
    import os as _os
    import tempfile

    from .sources.timetravel import (
        compact,
        create_table,
        delete_where,
        merge_into,
        read_manifest,
        read_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="xfns_dv_") + "/table"
    create_table(docs, path, "doc_id", n_buckets=16)
    dead = docs.filter("doc_id % 11 = 0").select("doc_id")
    n_total = docs.count()
    n_dead = dead.count()
    res = delete_where(spark, path, dead)
    now = read_table(spark, path)
    n_after_delete = now.count()
    n_dead_visible = now.join(dead, "doc_id", "left_semi").count()
    m1 = read_manifest(path)
    no_rewrite = (
        not _os.path.exists(_os.path.join(path, "v1"))
        and set(m1["owners"].values()) == {0}
        and res["merge_on_read"]
    )
    n_v0 = read_table(spark, path, version=0).count()
    # re-insert one deleted key; its bucket's layer must clear
    re_row = docs.filter("doc_id % 11 = 0").limit(1)
    merge_into(spark, path, re_row)
    m2 = read_manifest(path)
    re_id = re_row.collect()[0]["doc_id"]
    cleared_bucket = [
        b for b in m1["dvs"] if b not in m2["dvs"] or m2["dvs"][b] == []
    ]
    now2 = read_table(spark, path)
    n_after_merge = now2.count()
    materialize_on_merge = (
        len(cleared_bucket) >= 1
        and now2.filter(F.col("doc_id") == re_id).count() == 1
    )
    compact(spark, path)
    m3 = read_manifest(path)
    n_after_compact = read_table(spark, path).count()
    compact_clears = m3["dvs"] == {}
    return spark.createDataFrame(
        [(
            n_total, n_dead, n_after_delete, n_dead_visible, n_v0,
            n_after_merge, n_after_compact, bool(no_rewrite),
            bool(materialize_on_merge), bool(compact_clears),
        )],
        "n_total long, n_dead long, n_after_delete long, "
        "n_dead_visible long, n_v0 long, n_after_merge long, "
        "n_after_compact long, no_rewrite boolean, "
        "materialize_on_merge boolean, compact_clears boolean",
    )


@query(
    "q_sliding_window_events",
    # each event belongs to duration/slide = 2 overlapping windows:
    # starts s = floor(t/slide)*slide and s - slide, kept if t < s + dur
    """
with e as (
  select event_type, epoch_us(ts) as t, value from events
  where ts is not null
),
w as (
  select event_type, value,
         (cast(floor(t / 300000000) as bigint) - k) * 300000000
           as win_start_us, t
  from e, unnest(generate_series(0, 1)) as u(k)
  where (cast(floor(t / 300000000) as bigint) - k) * 300000000 <= t
    and t < (cast(floor(t / 300000000) as bigint) - k) * 300000000
            + 600000000
)
select win_start_us, event_type, count(*) as n,
       cast(sum(cast(value as decimal(18, 4))) as double) as sum_value
from w group by 1, 2
""",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) event-time windows — 10-minute windows
    every 5 minutes via the built-in ``window(ts, dur, slide)`` (the
    same expression the streaming path uses in streaming/windowed.py,
    evaluated in batch). The oracle derives each event's two covering
    windows arithmetically — different machinery, same buckets."""
    from .streaming.windowed import windowed_agg

    ev = load_table(spark, sf_dir, "events").filter("ts is not null")
    out = windowed_agg(
        ev,
        "ts",
        "10 minutes",
        "0 seconds",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.expr(_dec_sum("value", "sum_value")),
        ],
        slide="5 minutes",
    )
    return out.select(
        F.unix_micros(F.col("window.start").cast("timestamp")).alias(
            "win_start_us"
        ),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "cdc_chunks_documents",
    f"""
with corpus as ({_DOC_DUP_SELECT}),
base as (
  select doc_id, coalesce(text, '') as t,
         length(coalesce(text, '')) as n
  from corpus where length(coalesce(text, '')) > 0
),
pos as (
  select doc_id, t, n, unnest(generate_series(1, n)) as i from base
),
starts as (
  select doc_id, t, n, i from pos
  where i = 1 or substr(md5(substr(t, i, 8)), 1, 2) < '04'
),
cl as (
  select doc_id, t, n, i,
         coalesce(lead(i) over w, n + 1) as e,
         row_number() over w - 1 as chunk_idx
  from starts window w as (partition by doc_id order by i)
)
select doc_id, chunk_idx, i as start, e - i as length,
       md5(substr(t, i, e - i)) as chunk_hash
from cl
""",
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (text/cdc.py, the LBFS/FastCDC boundary
    rule on text): md5-prefix rolling boundaries, per-doc lead() window
    to close chunks, codegen chunk hashes. Run over the dup-injected
    corpus so truncated near-copies share aligned chunk hashes — the
    shift-invariance that makes cross-doc chunk dedup work. Value-exact
    oracle; the dedup-ratio aggregate is chunk_dedup_stats."""
    from .text.cdc import content_defined_chunks

    corpus = _doc_dup_corpus(spark, sf_dir)
    return content_defined_chunks(corpus, "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "start",
        "length",
        "chunk_hash",
    )


@query(
    "q_token_bucket_counts",
    f"""
with corpus as ({_DOC_DUP_SELECT}),
toks as (
  select doc_id as id, unnest(string_split(coalesce(text, ''), ' ')) as tok
  from corpus
),
t as (select id, tok from toks where tok != '')
select id,
       ((((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) * 16
          + (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1)) * 16
          + (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % 256
         as bucket,
       count(*) as cnt
from t group by 1, 2
""",
)
def q_token_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing sparse vectors (text/hash_embed.py): the exact
    integer (id, bucket, count) view of the hashed embeddings — the
    oracle surface of the text -> ANN bridge; the float normalization
    is gated separately by hash_embed_ann_ok."""
    from .text.hash_embed import token_bucket_counts

    corpus = _doc_dup_corpus(spark, sf_dir)
    return token_bucket_counts(corpus, "doc_id", "text", dim=256)


@query(
    "hash_embed_ann_ok",
    # value-rich oracle (r04 conversion): one row PER injected probe,
    # its id derived independently from the documents relation — the
    # probe set is value-hashed, so a missing/extra probe is a loud
    # row-count red; the top-3 containment and unit-norm facts are the
    # sketch pipeline's own outputs and stay in-query booleans.
    "select cast(doc_id + 1000000 as bigint) as qid, "
    "true as source_in_top3, true as unit_norm_ok "
    "from documents where doc_id % 7 = 0",
)
def q_hash_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text -> hashed embeddings -> existing ANN kernel, end to end:
    every injected truncated near-copy must rank its source document in
    its top-3 (brute exact cosine over the hashed vectors), and all
    embeddings must be unit-norm (1e-9 tolerance). The gate that the
    text/ANN bridge actually ranks near-duplicates first; emitted per
    probe so the driver certifies the probe set itself."""
    from .ann.brute import topk_cosine
    from .text.hash_embed import hash_embeddings

    corpus = _doc_dup_corpus(spark, sf_dir)
    emb = hash_embeddings(corpus, "doc_id", "text", dim=256).persist()
    norm_bad = (
        emb.withColumn(
            "__n", F.expr("abs(aggregate(embedding, 0D, (a,x) -> a + x*x) - 1)")
        )
        .filter("__n > 1e-9")
        .count()
    )
    dup_rows = emb.filter("id >= 1000000").collect()
    queries = [(int(r["id"]), list(r["embedding"])) for r in dup_rows]
    # top-3: a handful of documents in this small-vocabulary corpus are
    # legitimately nearer to a truncated copy than its own source (cos
    # ~0.985 vs ~0.99) — containment in the top 3 is the robust claim
    nn = topk_cosine(emb, "id", "embedding", queries, k=3)
    hit_qids = {
        r["qid"]
        for r in nn.filter("neighbor_id = qid - 1000000")
        .select("qid")
        .distinct()
        .collect()
    }
    emb.unpersist()
    return spark.createDataFrame(
        [
            (int(qid), bool(qid in hit_qids), bool(norm_bad == 0))
            for qid, _ in queries
        ],
        "qid long, source_in_top3 boolean, unit_norm_ok boolean",
    )


def _kcore_oracle(k: int = 60, rounds: int = 6) -> str:
    """Value-exact DuckDB oracle for the k-core peel: iterative deletion
    is non-monotone (no recursive CTE), but the peel is IDEMPOTENT at
    its fixpoint, so unrolling ``rounds`` >= convergence-depth rounds of
    materialized CTEs replays it exactly (sf0.01 converges in 1 round —
    measured; 6 gives margin). Third rows-only -> value-exact promotion
    of the iterative set (after pagerank/hits)."""
    parts = [
        "with items as materialized (select distinct l_orderkey as g, "
        "l_partkey as i from lineitem)",
        "e0 as materialized (select distinct a.i as a, b.i as b "
        "from items a join items b using (g) where a.i < b.i)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"deg{i} as materialized (select node, count(*) as d from ("
            f"select a as node from e{p} union all select b as node "
            f"from e{p}) t group by node)"
        )
        parts.append(
            f"e{i} as materialized (select a, b from e{p} "
            f"where a in (select node from deg{i} where d >= {k}) "
            f"and b in (select node from deg{i} where d >= {k}))"
        )
    return (
        ",\n".join(parts)
        + f"\nselect node, count(*) as core_deg from ("
        f"select a as node from e{rounds} union all "
        f"select b as node from e{rounds}) t group by node"
        # Non-convergence sentinel: the unroll is only a valid replay if
        # the peel reached its fixpoint within `rounds`. If the last two
        # edge sets still differ, emit an impossible (-1, -1) row so the
        # driver comparison goes LOUDLY red (rows+hash) instead of
        # silently replaying a non-converged peel against Spark's true
        # fixpoint.
        + f"\nunion all select -1 as node, -1 as core_deg "
        f"from (select (select count(*) from e{rounds}) as c_n, "
        f"(select count(*) from e{rounds - 1}) as c_p) s "
        f"where c_n <> c_p"
    )


@query("q_kcore_copurchase", _kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal k-core of the part co-purchase graph (relational/
    graph.py::kcore_subgraph) — iterative degree-<k peel to fixpoint,
    the graph twin of the filter family's hypergraph peel. Iterative
    deletion is non-monotone (no recursive-CTE oracle), but the peel is
    idempotent at fixpoint, so a bounded UNROLL of materialized CTE
    rounds (>= measured convergence depth) is a value-exact replay
    (_kcore_oracle); the pure-Python peel differential in
    tests/test_graph.py pins exactness at arbitrary depth."""
    from .relational.graph import cooccurrence_edges, kcore_subgraph

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    # k=60 peels a handful of fringe parts at both sf0.001 and sf0.01
    # (non-vacuous peel, non-empty core)
    return kcore_subgraph(edges, k=60)


@query(
    "q_gini_segment_spend",
    """
with j as (
  select c.c_mktsegment as g,
         cast(floor(cast(o.o_totalprice as double)) as bigint) as q
  from orders o join customer c on o.o_custkey = c.c_custkey
  where c.c_mktsegment is not null
),
r as (
  select g, q, row_number() over (partition by g order by q) as i from j
),
m as (
  select g, count(*) as n, cast(sum(q) as bigint) as sum_q,
         cast(sum(i * q) as bigint) as iq
  from r group by g
)
select g as c_mktsegment, n, sum_q,
  case when n * sum_q = 0 then null
       else 2 * iq - (n + 1) * sum_q end as gini_num,
  case when n * sum_q = 0 then null else n * sum_q end as gini_den
from m
""",
)
def q_gini_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration of order spend per market segment
    (relational/stats.py::gini_by_group): the sorted-rank identity as
    integer rationals — one window shuffle + one hash aggregate, no
    float division anywhere (consumer divides, the TF-IDF/PMI/trend
    convention). Rank ties cancel in the Σi·x sum, so the value is
    deterministic despite row_number's arbitrary tie order. Value-exact
    oracle (identical window replay)."""
    from .relational.stats import gini_by_group

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).filter(
        "c_mktsegment is not null"
    )
    return gini_by_group(j, "c_mktsegment", "o_totalprice", quant=1)


@query(
    "q_trend_event_values",
    """
with e as (
  select event_type as g, epoch_us(ts) as t,
         cast(floor(cast(value as double) * 1000) as bigint) as y
  from events
  where event_type is not null and ts is not null and value is not null
),
o as (select min(t) as t0 from e),
x as (select g, (t - (select t0 from o)) // 3600000000 as x, y from e),
m as (
  select g, count(*) as n,
         cast(sum(x) as bigint) as sx, cast(sum(y) as bigint) as sy,
         cast(sum(x * x) as bigint) as sxx,
         cast(sum(x * y) as bigint) as sxy
  from x group by g
)
select g as event_type, n, sx, sy, sxx, sxy,
  case when cast(n as hugeint) * sxx - cast(sx as hugeint) * sx = 0
    then null else cast(cast(n as hugeint) * sxy
                        - cast(sx as hugeint) * sy as bigint) end
    as slope_num,
  case when cast(n as hugeint) * sxx - cast(sx as hugeint) * sx = 0
    then null else cast(cast(sy as hugeint) * sxx
                        - cast(sx as hugeint) * sxy as bigint) end
    as intercept_num,
  case when cast(n as hugeint) * sxx - cast(sx as hugeint) * sx = 0
    then null else cast(cast(n as hugeint) * sxx
                        - cast(sx as hugeint) * sx as bigint) end
    as den
from m
""",
)
def q_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS value trend as exact integer rationals
    (relational/timeseries.py::grouped_trend): slope/intercept
    numerators + shared denominator from five mergeable integer moments
    in ONE map-side-combined hash aggregate — drift direction without a
    float anywhere (division left to the consumer, the repo's TF-IDF /
    PMI convention). x = hours since the corpus's first event, y =
    milli-quantized value; decimal(38,0) Spark-side == hugeint in the
    oracle. Value-exact."""
    from .relational.timeseries import grouped_trend

    ev = load_table(spark, sf_dir, "events")
    return grouped_trend(ev, "event_type", "ts", "value")


# the identical integer/hugeint arithmetic — DuckDB's int128 plays the
# role Spark's decimal(38,0) plays; sums cast back to bigint so both
# engines emit the same column types. Shared verbatim by the batch
# operator AND its streaming-maintenance twin (same output contract).
_ANOMALY_ORACLE = """
with e as (
  select cast(floor(epoch_us(ts) / 86400000000) as bigint) as period,
         cast(floor(cast(value as double) * 1000) as bigint) as q
  from events where value is not null and ts is not null
),
day as (
  select period, count(*) as n_day,
         cast(sum(q) as bigint) as sum_day_q,
         cast(sum(q * q) as bigint) as sumsq_day_q
  from e group by period
),
prior as (
  select d2.period as p,
         cast(sum(d1.n_day) as bigint) as n_prior,
         cast(sum(d1.sum_day_q) as bigint) as sum_prior_q,
         cast(sum(d1.sumsq_day_q) as bigint) as sumsq_prior_q
  from day d1 join day d2
    on d2.period between d1.period + 1 and d1.period + 7
  group by d2.period
)
select day.period, day.n_day, day.sum_day_q,
       coalesce(prior.n_prior, 0) as n_prior,
       coalesce(prior.sum_prior_q, 0) as sum_prior_q,
       coalesce(prior.sumsq_prior_q, 0) as sumsq_prior_q,
       case when coalesce(prior.n_prior, 0) = 0 then false else
         (cast(day.sum_day_q as hugeint) * prior.n_prior
          - cast(prior.sum_prior_q as hugeint) * day.n_day)
         * (cast(day.sum_day_q as hugeint) * prior.n_prior
            - cast(prior.sum_prior_q as hugeint) * day.n_day)
         > 9 * cast(day.n_day as hugeint) * day.n_day
           * (cast(prior.sumsq_prior_q as hugeint) * prior.n_prior
              - cast(prior.sum_prior_q as hugeint) * prior.sum_prior_q)
       end as is_anomaly
from day left join prior on day.period = prior.p
"""


@query("rolling_anomaly_event_values", _ANOMALY_ORACLE)
def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-sigma daily anomaly flags on event values
    (relational/timeseries.py::rolling_moment_anomalies): each day's
    mean vs the prior 7 days' population mean, the sigma test
    cross-multiplied into ONE integer comparison in decimal(38,0) — no
    division, no sqrt, no floats, zero Python. One corpus aggregate;
    everything after is periods-sized. Value-exact oracle (DuckDB
    replays the arithmetic in hugeint)."""
    from .relational.timeseries import rolling_moment_anomalies

    ev = load_table(spark, sf_dir, "events")
    return rolling_moment_anomalies(ev, "value", "ts", window=7)


@query("streaming_rolling_anomaly", _ANOMALY_ORACLE)
def q_streaming_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-sigma anomaly monitor as MAINTAINED STATE: per-day moment
    sketches (sketches/moments.py — exact integer (n, Σq, Σq²), merge =
    addition) kept in the versioned period store by two event
    micro-batches through the real streaming engine (exactly-once
    ledgered commits), then the anomaly report computed from states
    alone — history never re-read, flag arithmetic driver-side in
    arbitrary-precision ints. The oracle is VERBATIM the batch
    operator's: streaming maintenance must equal batch recomputation."""
    import os
    import tempfile
    import time

    from .sketches.moments import MomentSketch
    from .streaming.rolling import (
        init_period_store,
        moment_anomalies_from_store,
        stream_update_period_states,
    )

    root = tempfile.mkdtemp(prefix="xfns_sanom_")
    store = os.path.join(root, "store")
    init_period_store(spark, store)
    ev = load_table(spark, sf_dir, "events").select("event_id", "value", "ts")
    t0 = time.time() - 3600
    for i, s in enumerate(
        (ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1"))
    ):
        p = os.path.join(root, "in", f"s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    q = stream_update_period_states(
        stream, store, os.path.join(root, "ckpt"),
        "value", "ts", sketch=MomentSketch(quant=1000, value_col="__k"),
    )
    q.awaitTermination()
    return moment_anomalies_from_store(spark, store, window=7)


@query(
    "q_format_roundtrip_events",
    # row counts are real data facts; parity is the Spark-side gate
    "select f as format, (select count(*) from events) as n_rows, "
    "true as parity from (values ('csv'), ('json'), ('orc'), ('parquet')) "
    "t(f)",
)
def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every batch file format through the same skew-proof sink layout
    (sources/formats.py): events written as parquet/ORC/JSONL/CSV and
    read back schema-pinned; parity = exact multiset equality both
    directions. Timestamps projected to epoch micros and the JSON props
    to their md5 first — text formats re-parse timestamps through a
    format string and CSV cannot hold null-vs-empty, so the gate
    measures the FORMAT machinery, not incidental string dialects."""
    import tempfile

    from .sources.formats import roundtrip_dataset

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "user_id",
        "value",
        "unix_micros(cast(ts as timestamp)) as ts_us",
        "md5(coalesce(props, '')) as props_md5",
    )
    root = tempfile.mkdtemp(prefix="xfns_fmt_")
    return roundtrip_dataset(ev, root).orderBy("format")


@query(
    "streaming_topk_tools",
    # oracle: the exact batch GROUP BY — with 5 distinct tools << k=64
    # the Misra-Gries state never shrinks, so the maintained estimates
    # ARE the exact counts (the below-capacity exactness regime)
    f"with {TRANSCRIPTS_CTE} "
    "select tool as key, count(*) as est_count from transcripts "
    "where tool is not null group by tool",
)
def q_streaming_topk_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters (streaming/topk.py): a Misra-Gries state
    maintained over the transcript tool stream by two micro-batches
    through the REAL streaming engine (file source, foreachBatch
    accumulator with atomic commits + replay ledger). Merge
    associativity makes stream == batch; below-k cardinality makes the
    estimates exact — hence the value-exact GROUP BY oracle."""
    import os
    import tempfile
    import time

    from .streaming.topk import heavy_hitters_df, stream_heavy_hitters

    root = tempfile.mkdtemp(prefix="xfns_stopk_")
    t = load_transcripts(spark, sf_dir).select("conv_id", "tool")
    t0 = time.time() - 3600
    for i, s in enumerate(
        (t.filter("crc32(conv_id) % 2 = 0"), t.filter("crc32(conv_id) % 2 = 1"))
    ):
        p = os.path.join(root, "in", f"s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))
    stream = (
        spark.readStream.schema(t.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    acc = stream_heavy_hitters(
        stream, "tool", os.path.join(root, "state"),
        os.path.join(root, "ckpt"), k=64,
    )
    return heavy_hitters_df(spark, acc)


def _kmeans_oracle(k: int = 8, iters: int = 6, seed: int = 11) -> str:
    """Value-exact DuckDB replay of the fixed-iteration Lloyd fit
    (fourth rows-only -> value-exact promotion, after pagerank/hits/
    kcore): the integer per-cell update sums are order-free (exact under
    any partitioning AND any engine), the md5 bottom-k init is the
    engine-portable hash idiom, and every float step is a short chain of
    single IEEE ops (``list_dot_product`` + one divide + floor) that
    DuckDB reproduces; verified value-identical to the Spark fit at
    sf0.001 and sf0.01.

    REDUCTION-ORDER ASSUMPTION (documented limit of the "single IEEE
    op chain" claim): the dot products are d-term float64 reductions —
    DuckDB's ``list_dot_product`` accumulates left-to-right while the
    Spark kernel's NumPy ``x @ c`` may use pairwise/BLAS summation, so
    bit-identity additionally requires the two accumulation orders to
    agree, which holds empirically at the shipped embedding dims
    (d = 64; green at sf0.001 and sf0.01). At much larger d a 1-ulp
    divergence could flip a ``floor(dot * 1e6)`` quantization boundary
    or a near-tied argmax (``order by dot desc``). The failure mode is
    LOUD — a driver value-hash mismatch, never a silent wrong answer —
    and the remedy is the WordPiece band-then-exact pattern (rank by a
    banded value, re-compare exactly at ties) applied to the argmax
    and the quantization edge."""
    parts = [
        "with emb as materialized (select vec_id as id, "
        "embedding::double[] as e from embeddings)",
        "ptn as materialized (select id, e, "
        "sqrt(list_dot_product(e, e)) as nn from emb)",
        "ptl as materialized (select id, case when nn > 0 then "
        "list_transform(e, v -> v / nn) else "
        "list_transform(e, v -> 0.0) end as xl from ptn)",
        "xq as materialized (select id, i, "
        "cast(floor(e[i+1] * 1000000.0) as bigint) as q "
        "from emb, unnest(range(0, len(e))) as u(i))",
        f"init as materialized (select id, row_number() over "
        f"(order by md5(id::varchar || ':{seed}'), id) as rk from emb)",
        f"c0 as materialized (select rk - 1 as cell, i as pos, "
        f"case when p.nn > 0 then p.e[i+1] / p.nn else 0.0 end as v "
        f"from init join ptn p using (id), "
        f"unnest(range(0, len(p.e))) as u(i) where rk <= {k})",
        "ntot as materialized (select count(*) as n from emb)",
    ]
    for t in range(iters):
        parts += [
            f"cl{t} as materialized (select cell, "
            f"list(v order by pos) as cl from c{t} group by cell)",
            f"asg{t} as materialized (select id, cell, dot from ("
            f"select p.id, c.cell, list_dot_product(p.xl, c.cl) as dot, "
            f"row_number() over (partition by p.id order by "
            f"list_dot_product(p.xl, c.cl) desc, c.cell) as rn "
            f"from ptl p cross join cl{t} c) s where rn = 1)",
            f"inrt{t} as materialized (select sum(1000000 - "
            f"cast(floor(dot * 1000000.0) as bigint)) as v from asg{t})",
            f"upd{t} as materialized (select a.cell, x.i as pos, "
            f"count(*) as n, sum(x.q)::bigint as s "
            f"from asg{t} a join xq x using (id) group by 1, 2)",
            f"craw{t + 1} as materialized (select c.cell, c.pos, "
            f"case when u.n > 0 then u.s / 1000000.0 / u.n else c.v end "
            f"as v from c{t} c left join upd{t} u using (cell, pos))",
            f"crn{t + 1} as materialized (select cell, "
            f"sqrt(list_dot_product(cl, cl)) as nn from "
            f"(select cell, list(v order by pos) as cl from craw{t + 1} "
            f"group by cell) s)",
            f"c{t + 1} as materialized (select r.cell, r.pos, "
            f"case when n.nn > 0 then r.v / n.nn else 0.0 end as v "
            f"from craw{t + 1} r join crn{t + 1} n using (cell))",
        ]
    mono = (
        " and ".join(
            f"(select v from inrt{t + 1}) <= (select v from inrt{t}) + "
            f"(select n from ntot)"
            for t in range(iters - 1)
        )
        or "true"
    )
    parts += [
        f"clF as materialized (select cell, list(v order by pos) as cl "
        f"from c{iters} group by cell)",
        "asgF as materialized (select id, cell, cos_e6 from ("
        "select p.id, c.cell, "
        "cast(floor(list_dot_product(p.xl, c.cl) * 1000000.0) as bigint) "
        "as cos_e6, row_number() over (partition by p.id order by "
        "list_dot_product(p.xl, c.cl) desc, c.cell) as rn "
        "from ptl p cross join clF c) s where rn = 1)",
    ]
    return (
        ",\n".join(parts)
        + f"\nselect cell, count(*) as n_members, "
        f"min(cos_e6) as min_cos_e6, sum(cos_e6)::bigint as sum_cos_e6, "
        f"({mono}) as inertia_monotone from asgF group by cell"
    )


@query("kmeans_cell_profile_embeddings", _kmeans_oracle())
def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully distributed Lloyd k-means (ann/kmeans.py): every iteration
    is one mapInPandas pass whose per-batch output is the k x d table of
    quantized per-cell sums (map-side combine — points never shuffle,
    vectors never reach the driver), reduced by a k x d-bounded hash
    aggregate. VALUE-EXACT oracle (_kmeans_oracle): the fixed-iteration
    Lloyd recurrence unrolls into chained materialized CTEs because the
    cross-boundary state is integer (order-free) and the float steps are
    single-IEEE-op chains both engines reproduce; the bit-identical
    pure-NumPy replay in tests/test_kmeans.py pins the distributed
    execution independently. inertia_monotone carries the Lloyd descent
    property in-query."""
    from .ann.kmeans import kmeans_cell_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_cell_profile(
        emb, "vec_id", "embedding", k=8, iters=6, seed=11
    )


def _media_values_oracle(rows: list[tuple]) -> str:
    """Literal expected-row oracle for the media codec gates: the
    fabricated inputs are deterministic (seeded splitmix64 grids), so
    every expected value is computable at AUTHORING time with
    codec-independent reference math (raw grid md5s, the ITU-R 601-2
    integer luma, exact integer audio features) — moving the referee
    constants to the ORACLE side where the driver value-hashes them,
    instead of a self-refereed ``select true`` (r03 verdict item 5)."""
    vals = ", ".join(
        (
            f"(cast({m} as bigint), '{c}', '{v}')"
            if i == 0
            else f"({m}, '{c}', '{v}')"
        )
        for i, (m, c, v) in enumerate(rows)
    )
    return f'select * from (values {vals}) t(media_id, chk, "value")'


# expected values computed at authoring time from the deterministic
# generators with CODEC-INDEPENDENT math: md5 of the raw source grids,
# the ITU-R 601-2 integer luma over the raw RGB grids, exact NumPy
# integer audio features over the raw PCM signal. The pHash rows pin
# the (deterministic) perceptual-hash outputs as golden referee
# constants, same convention as the splitmix64 golden sweep.
_PNG_EXPECT = [
    (0, "gray_px_md5", "126095999ecb7e1cad76a6ff41f5ce32"),
    (1, "gray_px_md5", "9ab3bbdb82952cd35e700470ff74e455"),
    (2, "gray_px_md5", "cc454b4b2f441ce00174684c3105ae57"),
    (3, "gray_px_md5", "d064ce571f2bf0530e51f34ea4dbd060"),
    (4, "gray_px_md5", "1b69861b8e1508597173246874900d23"),
    (5, "gray_px_md5", "212235eee1d375994828ed45a8acb00e"),
    (6, "gray_px_md5", "0baa78c484a57b830f22dd882a8e5b07"),
    (7, "gray_px_md5", "4bc7d5bd149f07aa1ea5c9e2e6e5b990"),
    (200, "gray_px_md5", "5d2b808aba0d711e0360f34e7d365c75"),
    (100, "luma_md5", "c97da6e27dd7e2e54eb8fade55a3f27f"),
    (101, "luma_md5", "41bd31be9c1db1ee97711337ff8a8fe0"),
    (102, "luma_md5", "ef5035cb57147765e0d0841b6a599182"),
    (103, "luma_md5", "58d44a91dcb18eb41526c65e78ea5f17"),
    (-1, "phash_near_dist", "0"),
    (-1, "phash_far_dist", "35"),
    (-2, "filters_decode_ok", "true"),
]


@query("media_png_codec_ok", _media_values_oracle(_PNG_EXPECT))
def q_media_png_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, executed in-sandbox: the pure-stdlib PNG codec
    (multimodal/png.py — full spec decode path: chunk+CRC parse,
    inflate, un-filter, sample expansion, PIL-parity luma) driven
    through the SAME Arrow kernels the fake codecs exercise
    (decode/resize/pHash with codec='png'). Deterministic seeded images
    so the gate is stable; expected values live ORACLE-SIDE as literal
    rows (_PNG_EXPECT — authoring-time md5s of the raw grids and their
    ITU-R 601-2 integer luma, codec-independent), value-hashed by the
    driver:

    - gray PNGs survive encode -> distributed decode+identity-resize
      byte-exactly (container authoritative, metadata advisory);
    - RGB PNGs decode to the exact ITU-R 601-2 integer luma;
    - a payload re-encoded with every scanline filter type decodes to
      the same grid as its filter-0 twin (codec property, boolean row);
    - the pinned pHash distances rank the one-pixel-perturbed
      near-duplicate strictly closer than an unrelated image.
    """
    import hashlib
    import numpy as np
    import pandas as pd

    from .kernels.hashes import splitmix64
    from .multimodal.media import resize_media
    from .multimodal.phash import perceptual_hashes
    from .multimodal.png import png_decode, png_encode_gray, png_encode_rgb

    def grid(seed: int, h: int = 24, w: int = 24, ch: int | None = None):
        n = h * w * (ch or 1)
        v = splitmix64(
            np.arange(n, dtype=np.uint64) + np.uint64(seed * 1_000_003)
        )
        px = (v & np.uint64(0xFF)).astype(np.uint8)
        return px.reshape((h, w, ch) if ch else (h, w))

    grays = {i: grid(i) for i in range(8)}
    rgbs = {100 + i: grid(100 + i, ch=3) for i in range(4)}
    near = grays[0].copy()
    near[0, 0] ^= 3
    rows = (
        [(i, png_encode_gray(g)) for i, g in grays.items()]
        + [(i, png_encode_rgb(g)) for i, g in rgbs.items()]
        + [(200, png_encode_gray(near))]
    )
    pdf = pd.DataFrame(
        {
            "media_id": [i for i, _ in rows],
            "media_type": "image",
            "payload": [p for _, p in rows],
            # deliberately WRONG metadata dims: a real codec must trust
            # the container, not the table
            "width": 7,
            "height": 9,
            "n_frames": 1,
        }
    )
    media = spark.createDataFrame(pdf)
    rs = {
        r["media_id"]: bytes(r["pixels"])
        for r in resize_media(media, 24, 24, codec="png").collect()
    }
    # every filter type decodes to the filter-0 grid (driver-side: the
    # filter transcode is a codec property, not a Spark one)
    filters_ok = all(
        np.array_equal(
            png_decode(_png_refilter(grays[1], f)), grays[1]
        )
        for f in (1, 2, 3, 4)
    )
    ph = {
        r["media_id"]: int(r["phash"])
        for r in perceptual_hashes(media, codec="png").collect()
    }
    d_near = bin(ph[0] ^ ph[200]).count("1")
    d_far = bin(ph[0] ^ ph[1]).count("1")
    out = [
        (int(i), "gray_px_md5", hashlib.md5(rs[i]).hexdigest())
        for i in list(grays) + [200]
    ]
    out += [
        (int(i), "luma_md5", hashlib.md5(rs[i]).hexdigest()) for i in rgbs
    ]
    out += [
        (-1, "phash_near_dist", str(d_near)),
        (-1, "phash_far_dist", str(d_far)),
        (-2, "filters_decode_ok", "true" if filters_ok else "false"),
    ]
    return spark.createDataFrame(
        out, "media_id long, chk string, value string"
    )


def _png_refilter(px, ftype: int) -> bytes:
    """Re-encode a gray grid with every scanline carrying the given
    filter type (exercises the decoder's Sub/Up/Average/Paeth paths on
    a conformant stream our filter-0 encoder never emits)."""
    import struct
    import zlib

    import numpy as np

    h, w = px.shape
    out = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        line = px[y].astype(np.int64)
        filt = np.zeros(w, dtype=np.int64)
        for i in range(w):
            left = int(line[i - 1]) if i else 0
            up = int(prev[i])
            ul = int(prev[i - 1]) if i else 0
            if ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = (
                    left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                )
            filt[i] = (int(line[i]) - pred) & 0xFF
        out.append(ftype)
        out.extend(filt.astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


_WAV_EXPECT = [
    (0, "n_samples", "1800"),
    (0, "duration_ms", "112"),
    (0, "peak", "32750"),
    (0, "rms_e3", "579"),
    (0, "zcr_e6", "490828"),
    (0, "frames_md5", "c16a7b6f1121c2bad77fef70af38ecc8"),
    (1, "n_samples", "1813"),
    (1, "duration_ms", "113"),
    (1, "peak", "32761"),
    (1, "rms_e3", "581"),
    (1, "zcr_e6", "518211"),
    (1, "frames_md5", "12f60ba223380be34394c70c84fbb3f3"),
    (2, "n_samples", "1826"),
    (2, "duration_ms", "114"),
    (2, "peak", "32762"),
    (2, "rms_e3", "570"),
    (2, "zcr_e6", "481095"),
    (2, "frames_md5", "c2a2e6a92b3f3195d1509c4c40cd31a8"),
    (3, "n_samples", "1839"),
    (3, "duration_ms", "114"),
    (3, "peak", "32757"),
    (3, "rms_e3", "573"),
    (3, "zcr_e6", "480413"),
    (3, "frames_md5", "7b7277404154ec4a4590c918fe855785"),
    (4, "n_samples", "1852"),
    (4, "duration_ms", "115"),
    (4, "peak", "32757"),
    (4, "rms_e3", "581"),
    (4, "zcr_e6", "478660"),
    (4, "frames_md5", "3f3c9d629631ef197fe78b3dee42fea5"),
    (5, "n_samples", "1865"),
    (5, "duration_ms", "116"),
    (5, "peak", "32763"),
    (5, "rms_e3", "580"),
    (5, "zcr_e6", "491952"),
    (5, "frames_md5", "63cacebd0aa97052786d48437f5de02a"),
    (-1, "depth8_ok", "true"),
    (-1, "depth32_ok", "true"),
]


@query("media_wav_codec_ok", _media_values_oracle(_WAV_EXPECT))
def q_media_wav_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, executed in-sandbox (multimodal/audio.py —
    pure-stdlib RIFF/WAVE parser: chunk walk, PCM 8/16/32-bit + IEEE
    float depths, word-aligned skippable chunks) driven through the
    distributed Arrow kernels. Deterministic seeded PCM; expected
    values live ORACLE-SIDE as literal rows (_WAV_EXPECT —
    authoring-time exact integer features and md5 of the raw PCM
    stream, codec-independent), value-hashed by the driver:

    - per-clip features (n_samples/duration/peak/rms/zero-crossings,
      integer-quantized) from the distributed decode;
    - fixed-stride frame sampling reassembles the exact mono stream
      byte-for-byte (frames_md5);
    - every container depth (PCM8/PCM16/PCM32/float32) of the same
      signal decodes to the same 16-bit samples (codec property,
      boolean rows).
    """
    import hashlib
    import struct

    import numpy as np
    import pandas as pd

    from .kernels.hashes import splitmix64
    from .multimodal.audio import (
        extract_audio_features,
        frame_sample_audio,
        wav_decode,
        wav_encode_pcm16,
    )

    def sig(seed: int, n: int) -> np.ndarray:
        v = splitmix64(
            np.arange(n, dtype=np.uint64) + np.uint64(seed * 7_654_321)
        )
        return (
            (v & np.uint64(0xFFFF)).astype(np.int64) - 32768
        ).astype(np.int16)

    sigs = {i: sig(i, 1800 + 13 * i) for i in range(6)}
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": list(sigs),
                "payload": [
                    wav_encode_pcm16(s, 16000) for s in sigs.values()
                ],
            }
        )
    )
    got = {
        r["media_id"]: r for r in extract_audio_features(media).collect()
    }
    frames = sorted(
        (r["media_id"], r["frame_idx"], bytes(r["frame"]))
        for r in frame_sample_audio(
            media, frame_samples=512, stride=512
        ).collect()
    )
    out = []
    for i in sigs:
        r = got[i]
        out += [
            (int(i), "n_samples", str(int(r["n_samples"]))),
            (int(i), "duration_ms", str(int(r["duration_ms"]))),
            (int(i), "peak", str(int(r["peak"]))),
            (int(i), "rms_e3", str(int(r["rms_e3"]))),
            (int(i), "zcr_e6", str(int(r["zcr_e6"]))),
            (
                int(i),
                "frames_md5",
                hashlib.md5(
                    b"".join(b for m, _, b in frames if m == i)
                ).hexdigest(),
            ),
        ]
    # depth conversions: same signal through 8/32-bit PCM and float32
    # containers decodes to the quantization-consistent int16 stream
    s8 = ((sigs[0].astype(np.int32) >> 8) + 128).astype(np.uint8)
    fmt8 = struct.pack("<HHIIHH", 1, 1, 16000, 16000, 1, 8)
    wav8 = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 8 + s8.size) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt8
        + b"data" + struct.pack("<I", s8.size) + s8.tobytes()
    )
    s32 = (sigs[0].astype(np.int32) << 16).astype("<i4")
    fmt32 = struct.pack("<HHIIHH", 1, 1, 16000, 64000, 4, 32)
    wav32 = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 8 + s32.nbytes) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt32
        + b"data" + struct.pack("<I", s32.nbytes) + s32.tobytes()
    )
    d8, _ = wav_decode(wav8)
    d32, _ = wav_decode(wav32)
    depth8_ok = bool(
        np.array_equal(
            d8[:, 0], (sigs[0].astype(np.int32) & ~0xFF).astype(np.int16)
        )
    )
    depth32_ok = bool(np.array_equal(d32[:, 0], sigs[0]))
    out += [
        (-1, "depth8_ok", "true" if depth8_ok else "false"),
        (-1, "depth32_ok", "true" if depth32_ok else "false"),
    ]
    return spark.createDataFrame(
        out, "media_id long, chk string, value string"
    )


_AVI_EXPECT = [
    (0, "frame0_md5", "ab934e0f07e3f99ce49cbc81ae02e35a"),
    (0, "frame2_md5", "1e4738f6bdd8de4d06f8497eedc1db1d"),
    (0, "frame4_md5", "2ecf9a92ea699d8c24c8b09f9b7b0674"),
    (0, "phash0", "-8096594158890035697"),
    (0, "phash1", "-7342957001300967715"),
    (0, "phash2", "195605861632263043"),
    (0, "phash3", "8162915007096982595"),
    (0, "phash4", "-6867713340785925551"),
    (1, "frame0_md5", "2497fdaed8646447538f74308d7ff65d"),
    (1, "frame2_md5", "a16833b56f94882e81d89a7a9f76b580"),
    (1, "frame4_md5", "ee5ec97c1b3b4eaeee17a7021958418f"),
    (1, "phash0", "-6113514050398378393"),
    (1, "phash1", "2387433444509202239"),
    (1, "phash2", "-4499234073096004471"),
    (1, "phash3", "7989060345122922869"),
    (1, "phash4", "8965840618289879817"),
    (2, "frame0_md5", "51c8eb1557f12311c54744d882aba29d"),
    (2, "frame2_md5", "4c1413415da6e967cd08fc4fdb9aedd3"),
    (2, "frame4_md5", "8716dd5a89df7805cf46fa87cd0711d7"),
    (2, "phash0", "3796118145968918889"),
    (2, "phash1", "-3781572153784734245"),
    (2, "phash2", "-339587948934494659"),
    (2, "phash3", "8593749926500601803"),
    (2, "phash4", "3652030114903937913"),
    (3, "frame0_md5", "0781dc9e54231bb55b448182ffddc044"),
    (3, "frame2_md5", "1e40130014a38801ebcd405174ceb5b6"),
    (3, "frame4_md5", "a2989b12ed86547aad02ad3c8e23331f"),
    (3, "phash0", "-8212295244120041507"),
    (3, "phash1", "-4929655526571325289"),
    (3, "phash2", "-337188676941567765"),
    (3, "phash3", "508288792177350887"),
    (3, "phash4", "7921727461676847225"),
    (-1, "stride_keys_n", "12"),
    (-1, "phash_rows_n", "20"),
]


@query("media_avi_codec_ok", _media_values_oracle(_AVI_EXPECT))
def q_media_avi_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode, executed in-sandbox (multimodal/
    video.py — pure-stdlib AVI rawvideo/DIB walk: LIST hdrl/strl
    headers, movi frame chunks, bottom-up padded DIB rows, BGR luma)
    driven through the distributed kernels. Deterministic seeded
    frames; expected values live ORACLE-SIDE as literal rows
    (_AVI_EXPECT — authoring-time md5s of the raw source grids plus
    pinned per-frame pHashes), value-hashed by the driver:

    - every sampled frame from the distributed decode is byte-exact
      against its source grid (round-trip through the container);
    - the every-k stride samples exactly the expected frame indices
      (a wrong stride changes the sampled set: KeyError or a
      stride_keys_n mismatch, both loud);
    - distributed per-frame pHash equals the pinned golden hash of
      the source frames (the video near-dup surface).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from .kernels.hashes import splitmix64
    from .multimodal.video import (
        avi_encode_gray,
        video_frame_phashes,
        video_frame_sample,
    )

    def frame(seed: int, h: int = 24, w: int = 22) -> np.ndarray:
        v = splitmix64(
            np.arange(h * w, dtype=np.uint64)
            + np.uint64(seed * 9_999_991)
        )
        return (v & np.uint64(0xFF)).astype(np.uint8).reshape(h, w)

    vids = {i: [frame(i * 10 + j) for j in range(5)] for i in range(4)}
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": list(vids),
                "payload": [avi_encode_gray(f) for f in vids.values()],
            }
        )
    )
    got = {
        (r["media_id"], r["frame_idx"]): bytes(r["frame"])
        for r in video_frame_sample(media, every=2).collect()
    }
    ph = {
        (r["media_id"], r["frame_idx"]): int(r["phash"])
        for r in video_frame_phashes(media).collect()
    }
    out = [
        (int(i), f"frame{j}_md5", hashlib.md5(got[(i, j)]).hexdigest())
        for i in vids
        for j in (0, 2, 4)
    ]
    out += [
        (int(i), f"phash{j}", str(ph[(i, j)]))
        for i in vids
        for j in range(5)
    ]
    out += [
        (-1, "stride_keys_n", str(len(got))),
        (-1, "phash_rows_n", str(len(ph))),
    ]
    return spark.createDataFrame(
        out, "media_id long, chk string, value string"
    )


@query(
    "checkpoint_resume_ok",
    # the RESUME ARITHMETIC is oracle-pinned as values: the build
    # pipeline has exactly 3 stages (digests, shards, filter) and the
    # sketch aggregation 2 (partials, merged), so a fresh run must
    # resume 0, a completed re-run all 3, the interrupted run exactly 2
    # (manifests commit LAST, so only the tail recomputes), and the
    # sketch re-run both — wrong stage bookkeeping now value-fails
    # instead of hiding behind a boolean
    "select true as build_resumed_identical, "
    "true as build_stages_resumed, "
    "true as build_partial_resume_identical, "
    "true as build_fresh_identical, "
    "true as sketch_resumed_identical, "
    "cast(3 as bigint) as n_build_stages, "
    "cast(0 as bigint) as n_resumed_fresh, "
    "cast(3 as bigint) as n_resumed_rerun, "
    "cast(2 as bigint) as n_resumed_partial, "
    "cast(2 as bigint) as n_sketch_resumed",
)
def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume family gate (pipeline/checkpoint.py +
    sketches/base.py::aggregate_checkpointed), exercised end-to-end
    inside one query — the two-run resume semantics no single-run SQL
    oracle can express, so the query computes its own targets and
    returns pass booleans:

    - a completed run_dir re-run must SKIP every stage (manifests carry
      the fingerprint chain) and reload a byte-identical filter;
    - a run interrupted before the final stage commit (its manifest
      deleted) must resume the finished stages and recompute only the
      tail, again byte-identical;
    - an independent fresh run_dir must produce a byte-identical
      artifact (the reference's determinism contract, SURVEY.md §3.3);
    - a resumed sketch aggregation must reload the identical merged
      HLL state.
    """
    import shutil
    import tempfile

    import numpy as np

    from .pipeline.checkpoint import (
        artifact_canonical_json as artifact_bytes,
        build_xor_filter_checkpointed,
    )
    from .sketches.base import aggregate_checkpointed
    from .sketches.hll import HllSketch

    t = with_membership_key(load_transcripts(spark, sf_dir))
    kw = dict(num_shards=8, width=16, seed=7, input_token=sf_dir)
    base = tempfile.mkdtemp(prefix="ckpt_gate_")
    try:
        r1, r2 = f"{base}/run", f"{base}/fresh"
        f1, m1 = build_xor_filter_checkpointed(t, "key", r1, **kw)
        a1 = artifact_bytes(f1)
        f2, m2 = build_xor_filter_checkpointed(t, "key", r2, **kw)
        fresh_ok = a1 == artifact_bytes(f2)

        f3, m3 = build_xor_filter_checkpointed(t, "key", r1, **kw)
        resumed_ok = a1 == artifact_bytes(f3)
        stages_ok = all(v["resumed"] for v in m3.values()) and not any(
            v["resumed"] for v in m1.values()
        )

        # crash before the last stage's commit: manifests are written
        # atomically LAST, so the interrupted state is "artifact files
        # maybe present, manifest absent" — resume recomputes only it
        import os

        os.remove(f"{r1}/filter.manifest.json")
        f4, m4 = build_xor_filter_checkpointed(t, "key", r1, **kw)
        partial_ok = (
            a1 == artifact_bytes(f4)
            and m4["digests"]["resumed"]
            and m4["shards"]["resumed"]
            and not m4["filter"]["resumed"]
        )

        ev = load_table(spark, sf_dir, "events")
        sk = HllSketch(p=12, key_col="user_id")
        st1, sm1 = aggregate_checkpointed(
            ev, ["user_id"], sk, f"{base}/hll", params={"p": 12}
        )
        st2, sm2 = aggregate_checkpointed(
            ev, ["user_id"], sk, f"{base}/hll", params={"p": 12}
        )
        sketch_ok = (
            np.array_equal(st1, st2)
            and sm2["partials"]["resumed"]
            and sm2["merged"]["resumed"]
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                bool(resumed_ok),
                bool(stages_ok),
                bool(partial_ok),
                bool(fresh_ok),
                bool(sketch_ok),
                len(m1),
                sum(1 for v in m1.values() if v["resumed"]),
                sum(1 for v in m3.values() if v["resumed"]),
                sum(1 for v in m4.values() if v["resumed"]),
                sum(1 for v in sm2.values() if v["resumed"]),
            )
        ],
        "build_resumed_identical boolean, build_stages_resumed boolean, "
        "build_partial_resume_identical boolean, "
        "build_fresh_identical boolean, sketch_resumed_identical boolean, "
        "n_build_stages long, n_resumed_fresh long, n_resumed_rerun long, "
        "n_resumed_partial long, n_sketch_resumed long",
    )


@query(
    "maintenance_compaction_ok",
    # value-rich oracle: the fragmentation rule (even-length event_type
    # names written as 12 files, odd-length as 1) and the compaction
    # outcome are both SQL-expressible over the same events table, so
    # the expected per-directory row is computable oracle-side instead
    # of a self-refereed `select true`
    "select event_type, count(*) as n_rows, "
    "case when len(event_type) % 2 = 0 then 12 else 1 end as files_before, "
    "len(event_type) % 2 = 0 as was_flagged, "
    "1 as files_after, true as integrity_ok "
    "from events group by event_type",
)
def q_maintenance_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction gate (sources/maintenance.py): events are
    written one directory per event_type — even-length type names
    deliberately fragmented into 12 files, odd-length written healthy
    as 1 — then planned + compacted with a 1 GiB target. The O(change)
    contract checked per directory: exactly the fragmented dirs get
    flagged (metadata-only planning), flagged dirs coalesce to their
    byte-justified target (1 file) with exact row parity, and healthy
    dirs stay BYTE-IDENTICAL (never opened, so file-identity consumers
    do not re-ingest). Counts + file tallies are value-checked against
    the oracle; integrity_ok folds the byte-identity/parity booleans."""
    import hashlib
    import os
    import tempfile

    from .sources.maintenance import (
        _data_files,
        compact_dataset,
        plan_compaction,
    )

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="xfns_compact_")
    types = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )
    for et in types:
        nfiles = 12 if len(et) % 2 == 0 else 1
        (
            ev.filter(F.col("event_type") == et)
            .repartition(nfiles)
            .write.mode("overwrite")
            .parquet(os.path.join(root, et))
        )

    def dir_digest(d: str) -> str:
        h = hashlib.sha256()
        for f in _data_files(d):
            h.update(os.path.basename(f).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    before = {
        et: {
            "files": len(_data_files(os.path.join(root, et))),
            "digest": dir_digest(os.path.join(root, et)),
            "rows": spark.read.parquet(os.path.join(root, et)).count(),
        }
        for et in types
    }
    target_bytes = 1 << 30
    planned = {
        os.path.basename(p.directory)
        for p in plan_compaction(root, target_file_bytes=target_bytes)
    }
    compact_dataset(spark, root, target_file_bytes=target_bytes)

    rows = []
    for et in types:
        d = os.path.join(root, et)
        flagged = len(et) % 2 == 0
        files_after = len(_data_files(d))
        n_after = spark.read.parquet(d).count()
        ok = (
            (et in planned) == flagged
            and n_after == before[et]["rows"]
            and (flagged or dir_digest(d) == before[et]["digest"])
        )
        rows.append(
            (
                et,
                int(n_after),
                int(before[et]["files"]),
                bool(flagged),
                int(files_after),
                bool(ok),
            )
        )
    return spark.createDataFrame(
        rows,
        "event_type string, n_rows long, files_before int, "
        "was_flagged boolean, files_after int, integrity_ok boolean",
    )


@query(
    "streaming_incremental_sketch_ok",
    # n_rows is the real events count (oracle-computed); the HLL
    # register state itself is not SQL-expressible, so stream==batch
    # parity and the replay skip stay in-query booleans
    "select (select count(*) from events) as n_rows, 3 as n_batches, "
    "true as stream_equals_batch, true as replay_skip_ok",
)
def q_streaming_incremental_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental sketch maintenance gate
    (streaming/incremental.py): events sliced into 3 files by
    ``event_id % 3``, driven through the REAL streaming engine (file
    source, maxFilesPerTrigger=1, foreachBatch accumulator with atomic
    state commits + a batch-id replay ledger). HLL register merge is a
    pointwise max — commutative and associative — so the streamed state
    must equal the one-shot batch aggregate REGISTER-FOR-REGISTER, not
    just in estimate; re-merging an already-ledgered batch id must be a
    byte-level no-op (the exactly-once restart contract). The total
    ingested row count is value-checked against the oracle."""
    import os
    import tempfile
    import time

    import numpy as np

    from .sketches.base import aggregate
    from .sketches.hll import HllSketch
    from .streaming.incremental import run_incremental_sketch

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    root = tempfile.mkdtemp(prefix="xfns_incr_")
    t0 = time.time() - 3600
    for i in range(3):
        p = os.path.join(root, "in", f"s{i}")
        (
            ev.filter(F.col("event_id") % 3 == i)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(p)
        )
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))
    sk = HllSketch(p=12, key_col="user_id")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    acc = run_incremental_sketch(
        stream,
        ["user_id"],
        sk,
        os.path.join(root, "state"),
        os.path.join(root, "ckpt"),
    )
    st_stream, meta = acc.load()
    st_batch = aggregate(ev.select("user_id"), ["user_id"], sk)
    stream_eq = bool(np.array_equal(st_stream, st_batch))
    # replay an already-ledgered batch id: must not touch state or rows
    acc.merge_batch(ev.limit(0), meta["batches"][0]["id"], ["user_id"])
    st2, meta2 = acc.load()
    replay_ok = (
        bool(np.array_equal(st2, st_stream)) and meta2["rows"] == meta["rows"]
    )
    return spark.createDataFrame(
        [
            (
                int(meta["rows"]),
                int(len(meta["batches"])),
                stream_eq,
                bool(replay_ok),
            )
        ],
        "n_rows long, n_batches int, stream_equals_batch boolean, "
        "replay_skip_ok boolean",
    )


@query(
    "scan_pushdown_ok",
    "select (select count(*) from events where event_type = 'click') "
    "as n_click_rows, true as filter_pushed, true as columns_pruned",
)
def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection / filter-pushdown gate (the two Catalyst categories
    every declarative query here relies on, SURVEY.md §2.2): a filtered
    2-column projection over the events parquet must compile to a scan
    whose PushedFilters carries the equality predicate and whose
    ReadSchema carries only the referenced columns (filter + projected;
    props/event_id pruned) — asserted on the EXECUTED plan string, the
    same evidence `.explain("formatted")` prints. The surviving row
    count is value-checked against the oracle, so the gate certifies
    both that pushdown happened and that it did not drop rows."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.filter(ev.event_type == "click").select("user_id", "value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = (
        "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"
        in plan
    )
    rs = (
        plan.split("ReadSchema: ")[1].splitlines()[0]
        if "ReadSchema: " in plan
        else ""
    )
    pruned = (
        "user_id" in rs
        and "value" in rs
        and "event_type" in rs
        and "props" not in rs
        and "event_id" not in rs
    )
    return spark.createDataFrame(
        [(int(df.count()), bool(pushed), bool(pruned))],
        "n_click_rows long, filter_pushed boolean, columns_pruned boolean",
    )


# ---------------------------------------------------------------------------
# r04: transcript hygiene, context budgeting, C4 cleaning, substring search
# ---------------------------------------------------------------------------

# Engine-portable seeded-defect mutation over the transcripts derivation:
# the derived transcripts are perfectly well-formed, so the lint gate
# would be vacuous without injected defects (the _seeded_lines /
# _seeded_pii convention). Each rule keys on the conversation's doc id
# (parsed from conv_id) and a specific turn, is valid in BOTH Spark SQL
# and DuckDB verbatim, and never creates duplicate turn_idx values (the
# remap targets (did % 8) + 3, beyond the conversation's max turn), so
# the lag() ordering stays tie-free and deterministic in both engines.
_LINT_MUTATION = """
    base as (
        select t.*, cast(substr(conv_id, 6) as bigint) as did
        from transcripts t),
    mut as (
        select conv_id,
               cast(case when did % 17 = 0 and turn_idx = 1
                    then (did % 8) + 3 else turn_idx end as int) as turn_idx,
               case when did % 11 = 0 and turn_idx = 0
                    then 'assistant' else role end as role,
               case when did % 5 = 0 and turn_idx = 0 then '' else text
                    end as text,
               case when did % 13 = 0 and turn_idx = 1
                    then 'tool_x' else tool end as tool,
               cast(case when did % 7 = 0 and turn_idx = 1
                    then ts_epoch - 10 else ts_epoch end as bigint)
                    as ts_epoch
        from base)
"""


def _lint_oracle() -> str:
    from .pipeline.conv_lint import lint_oracle_tail

    return f"with {TRANSCRIPTS_CTE}, {_LINT_MUTATION}, " + lint_oracle_tail(
        "mut"
    )


@query("conversation_lint_report", _lint_oracle())
def q_conversation_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation integrity lint (pipeline/conv_lint.py): per-
    conversation sequence-aware validation — turn-index contiguity,
    timestamp monotonicity (window lag, O(1) state), role-cycle
    conformance, empty turns, dangling/missing tool fields — the
    transcript analog of the Deequ-style suite with checks no per-row
    constraint can express. ONE shuffle on conv_id (window + aggregate
    share the exchange). Seeded defect injection (_LINT_MUTATION) keeps
    every check non-vacuous; full per-conversation report is
    value-exact vs the identical DuckDB window/aggregate program."""
    from .pipeline.conv_lint import conversation_lint

    load_transcripts(spark, sf_dir).createOrReplaceTempView("transcripts")
    mut = spark.sql(f"with {_LINT_MUTATION} select * from mut")
    return conversation_lint(mut)


def _budget_oracle() -> str:
    from .text.budget import budget_oracle_tail

    return f"with {TRANSCRIPTS_CTE}, " + budget_oracle_tail(40)


@query("q_context_budget_turns", _budget_oracle())
def q_context_budget_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budget truncation (text/budget.py): per
    conversation, keep the longest SUFFIX of turns whose whitespace-
    token total fits the 40-token budget (most-recent context wins) —
    the SFT packing policy expressed as a reverse running-sum window.
    ONE shuffle on conv_id, O(1) window state, map-side token counting
    in codegen; exact oracle replays the identical program in DuckDB."""
    from .text.budget import truncate_to_context_budget

    return truncate_to_context_budget(load_transcripts(spark, sf_dir), 40)


def _c4_seeded(dialect: str) -> str:
    """Deterministic multi-line + rule-triggering text, rendered
    identically by both engines (the _seeded_lines convention): every
    doc gains one keepable sentence, one too-short line, and one
    unterminated line; every 13th doc a javascript line, every 17th a
    curly-brace code line, every 19th a lorem-ipsum line — so every C4
    rule and both document-level flags fire on known subsets."""
    nl = "char(10)" if dialect == "spark" else "chr(10)"
    cast = "string" if dialect == "spark" else "varchar"
    return (
        f"select doc_id, text || {nl} || "
        f"'This is a good sentence number ' || cast(doc_id as {cast}) "
        f"|| '.' || {nl} || 'too short.' || {nl} || "
        f"'no terminal punctuation here' || "
        f"case when doc_id % 13 = 0 then {nl} || "
        f"'Please enable javascript to view this page.' else '' end || "
        f"case when doc_id % 17 = 0 then {nl} || "
        f"'function() ' || '{{' || ' return 1; ' || '}}' else '' end || "
        f"case when doc_id % 19 = 0 then {nl} || "
        f"'Lorem ipsum dolor sit amet.' else '' end as text "
        f"from documents"
    )


def _c4_oracle() -> str:
    from .text.c4_clean import c4_oracle_tail

    return f"with seeded as ({_c4_seeded('duckdb')}), " + c4_oracle_tail(
        "seeded"
    )


@query("c4_line_clean_documents", _c4_oracle())
def q_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (text/c4_clean.py; Raffel et al.
    JMLR'20 §2.2): terminal-punctuation / min-words / javascript line
    rules + curly-brace and lorem-ipsum document drops, 100% map-only
    whole-stage codegen (zero shuffles, zero Python). Seeded injection
    (_c4_seeded) fires every rule on known doc subsets; per-rule line
    counts, document flags, and the cleaned text are value-exact vs
    the identical DuckDB list-lambda program."""
    from .text.c4_clean import c4_line_clean

    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    seeded = spark.sql(_c4_seeded("spark"))
    return c4_line_clean(seeded)


@query(
    "q_attribution_linear",
    # exact integer credit: floor(1e6 / n_clicks) micro-units per
    # (purchase, click) pair — both engines compute the identical
    # integer division, no float ulp
    """
with p as (
  select event_id as pid, user_id as u, epoch_us(ts) as t
  from events
  where event_type = 'purchase' and user_id is not null
    and ts is not null),
c as (
  select event_id as cid, user_id as u, epoch_us(ts) as t
  from events
  where event_type = 'click' and user_id is not null
    and ts is not null),
j as (
  select p.pid, c.cid from p join c on p.u = c.u
  where c.t >= p.t - 604800000000 and c.t < p.t),
n as (select pid, count(*) as n from j group by pid)
select j.cid as click_event_id,
       cast(count(*) as bigint) as n_purchases,
       cast(sum(1000000 // n.n) as bigint) as total_credit_e6
from j join n using (pid) group by j.cid
""",
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution (the last-touch op's sibling):
    every click in the 7 days before a purchase by the same user shares
    that purchase's credit equally — floor(1e6 / n_clicks) integer
    micro-units per pair, summed per click. The (purchase window x
    click) pairing runs through the binned interval join
    (relational/range_join.py: bucket explode + (bucket, user) equi-
    join + residual — never a nested-loop or time-only cross join; the
    user_id equi-key rides the bucket key, so replication is bounded by
    window/bucket and skew by per-user activity). Exact oracle via the
    identical integer-division credit arithmetic."""
    from .relational.range_join import interval_join

    ev = load_table(spark, sf_dir, "events").filter(
        "user_id is not null and ts is not null"
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("__pts"),
        # fixed 604800e6 MICROSECONDS, matching the oracle and the
        # last-touch op — a calendar `interval 7 days` would shift by
        # +-1h across a DST transition in a non-UTC session timezone
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lit(604800000000)
        ).alias("__start"),
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("cid"), "user_id", F.col("ts").alias("__cts")
    )
    pairs = interval_join(
        clicks,
        purchases,
        ts="__cts",
        start="__start",
        end="__pts",
        bucket_s=86400,
        extra_key="user_id",
    ).select("pid", "cid")
    # per-purchase click count via a window, NOT a groupBy + self-join:
    # the self-join shape would recompute the interval join on both
    # branches (Catalyst cannot dedup it) — the window reuses the one
    # pid-keyed exchange and the pair set is computed once
    from pyspark.sql.window import Window

    n = F.count(F.lit(1)).over(Window.partitionBy("pid"))
    return (
        pairs.withColumn("__n", n)
        .groupBy(F.col("cid").alias("click_event_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.expr("1000000 div __n")).cast("long").alias(
                "total_credit_e6"
            ),
        )
    )


# Deterministic replica divergence for the reconciliation op: one row
# deleted (17), one updated (23), one inserted (9001). Identical SQL
# both engines.
_RECON_MUT = (
    "select doc_id, text, lang from documents "
    "where doc_id <> 17 and doc_id <> 23 "
    "union all select doc_id, text || ' MUTATED' as text, lang "
    "from documents where doc_id = 23 "
    "union all select cast(9001 as bigint) as doc_id, "
    "'inserted row' as text, 'en' as lang from documents where doc_id = 0"
)


def _reconcile_oracle() -> str:
    from .relational.reconcile import digest_sql

    cols = ["doc_id", "text", "lang"]
    return (
        f"with b_src as ({_RECON_MUT}), "
        f"a_dig as ({digest_sql('documents', cols, 'doc_id', 64)}), "
        f"b_dig as ({digest_sql('b_src', cols, 'doc_id', 64)}) "
        "select bucket, "
        "cast(coalesce(a.n_rows, 0) as bigint) as n_a, "
        "cast(coalesce(b.n_rows, 0) as bigint) as n_b, "
        "(coalesce(a.xor_digest, 0) = coalesce(b.xor_digest, 0)) "
        "as digest_match, "
        "(coalesce(a.n_rows, 0) = coalesce(b.n_rows, 0) and "
        "coalesce(a.xor_digest, 0) = coalesce(b.xor_digest, 0)) "
        "as rows_match "
        "from a_dig a full outer join b_dig b using (bucket)"
    )


@query("reconcile_tables_documents", _reconcile_oracle())
def q_reconcile_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table reconciliation (relational/reconcile.py):
    two replicas reduce to per-bucket (count, XOR-of-row-md5) digest
    tables — one map-only pass + one n_buckets-bounded aggregate per
    side, NOTHING corpus-sized shuffles or crosses sides — and only the
    64-row digest tables join. Injected divergence (one delete, one
    update, one insert) localizes to exactly its buckets; every bucket
    row (matching and not) is value-hashed against the oracle's
    identical md5/XOR replay."""
    from .relational.reconcile import reconcile_tables

    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    a = d.select("doc_id", "text", "lang")
    b = spark.sql(_RECON_MUT)
    return reconcile_tables(a, b, ["doc_id", "text", "lang"], "doc_id", 64)


def _decayed_topk_oracle() -> str:
    from .sketches.decay import decayed_topk_sql

    return decayed_topk_sql("event_type", window=14, top=10)


@query("decayed_topk_event_types", _decayed_topk_oracle())
def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed heavy hitters (sketches/decay.py): the
    trending-now frequency table — half-life-per-period weights as
    EXACT integers (2^(period-base), no float pow), reduced from the
    per-period Misra-Gries state table in one O(k x window) sweep.
    Distinct event types sit far below k, so every MG table is exact
    and the oracle recomputes the identical shifted-integer arithmetic
    from raw events — value-exact."""
    from .sketches.decay import decayed_topk_mg

    ev = load_table(spark, sf_dir, "events")
    return decayed_topk_mg(
        ev, "event_type", "ts", k=256, window=14, top=10
    )


@query(
    "rolling_quantile_event_values",
    # value-rich oracle: the window's row count and the EXACT discrete
    # quantile (micro-int value at rank ceil(q*n)) are derived
    # independently in DuckDB and value-hashed; only the KLL rank-band
    # containment of the sketch's own estimate stays an in-query
    # boolean (the estimate is not SQL-derivable).
    """
with e as (
  select cast(floor(epoch_us(ts) / 86400000000) as bigint) as p,
         cast(floor(value * 1000000.0) as bigint) as v
  from events where value is not null and ts is not null),
anchors as (select distinct p from e),
fan as (select a.p as t, e.v from e
        join anchors a on e.p between a.p - 6 and a.p),
ranked as (select t, v,
           row_number() over (partition by t order by v) as rn,
           count(*) over (partition by t) as n from fan),
qs as (select * from (values (500000), (950000)) q(q_e6)),
sel as (select t, q_e6, n, v from ranked join qs
        on rn = (q_e6 * n + 999999) // 1000000)
select t as period, cast(q_e6 as bigint) as q_e6,
       cast(n as bigint) as n, v as exact_mq, true as within_band
from sel
""",
)
def q_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window quantiles from per-period KLL states
    (sketches/rolling.py::rolling_quantile_kll) — completes the rolling
    state-algebra family (distinct / top-k / moments / quantiles). The
    operator answers every trailing-7-day p50/p95 from k-bounded states
    (sweep cost independent of corpus size); the in-query referee
    recomputes the exact discrete quantiles (rank ceil(q*n) over
    micro-int values — integer arithmetic, both engines identical) and
    checks the estimate inside the +-3%% rank band; the exact values and
    window counts are value-hashed against the oracle's independent
    derivation."""
    from .sketches.rolling import rolling_quantile_kll
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    est = rolling_quantile_kll(
        ev, "value", "ts", qs=(0.5, 0.95), k=200, window=7
    )
    e2 = ev.filter("value is not null and ts is not null").select(
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000)
        ).alias("p"),
        F.floor(F.col("value") * 1000000.0).cast("long").alias("v"),
    )
    anchors = e2.select(F.col("p").alias("t")).distinct()
    fan = e2.join(
        anchors,
        (F.col("p") <= F.col("t")) & (F.col("p") >= F.col("t") - 6),
    ).select("t", "v")
    w = Window.partitionBy("t").orderBy("v")
    ranked = fan.select(
        "t",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("t")).alias("n"),
    )
    qs_df = spark.createDataFrame([(500000,), (950000,)], "q_e6 long")
    idx = (F.col("q_e6") * F.col("n") + 999999) / 1000000
    band = (F.lit(3) * F.col("n") + 99) / 100  # ceil(0.03 n), >=1 floor
    picked = (
        ranked.crossJoin(F.broadcast(qs_df))
        .withColumn("__idx", F.floor(idx).cast("long"))
        .withColumn("__band", F.greatest(F.floor(band), F.lit(1)).cast("long"))
    )
    exact = picked.filter(F.col("rn") == F.col("__idx")).select(
        F.col("t").alias("period"), "q_e6", "n", F.col("v").alias("exact_mq")
    )
    lo = picked.filter(
        F.col("rn") == F.greatest(F.col("__idx") - F.col("__band"), F.lit(1))
    ).select(F.col("t").alias("period"), "q_e6", F.col("v").alias("__lo"))
    hi = picked.filter(
        F.col("rn") == F.least(F.col("__idx") + F.col("__band"), F.col("n"))
    ).select(F.col("t").alias("period"), "q_e6", F.col("v").alias("__hi"))
    est_mq = est.select(
        "period",
        "q_e6",
        F.floor(F.col("est_value") * 1000000.0).cast("long").alias("__est"),
    )
    return (
        exact.join(lo, ["period", "q_e6"])
        .join(hi, ["period", "q_e6"])
        .join(est_mq, ["period", "q_e6"])
        .select(
            "period",
            "q_e6",
            "n",
            "exact_mq",
            (
                (F.col("__est") >= F.col("__lo"))
                & (F.col("__est") <= F.col("__hi"))
            ).alias("within_band"),
        )
    )


@query("streaming_decayed_topk", _decayed_topk_oracle())
def q_streaming_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of decayed_topk_event_types: per-period
    Misra-Gries states maintained under the REAL streaming engine
    (streaming/rolling.py's ledgered exactly-once period store, the
    same generic MergeableSketch maintainer the bitmap family uses),
    then the decayed sweep runs over the MAINTAINED states — shared
    code with the batch operator, so stream == batch is the contract
    and the oracle is the identical shifted-integer batch replay.
    MG merge is counter addition, so any micro-batch split of the
    event history produces byte-equal per-period tables in the
    below-k regime."""
    import os
    import tempfile
    import time

    from .sketches.decay import decayed_scores_from_states
    from .sketches.misra_gries import MisraGriesSketch
    from .streaming.rolling import (
        init_period_store,
        read_period_states,
        stream_update_period_states,
    )

    root = tempfile.mkdtemp(prefix="xfns_sdecay_")
    store = os.path.join(root, "store")
    init_period_store(spark, store)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    t0 = time.time() - 3600
    for i, s in enumerate(
        (ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1"))
    ):
        p = os.path.join(root, "in", f"s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        for r, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(r, f), (t0 + 10 * i, t0 + 10 * i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in", "s*"))
    )
    sk = MisraGriesSketch(k=256, key_col="__k")
    q = stream_update_period_states(
        stream, store, os.path.join(root, "ckpt"),
        "event_type", "ts", sketch=sk,
    )
    q.awaitTermination()
    return decayed_scores_from_states(
        spark, read_period_states(spark, store), sk, window=14, top=10
    )


# Role-run injection for the turn-merge op: the derived transcripts
# cycle roles every turn (no consecutive same-role runs), so every 4th
# conversation gets turns 1-2 remapped to 'user' — creating 2-3-turn
# runs to collapse. Identical SQL both engines.
_MERGE_MUTATION = """
    mbase as (
        select t.*, cast(substr(conv_id, 6) as bigint) as did
        from transcripts t),
    mutm as (
        select conv_id, turn_idx,
               case when did % 4 = 0 and turn_idx in (1, 2)
                    then 'user' else role end as role,
               text
        from mbase)
"""


def _merge_turns_oracle() -> str:
    from .pipeline.turn_merge import merge_oracle_tail

    return f"with {TRANSCRIPTS_CTE}, {_MERGE_MUTATION}, " + merge_oracle_tail(
        "mutm"
    )


@query("q_merge_consecutive_turns", _merge_turns_oracle())
def q_merge_consecutive_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge consecutive same-role turns (pipeline/turn_merge.py): the
    gaps-and-islands normalization chat-template training requires —
    each maximal same-role run collapses to one turn with its texts
    joined in order. ONE conv_id shuffle (window + run aggregate share
    the exchange); seeded role-run injection keeps the op non-vacuous;
    value-exact vs the identical DuckDB window/island program."""
    from .pipeline.turn_merge import merge_consecutive_turns

    load_transcripts(spark, sf_dir).createOrReplaceTempView("transcripts")
    mut = spark.sql(f"with {_MERGE_MUTATION} select * from mutm")
    return merge_consecutive_turns(mut)


# Deterministic search needles: 14-char substrings lifted from three
# fixed documents (guaranteed hits — at minimum their own source) plus
# one absent literal (guaranteed miss). Identical SQL both engines.
_SUBSTR_QUERIES = (
    "select cast(doc_id as bigint) as query_id, substr(text, 11, 14) as q "
    "from documents where doc_id in (7, 23, 41) "
    "union all select cast(-1 as bigint) as query_id, "
    "'zzzzqqqqxxxxyy' as q"
)


def _substring_oracle() -> str:
    from .text.index import substring_search_sql

    return substring_search_sql("select * from documents", _SUBSTR_QUERIES)


@query("substring_search_documents", _substring_oracle())
def q_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring search via character-gram candidate pruning
    (text/index.py::substring_search): the document side explodes into
    6-grams in codegen and is immediately semi-joined against the
    BROADCAST query-gram set, so only gram hits reach the one small
    aggregate; a candidate must contain ALL query grams (zero false
    negatives by construction) and is verified with exact contains().
    The corpus never shuffles. Oracle is the definitionally exact
    contains() scan in DuckDB."""
    from .text.index import substring_search

    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    qs = spark.sql(_SUBSTR_QUERIES)
    return substring_search(d, qs)


def _template_oracle() -> str:
    from .text.templates import template_oracle_sql

    return f"with {TRANSCRIPTS_CTE} " + template_oracle_sql()


@query("template_mining_transcripts", _template_oracle())
def q_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate mining (text/templates.py): normalized turn
    texts (lower, digit runs -> '#', whitespace collapse) recurring in
    >= 2 distinct conversations — the turn-level complement of exact
    dedup that finds canned greetings/tool boilerplate before they
    dominate training loss. Normalization is zero-shuffle codegen; the
    ONE exchange is the map-side-combined (role, template) aggregate
    (vocabulary-width, never corpus-width). Value-exact DuckDB oracle
    replays the identical normalize + aggregate program."""
    from .text.templates import mine_templates

    return mine_templates(load_transcripts(spark, sf_dir))


def _strip_oracle() -> str:
    from .text.templates import strip_oracle_sql

    return f"with {TRANSCRIPTS_CTE} " + strip_oracle_sql()


@query("template_strip_transcripts", _strip_oracle())
def q_template_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template stripping (text/templates.py::strip_templates) — the
    action half of template mining: remove every turn whose normalized
    text recurs in >= 2 distinct conversations, then re-index the
    survivors per conversation (0..n-1, deterministic (idx, role,
    text) order) so chat-template consumers still see contiguous
    indices. The mined template set is vocabulary-width, so it returns
    as a BROADCAST anti-join against the map-side normalized stream;
    the corpus shuffles exactly once (the re-index window on conv_id).
    Value-exact DuckDB oracle replays the identical anti-join +
    re-index program."""
    from .text.templates import strip_templates

    return strip_templates(load_transcripts(spark, sf_dir))


def _rank_blend_oracle() -> str:
    from .text.rank_blend import rank_blend_oracle_sql

    return rank_blend_oracle_sql()


@query("q_rank_blend_documents", _rank_blend_oracle())
def q_rank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda rank aggregation of quality signals (text/rank_blend.py):
    per-language document ranking that blends three integer-exact
    signals (chars, words, distinct words) by rank-sum — the robust
    scale-free way to ensemble heterogeneous quality scores (a doc
    must be good under several lenses; single-metric gaming stops
    working). All windows PARTITION BY lang, so the sorts are
    partition-bounded (never a global order) and share one exchange.
    Value-exact DuckDB oracle replays the identical window program."""
    from .text.rank_blend import rank_blend

    return rank_blend(load_table(spark, sf_dir, "documents"))


def _fork_oracle() -> str:
    from .pipeline.forks import fork_oracle_sql

    return f"with {TRANSCRIPTS_CTE} " + fork_oracle_sql()


@query("fork_points_transcripts", _fork_oracle())
def q_fork_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation fork detection (pipeline/forks.py): (depth, prefix)
    pairs shared by >= 2 conversations whose next turns diverge —
    retries/regenerations/agent branches that poison training with
    contradictory continuations. Raw text never shuffles (turns reduce
    to 32-hex fingerprints map-only); two exchanges, conv_id assembly
    then the (depth, prefix-digest) aggregate, both map-side combined.
    The testdata's dup-injected near-copy documents yield real shared-
    prefix conversations, so the report is non-vacuous (19 natural fork
    points at sf0.01). Value-exact DuckDB oracle replays the identical
    fingerprint-chain program."""
    from .pipeline.forks import fork_points

    return fork_points(load_transcripts(spark, sf_dir))


def _vocab_coverage_oracle() -> str:
    from .text.vocab_coverage import vocab_coverage_oracle_sql

    return vocab_coverage_oracle_sql(vocab_size=16)


@query("vocab_coverage_documents", _vocab_coverage_oracle())
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate report (text/vocab_coverage.py):
    per-document out-of-vocabulary token share against the corpus's
    top-V frequency vocabulary (V=16 here: the sf corpus has ~31
    distinct tokens, so half the vocabulary is genuinely OOV and the
    rates are non-trivial). Tokenize is codegen explode over the scan;
    the frequency exchange is vocabulary-width after map-side combine;
    the top-V set broadcasts back; the only corpus-sized exchange is
    the per-doc count. Rates in integer micro-units (floor e6), the
    cross-engine convention. Value-exact DuckDB oracle."""
    from .text.vocab_coverage import vocab_coverage

    return vocab_coverage(
        load_table(spark, sf_dir, "documents"), vocab_size=16
    )


def _centroid_oracle() -> str:
    from .ann.centroid_drift import centroid_oracle_sql

    return centroid_oracle_sql()


@query("centroid_pairs_embeddings", _centroid_oracle())
def q_centroid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid geometry (ann/centroid_drift.py):
    e6-quantized cosine between every label pair's centroid — the
    one-aggregate embedding-space drift/separation monitor that
    complements the sketch-based feature drift report. Components are
    integer-quantized BEFORE summing (exact, order-insensitive); the
    ONE corpus exchange is keyed (label, dim) and map-side combined to
    g x d rows; the pairwise stage runs over g centroids only. Cosine
    of sum vectors == cosine of means (scale invariance), so no
    count division ever happens. Value-exact DuckDB oracle."""
    from .ann.centroid_drift import centroid_pairs

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "label", F.col("label").cast("long")
    )
    return centroid_pairs(emb)


@query(
    "incremental_update_ok",
    # the key-population arithmetic (base slice, delta slice, genuinely-
    # new keys) is SQL-expressible over the shared transcript derivation,
    # so the oracle value-checks the counts the update contract is ABOUT;
    # the two-run byte-identity legs (no single-run SQL can replay a
    # resume) ride along as booleans plus the value-checked noop rebuild
    # count (exactly 0 shards may be re-peeled by a no-new-keys delta)
    f"with {TRANSCRIPTS_CTE}, keyed as ("
    f"  select {KEY_EXPR} as key,"
    f"         cast(substr(conv_id, 6) as bigint) as doc_id"
    f"  from transcripts) "
    "select "
    "cast(count(distinct case when doc_id % 4 <> 0 then key end) as bigint)"
    " as n_base_keys, "
    "cast(count(distinct case when doc_id % 2 = 0 then key end) as bigint)"
    " as n_delta_keys, "
    "cast(count(distinct case when doc_id % 4 = 0 then key end) as bigint)"
    " as n_new_keys, "
    "true as update_equals_full_rebuild, "
    "true as zero_false_negatives, "
    "cast(0 as bigint) as noop_shards_rebuilt, "
    "true as noop_identical, "
    "true as update_shards_rebuilt_bounded "
    "from keyed",
)
def q_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental filter update gate (pipeline/checkpoint.py::
    update_xor_filter_checkpointed): fold a delta's NEW keys into an
    existing checkpointed build, re-peeling only affected shards —
    the reference's filters are static (reference README.md:113
    'Immutable after construction ... rebuild the filter'), so this is
    the O(delta) maintenance path a 10^12-key corpus needs. Legs:

    - update(base, delta) artifact BYTE-IDENTICAL to a fresh full
      build over base ∪ delta (per-shard construction is a pure
      function of the shard's digest set);
    - zero false negatives over every base and delta key;
    - a noop delta (keys ⊆ base) rebuilds exactly 0 shards and leaves
      the artifact byte-identical to the base's;
    - the real update re-peels ≥1 and ≤ num_shards shards.

    The base/delta key populations are deterministic conv_id slices of
    the transcript derivation, so their distinct-key counts — and the
    anti-joined genuinely-new count — are value-checked against the
    DuckDB oracle rather than self-refereed."""
    import shutil
    import tempfile

    from .pipeline.checkpoint import (
        artifact_canonical_json as artifact_bytes,
        build_xor_filter_checkpointed,
        update_xor_filter_checkpointed,
    )

    t = with_membership_key(load_transcripts(spark, sf_dir))
    doc_id = F.substring("conv_id", 6, 8).cast("long")
    base_df = t.filter(doc_id % 4 != 0)
    delta_df = t.filter(doc_id % 2 == 0)
    noop_df = t.filter(doc_id % 4 == 2)  # strict subset of base

    n_base = base_df.select("key").distinct().count()
    n_delta = delta_df.select("key").distinct().count()
    n_new = (
        delta_df.select("key")
        .distinct()
        .join(base_df.select("key").distinct(), "key", "left_anti")
        .count()
    )

    kw = dict(num_shards=8, width=16, seed=7)
    root = tempfile.mkdtemp(prefix="xfns_incr_")
    try:
        base_f, _ = build_xor_filter_checkpointed(
            base_df, "key", f"{root}/base", input_token="base", **kw
        )
        upd_f, upd_m = update_xor_filter_checkpointed(
            delta_df, "key", f"{root}/base", f"{root}/upd", input_token="d"
        )
        full_f, _ = build_xor_filter_checkpointed(
            base_df.unionAll(delta_df),
            "key",
            f"{root}/full",
            input_token="full",
            **kw,
        )
        identical = artifact_bytes(upd_f) == artifact_bytes(full_f)

        union_df = base_df.unionAll(delta_df)
        zero_fn = (
            union_df.withColumn(
                "is_member", is_member(spark, upd_f, "key")
            )
            .filter(~F.col("is_member"))
            .limit(1)
            .count()
            == 0
        )

        noop_f, noop_m = update_xor_filter_checkpointed(
            noop_df, "key", f"{root}/base", f"{root}/noop", input_token="n"
        )
        noop_rebuilt = int(noop_m["update"]["shards_rebuilt"])
        noop_identical = artifact_bytes(noop_f) == artifact_bytes(base_f)
        rebuilt = int(upd_m["update"]["shards_rebuilt"])
        bounded = 1 <= rebuilt <= kw["num_shards"]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                int(n_base),
                int(n_delta),
                int(n_new),
                bool(identical),
                bool(zero_fn),
                noop_rebuilt,
                bool(noop_identical),
                bool(bounded),
            )
        ],
        "n_base_keys long, n_delta_keys long, n_new_keys long, "
        "update_equals_full_rebuild boolean, zero_false_negatives boolean, "
        "noop_shards_rebuilt long, noop_identical boolean, "
        "update_shards_rebuilt_bounded boolean",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 'has this (conv_id, text-fingerprint) been seen?' over the
    sf0.001 transcripts — XOR16 build + vectorized probe, per-role counts."""
    sf_dir = "/root/testdata/sf0.001"
    t = with_membership_key(load_transcripts(spark, sf_dir))
    xf = build_filter(t, "key", width=16, seed=12345)
    probed = probe(t, xf, "key")
    return (
        probed.groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("is_member").cast("long")).alias("n_member"),
        )
        .orderBy("role")
    )
