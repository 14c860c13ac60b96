"""XOR-filter-accelerated join pruning (runtime semi-join filter).

The classic production use of the reference's data structure inside a
query engine: before shuffling a huge fact table into a join, probe each
fact row against an XOR filter built from the (much smaller) set of join
keys that actually exist on the other side, and drop the rows that
cannot match. Spark ships this pattern for Bloom filters (runtime
BloomFilterJoin / DPP); ours uses the XOR filter — ~1.23 bytes/key at
width 8 vs a Bloom's ~1.44x bits at matching FPR (arXiv:1912.08258),
with a zero-Python codegen probe (filters/spark_build.py::probe_sql).

Correctness: the probe admits every true match (zero false negatives —
the reference's hard invariant) plus an FPR-bounded trickle of false
positives, all of which the real join then discards. So for ``inner``
and ``left_semi`` joins the result is row-for-row identical to the
unpruned join (property-tested); ``outer`` joins are rejected — pruning
would eat the null-extended rows.

Scale shape: build = one pass over the dim keys (executor-parallel
sharded build); probe = map-only codegen on the fact side BEFORE the
join shuffle, so the shuffle carries only ~|matching| + FPR x |fact|
rows instead of |fact|. At a 2^-16 FPR the shuffle reduction is
essentially the join selectivity itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filters.spark_build import build_sharded_filter, probe_sql

_SAFE_HOW = {"inner", "left_semi", "leftsemi", "semi"}


def filter_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    width: int = 16,
    seed: int = 0,
    num_shards: int = 32,
) -> DataFrame:
    """Join ``fact`` to ``dim`` with an XOR-filter pre-prune of the fact side.

    ``fact_key`` / ``dim_key`` must have the same type (digests are
    computed by the same xxhash64 expression on both sides). Only
    match-preserving join types are allowed (inner / left_semi): false
    positives survive the probe but die in the join; true matches always
    survive (zero false negatives).
    """
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in _SAFE_HOW}:
        raise ValueError(
            f"filter_pruned_join only supports {sorted(_SAFE_HOW)} joins, got {how!r}:"
            " pruning the fact side would drop outer-join null extensions"
        )
    sxf = build_sharded_filter(
        dim.select(dim_key).dropDuplicates(),
        dim_key,
        num_shards=num_shards,
        width=width,
        seed=seed,
        jvm_digests=True,  # codegen digests + sqlhash addressing -> SQL probe
    )
    pruned = (
        probe_sql(sxf, fact, fact_key, out_col="__xf_member")
        .filter(F.col("__xf_member"))
        .drop("__xf_member")
    )
    if how.lower().replace("_", "").replace("left", "") == "semi":
        return pruned.join(dim, pruned[fact_key] == dim[dim_key], "left_semi")
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)


def prune_stats(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, **kw
) -> dict:
    """Measure the pruning power on a concrete pair (for tests/bench):
    rows before/after the probe and the exact match count."""
    sxf = build_sharded_filter(
        dim.select(dim_key).dropDuplicates(), dim_key,
        num_shards=kw.get("num_shards", 32), width=kw.get("width", 16),
        seed=kw.get("seed", 0), jvm_digests=True,
    )
    probed = probe_sql(sxf, fact, fact_key, out_col="__m")
    agg = probed.agg(
        F.count(F.lit(1)).alias("fact_rows"),
        F.sum(F.col("__m").cast("long")).alias("kept_rows"),
    ).collect()[0]
    matches = fact.join(dim, fact[fact_key] == dim[dim_key], "left_semi").count()
    return {
        "fact_rows": agg["fact_rows"],
        "kept_rows": agg["kept_rows"],
        "true_matches": matches,
        "false_positive_rows": agg["kept_rows"] - matches,
    }
