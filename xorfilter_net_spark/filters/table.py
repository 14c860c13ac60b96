"""Distributed XOR-filter artifact persisted as a table (the 10^12-key path).

``build_sharded_filter`` collects every shard's slot table to the
driver. That is fine up to ~10^8 keys, but at the mandated 10^12-turn
scale the artifact itself is terabytes (1.23 x n x L bits — ~2.5 TB for
XOR16): no driver holds it and no broadcast ships it. This module keeps
the artifact DISTRIBUTED end to end, mirroring how the reference's
in-memory ``T[] _tableSlots`` (``BaseXorFilter.cs:13``) must be re-homed
when one machine cannot hold it:

build (``build_xor_filter_table``)
    JVM ``xxhash64`` digests in whole-stage codegen
    -> ONE exchange on the shard id ``s = pmod(d0, num_shards)``
       (uniform: d0 is a hash lane, so conv_id skew cannot reach it):
       shard ``s`` goes to task ``s mod T``, ``T = min(num_shards,
       spark.sql.shuffle.partitions)``
    -> per-shard dedup + peel + fill in ``applyInPandas``: each task
       runs one Python runner and builds its shards one at a time
    -> parquet write of ``(shard, meta, slots)`` rows, executor-parallel.
    Summary metrics are assembled lazily on first ``.metrics`` access,
    reading ONLY the pruned ``meta`` column (bytes per shard, not per
    key) — there is no serial per-key stage anywhere and no synchronous
    driver job after the commit, so construction throughput scales with
    executors all the way through the sink.

probe (``XorFilterTable.probe``)
    shard-cogrouped join: the probe corpus's JVM digests shuffle ONCE on
    the same routing hash, and each task probes its group against that
    shard's slot blob with the vectorized NumPy kernel. Peak memory per
    task = one shard's filter + one probe group; nothing global, nothing
    driver-side. It is the one probe of a persisted artifact, and it
    still works when the filter exceeds both driver memory and the
    broadcast threshold.

For filters that DO fit on the driver, ``XorFilterTable.to_sharded()``
loads the artifact into a :class:`ShardedFilter`, after which the
broadcast paths (``is_member``, zero-Python ``probe_sql``)
apply unchanged — at bench scale those are faster because they avoid
the probe-side shuffle entirely.

A table is a directory: ``filter.json`` (the meta of ``table_meta``: width,
seed, num_shards, digest kind; a few hundred bytes) over ``shards/``
(parquet of ``SHARD_SCHEMA`` rows). It is the one on-disk form of a
sharded filter: a checkpointed build's run dir
(``pipeline/checkpoint.py``) is a table too. A meta written by the older
Python-murmur lane, or one without a digest kind, is refused (rebuild
it); extra keys are ignored, so run dirs whose ``filter.json`` still
holds the whole hex-encoded filter load as tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..commit import publish, retract
from .spark_build import (
    ShardedFilter,
    _shard_filter,
    _shard_summary,
    _u64,
    jvm_digest_cols,
    key_digests_jvm,
    shard_frame,
)

__all__ = ["XorFilterTable", "build_xor_filter_table", "table_meta"]

_META_FILE = "filter.json"
_SHARDS_DIR = "shards"


class XorFilterTable:
    """Handle to a persisted, distributed XOR-filter artifact.

    Driver-side state is metadata only (a few hundred bytes); the slot
    tables stay in ``<path>/shards/`` parquet until a probe reads them.
    """

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        kind = meta.get("digest_kind", "murmur")
        if kind != "xxhash64jvm":
            raise ValueError(
                f"filter table {path!r} holds {kind!r} digests, which no "
                "probe reads any more; rebuild it"
            )
        self.spark = spark
        self.path = path
        self.width = meta["width"]
        self.seed = meta["seed"]
        self.num_shards = meta["num_shards"]
        self._metrics = meta.get("metrics")

    @property
    def metrics(self) -> dict:
        """Aggregate build metrics (n_keys, table_size, max_attempts).

        Computed lazily from the shard artifacts' pruned ``meta`` column
        — the build itself never runs a synchronous metadata job, so
        construction wall time is exactly the distributed write."""
        if self._metrics is None:
            metas = [
                json.loads(r["meta"])
                for r in self.shards_df().select("meta").collect()
            ]
            self._metrics = {
                "num_shards_built": len(metas),
                **_shard_summary(metas),
            }
        return self._metrics

    # -- persistence --------------------------------------------------------
    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "XorFilterTable":
        with open(os.path.join(path, _META_FILE)) as f:
            return cls(spark, path, json.load(f))

    def shards_df(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, _SHARDS_DIR))

    def to_sharded(self) -> ShardedFilter:
        """Load the artifact into driver memory (only when it fits —
        enables the broadcast probes ``is_member``/``probe_sql``)."""
        shards = {
            int(r.shard): _shard_filter(r.meta, r.slots)
            for r in self.shards_df().toPandas().itertuples(index=False)
        }
        return ShardedFilter(self.width, self.seed, shards, self.num_shards)

    # -- probing ------------------------------------------------------------
    def probe(
        self, df: DataFrame, key_col: str, out_col: str = "is_member"
    ) -> DataFrame:
        """Shard-cogrouped membership probe (see module docstring).

        Returns ``df``'s columns plus boolean ``out_col``. Costs one
        shuffle of the probe corpus on the (uniform) shard hash; the
        artifact side moves at most one small group per shard.
        """
        t = "__xortab_"
        ns = self.num_shards
        out_cols = list(df.columns)

        d0c, d1c = jvm_digest_cols(key_col)
        base = df.withColumns({f"{t}d0": d0c, f"{t}d1": d1c}).withColumn(
            f"{t}sh", F.pmod(F.col(f"{t}d0"), F.lit(ns)).cast("int")
        )
        out_schema = StructType(
            list(df.schema.fields) + [StructField(out_col, BooleanType())]
        )

        def kernel(probes: pd.DataFrame, art: pd.DataFrame) -> pd.DataFrame:
            if probes.empty:
                return pd.DataFrame(columns=out_cols + [out_col])
            if art.empty:
                member = np.zeros(len(probes), dtype=bool)
            else:
                f = _shard_filter(art["meta"].iloc[0], art["slots"].iloc[0])
                member = f.contains_digests(
                    _u64(probes[f"{t}d0"]), _u64(probes[f"{t}d1"])
                )
            out = probes[out_cols].copy()
            out[out_col] = member
            return out

        return (
            base.groupBy(f"{t}sh")
            .cogroup(self.shards_df().groupBy("shard"))
            .applyInPandas(kernel, schema=out_schema)
        )


def table_meta(width: int, seed: int, num_shards: int) -> dict:
    """The ``filter.json`` of a table: structural metadata only.
    Aggregate metrics are computed lazily on first ``.metrics`` access
    (from the pruned ``meta`` column — the slots column is never read on
    the driver), so no synchronous driver metadata job rides on a build."""
    return {
        "width": width,
        "seed": seed,
        "num_shards": num_shards,
        "digest_kind": "xxhash64jvm",
    }


def build_xor_filter_table(
    df: DataFrame,
    key_col: str,
    path: str,
    num_shards: int = 32,
    width: int = 8,
    seed: int = 0,
    jvm_digests: bool = True,
) -> XorFilterTable:
    """Build a sharded XOR filter and persist it as a distributed table.

    The same shard DataFrame as ``build_sharded_filter`` (same kernel,
    same per-shard seeds: bit-identical per-shard artifacts); the
    difference is the sink: shard rows are written to parquet by the
    executors instead of collected, so the build has NO per-key serial
    stage and the artifact size is bounded by storage, not driver memory.
    Construction therefore ends with the executor-parallel parquet commit
    and the meta publish.
    """
    # kept only because the benchmark passes it; the next benchmark change drops it
    if not jvm_digests:
        raise ValueError("the murmur sharded lane is gone; jvm_digests must be True")
    retract(os.path.join(path, _META_FILE))  # the shards are overwritten in place
    shard_frame(
        key_digests_jvm(df, key_col), num_shards, width, seed
    ).write.mode("overwrite").parquet(os.path.join(path, _SHARDS_DIR))
    meta = table_meta(width, seed, num_shards)
    publish(os.path.join(path, _META_FILE), json.dumps(meta, indent=1))
    return XorFilterTable(df.sparkSession, path, meta)
