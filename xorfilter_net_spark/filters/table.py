"""Distributed XOR-filter artifact persisted as a table (the 10^12-key path).

``build_sharded_filter`` collects every shard's slot table to the
driver. That is fine up to ~10^8 keys, but at the mandated 10^12-turn
scale the artifact itself is terabytes (1.23 x n x L bits — ~2.5 TB for
XOR16): no driver holds it and no broadcast ships it. This module keeps
the artifact DISTRIBUTED end to end, mirroring how the reference's
in-memory ``T[] _tableSlots`` (``BaseXorFilter.cs:13``) must be re-homed
when one machine cannot hold it:

build (``build_xor_filter_table``)
    digests (JVM ``xxhash64`` codegen, or the Arrow murmur kernel)
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
    shard-cogrouped join: probes shuffle ONCE on the same routing hash,
    and each task probes its group against that shard's slot blob with
    the vectorized NumPy kernel. Peak memory per task = one shard's
    filter + one probe group; nothing global, nothing driver-side. This
    is the membership-probe strategy that still works when the filter
    exceeds both driver memory and the broadcast threshold.

For filters that DO fit on the driver, ``XorFilterTable.to_sharded()``
loads the artifact into a :class:`ShardedFilter`, after which the
broadcast paths (``is_member``, zero-Python ``probe_sql``)
apply unchanged — at bench scale those are faster because they avoid
the probe-side shuffle entirely.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StructField, StructType

from ..kernels.column import digest_series as _digest_batch
from .spark_build import (
    ShardedFilter,
    _digest_lane,
    _flat_params,
    _shard_filter,
    _shard_summary,
    _u64,
    jvm_digest_cols,
    params_pdf,
    shard_frame,
    sql_probe_plan,
)
from .xor_core import _DTYPES

__all__ = ["XorFilterTable", "build_xor_filter_table"]

_META_FILE = "filter.json"
_SHARDS_DIR = "shards"


class XorFilterTable:
    """Handle to a persisted, distributed XOR-filter artifact.

    Driver-side state is metadata only (a few hundred bytes); the slot
    tables stay in ``<path>/shards/`` parquet until a probe reads them.
    """

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.width = meta["width"]
        self.seed = meta["seed"]
        self.num_shards = meta["num_shards"]
        self.digest_kind = meta["digest_kind"]
        self.mode = meta["mode"]
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
        return ShardedFilter(
            self.width, self.seed, shards, self.num_shards,
            self.digest_kind, self.mode,
        )

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

        if self.digest_kind == "xxhash64jvm":
            d0c, d1c = jvm_digest_cols(key_col)
            base = df.withColumns({f"{t}d0": d0c, f"{t}d1": d1c})
        else:
            # murmur digests need the Python kernel; one struct-returning
            # pandas UDF computes both lanes in a single Arrow pass (the
            # struct is materialized as its own column first so the UDF
            # is evaluated once, then split into the two lane columns)
            @pandas_udf("d0 long, d1 long")
            def _dig(s: pd.Series) -> pd.DataFrame:
                d0, d1 = _digest_batch(s)
                return pd.DataFrame(
                    {"d0": d0.view(np.int64), "d1": d1.view(np.int64)}
                )

            base = (
                df.withColumn(f"{t}dg", _dig(F.col(key_col)))
                .withColumns(
                    {
                        f"{t}d0": F.col(f"{t}dg").getField("d0"),
                        f"{t}d1": F.col(f"{t}dg").getField("d1"),
                    }
                )
                .drop(f"{t}dg")
            )
        base = base.withColumn(
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

    def probe_sql(
        self, df: DataFrame, key_col: str, out_col: str = "is_member"
    ) -> DataFrame:
        """Zero-Python probe of the DISTRIBUTED artifact via shuffled
        hash joins (no driver load, no broadcast, no Arrow boundary on
        the probe corpus).

        Same whole-stage-codegen plan as ``spark_build.probe_sql``
        (digests, per-shard params broadcast, three slot-table
        equi-joins), except the flattened slot table is decoded from the
        artifact parquet by a tiny ``mapInPandas`` over the SHARD BLOBS
        (Python cost is O(artifact), never O(probes)) and joined with
        ``hint("shuffle_hash")`` — the strategy that still works when
        the filter is terabytes: three shuffles of the probe corpus
        against a distributed, persisted slot table. Requires a
        ``jvm_digests=True`` (sqlhash-addressed) build."""
        if self.digest_kind != "xxhash64jvm" or self.mode != "sqlhash":
            raise ValueError(
                "probe_sql requires a table built with jvm_digests=True, "
                f"i.e. sqlhash addressing (got {self.digest_kind!r}, "
                f"{self.mode!r}); use XorFilterTable.probe instead"
            )
        spark = self.spark
        cached = getattr(self, "_sqlprobe_cache", None)
        if cached is None:
            # per-shard metadata only crosses to the driver (bytes per
            # shard); slots stay in executor-side parquet
            metas = {
                int(r["shard"]): json.loads(r["meta"])
                for r in self.shards_df().select("shard", "meta").collect()
            }
            fl = _flat_params("xor", metas, self.num_shards)
            params_df = spark.createDataFrame(
                params_pdf("xor", fl, self.num_shards)
            )

            # decode shard blobs -> (sidx, sval) rows, executor-side; the
            # shard->global-offset map is tiny closure state
            off_map = {sid: int(fl["offsets"][sid]) for sid in metas}
            width = self.width

            def decode(batches):
                dt = _DTYPES[width]
                for pdf in batches:
                    for shard, blob in zip(pdf["shard"], pdf["slots"]):
                        vals = np.frombuffer(blob, dtype=dt).astype(np.int64)
                        base_off = off_map[int(shard)]
                        yield pd.DataFrame(
                            {
                                "sidx": base_off
                                + np.arange(vals.shape[0], dtype=np.int64),
                                "sval": vals,
                            }
                        )

            slots_df = (
                self.shards_df()
                .select("shard", "slots")
                # spread the (tiny) shard blob rows BEFORE decoding:
                # parallelizes the decode across cores and leaves the
                # decoded table already partitioned — repartitioning the
                # 10^7-row decoded output instead cost a full extra
                # shuffle on the cold path
                .repartition(max(4, min(len(metas) or 1, 64)))
                .mapInPandas(decode, schema="sidx long, sval long")
                # persist the decoded table: three joins (and every probe
                # action) reuse one decode pass
                .persist()
            )
            if not metas:  # slots of the 3-slot stand-in of keyless shards
                slots_df = spark.createDataFrame(
                    pd.DataFrame({"sidx": np.arange(3), "sval": np.zeros(3, np.int64)})
                )
            self._sqlprobe_cache = (params_df, slots_df)
        params_df, slots_df = self._sqlprobe_cache
        return sql_probe_plan(
            df,
            key_col,
            out_col,
            params_df=params_df,
            slots_df=slots_df,
            num_shards=self.num_shards,
            width=self.width,
            broadcast_slots=False,
        )


def build_xor_filter_table(
    df: DataFrame,
    key_col: str,
    path: str,
    num_shards: int = 32,
    width: int = 8,
    seed: int = 0,
    jvm_digests: bool = False,
    dedup: str = "in_shard",
) -> XorFilterTable:
    """Build a sharded XOR filter and persist it as a distributed table.

    The same shard DataFrame as ``build_sharded_filter`` (same kernel,
    same per-shard seeds: bit-identical per-shard artifacts); the
    difference is the sink: shard rows are written to parquet by the
    executors instead of collected, so the build has NO per-key serial
    stage and the artifact size is bounded by storage, not driver memory.
    """
    digest_fn, digest_kind, addressing = _digest_lane(jvm_digests)
    shard_frame(
        digest_fn(df, key_col), num_shards, width, seed, addressing, dedup
    ).write.mode("overwrite").parquet(os.path.join(path, _SHARDS_DIR))

    spark = df.sparkSession
    # structural metadata only: aggregate metrics are computed lazily on
    # first ``.metrics`` access (from the pruned ``meta`` column — the
    # slots column is never read on the driver). Construction therefore
    # ends with the executor-parallel parquet commit; no synchronous
    # driver metadata job rides on the timed path.
    meta = {
        "width": width,
        "seed": seed,
        "num_shards": num_shards,
        "digest_kind": digest_kind,
        "mode": addressing,
    }
    tmp = os.path.join(path, _META_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(path, _META_FILE))
    return XorFilterTable(spark, path, meta)
