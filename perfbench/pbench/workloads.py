"""The two workloads.

Each workload has a write operation (it folds keys into a structure) and a
read operation (it answers from that structure), timed alternately, plus
the output checks of its structure and, for traced runs, a split of the
write and read into the library's layers. The end-to-end metrics every
workload reports mean:

==================  ===========================  ===========================
metric              xor_build_probe              sketch_aggregate
==================  ===========================  ===========================
write_keys_per_s    unique keys / table build    rows / five-sketch pass
read_keys_per_s     probed keys / SQL probe      rows / HLL column rollup
bytes_per_key       slot bytes / key             state bytes / distinct key
==================  ===========================  ===========================

The checkpointed update (``pipeline.checkpoint``) runs inside the traced
run of ``xor_build_probe``: a full checkpointed build, a 3% delta folded
in, and the result checked against a fresh build over base and delta.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from . import gen
from .checks import Tally, bloom_fpp, cms_ok, fpr_limit, hll_ok, rank_error
from .layers import FiveSketches, five_sketches
from .spans import Tracer
from .stats import Report

NUM_SHARDS = 64
WIDTH = 16
# copies of the probe set one timed read probes: a single copy takes
# ~0.05 s, which mostly times job scheduling
PROBE_COPIES = 8


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    partitions: int
    tracer: Tracer
    tally: Tally = field(default_factory=Tally)
    report: Report = field(default_factory=Report)
    # derived layer figures of the traced split: name -> list of values
    split: dict = field(default_factory=dict)


def noop(df) -> None:
    """Run ``df`` to completion without collecting or storing it."""
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def shard_bytes(table) -> dict:
    """Shard id -> (shard parameters, slot bytes) of a filter table; the
    build's own measurements are left out."""
    out = {}
    for r in table.shards_df().toPandas().itertuples(index=False):
        meta = json.loads(r.meta)
        meta.pop("metrics", None)
        out[int(r.shard)] = (json.dumps(meta, sort_keys=True), bytes(r.slots))
    return out


def plan_rdd(df):
    """The executed plan of ``df`` as a JVM RDD: each ``count()`` re-runs
    the plan without planning it again, and keeps its broadcasts."""
    return df._jdf.queryExecution().executedPlan().execute()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Workload:
    name = ""
    replicas = 0
    reads_per_write = 1
    # end-to-end metric -> the name the same figure has in the docs
    aliases: dict = {}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.docs = os.path.join(ctx.work, "docs")
        self.cached: list = []

    def persist(self, df):
        df = df.persist()
        df.count()
        self.cached.append(df)
        return df

    def release(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    def corpus(self, first: int, count: int, *cols):
        """Generate the seeded documents and persist ``cols`` of the
        replicated corpus; the sources layer's share of set-up."""
        t0 = time.perf_counter()
        with self.ctx.tracer.span("sources.corpus"):
            gen.write_documents(self.ctx.seed, self.docs)
            df = self.persist(
                gen.replicated(self.spark, self.docs, first, count, self.ctx.partitions)
                .select(*cols)
            )
        self.ctx.report.add("sources.corpus_s", "s", time.perf_counter() - t0)
        return df

    def add_split(self, name: str, value: float) -> None:
        self.ctx.split.setdefault(name, []).append(value)

    # setup(), warm(), write() -> (keys, s), read() -> (keys, s),
    # bytes_per_key(), check() and layer_split() are per workload


class XorBuildProbe(Workload):
    """XOR16 over JVM xxhash64 digests, 64 shards, built as a table
    artifact and probed by the zero-Python broadcast SQL probe over the
    members plus as many keys that were never inserted."""

    name = "xor_build_probe"
    replicas = 4
    reads_per_write = 3
    aliases = {
        "write_keys_per_s": "build_keys_per_s",
        "read_keys_per_s": "probe_keys_per_s",
    }

    def setup(self) -> None:
        from pyspark.sql import functions as F

        # replicas [0, R) are the members, [R, 2R) keys never inserted
        self.probe_df = self.corpus(
            0, 2 * self.replicas, "key", (F.col("rep") >= self.replicas).alias("nm")
        )
        self.keys = self.probe_df.filter(~F.col("nm")).select("key")
        self.n_probe = self.probe_df.count()

    def build(self, df, name: str):
        from xorfilter_net_spark.filters.table import build_xor_filter_table

        path = os.path.join(self.ctx.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return build_xor_filter_table(
            df, "key", path, num_shards=NUM_SHARDS, width=WIDTH, seed=self.ctx.seed,
            jvm_digests=True,
        )

    def warm(self) -> None:
        from xorfilter_net_spark.filters.spark_build import probe_sql

        # the warm-up build reads another partitioning of the same keys;
        # check() compares its artifact with the timed builds'
        self.repart = self.build(
            self.keys.repartition(self.ctx.partitions - 1, "key"), "xor_repart"
        )
        self.n_unique = self.repart.metrics["n_keys"]
        self.sxf = self.repart.to_sharded()
        self.probed = probe_sql(self.sxf, self.probe_df, "key")
        copies = functools.reduce(
            lambda a, b: a.unionByName(b), [self.probe_df] * PROBE_COPIES
        )
        # one plan, re-executed: the broadcast relations are built once and
        # every execution recomputes scan, hash and joins
        self.jrdd = plan_rdd(probe_sql(self.sxf, copies, "key"))
        self.jrdd.count()

    def write(self):
        self.table, dt = timed(lambda: self.build(self.keys, "xor_art"))
        return self.n_unique, dt

    def read(self):
        n, dt = timed(self.jrdd.count)
        if n != self.n_probe * PROBE_COPIES:
            raise AssertionError(f"probe returned {n} rows, expected {self.n_probe * PROBE_COPIES}")
        return n, dt

    def bytes_per_key(self) -> float:
        m = self.table.metrics
        return m["table_size"] * WIDTH / 8 / m["n_keys"]

    def check(self) -> None:
        from pyspark.sql import functions as F

        t = self.ctx.tally
        r = (
            self.probed.groupBy("nm")
            .agg(F.count("*").alias("n"), F.sum(F.col("is_member").cast("long")).alias("hit"))
            .collect()
        )
        by = {row["nm"]: row for row in r}
        members, nonmembers = by[False], by[True]
        t.check("xor.zero_false_negatives", members["hit"] == members["n"],
                f"{members['n'] - members['hit']} of {members['n']} missed")
        # per probed row: the few keys that recur within a replica barely
        # widen the spread the binomial margin allows for
        fpr = nonmembers["hit"] / nonmembers["n"]
        limit = fpr_limit(2.0**-WIDTH, nonmembers["n"])
        t.check("xor.fpr", fpr <= limit, f"fpr={fpr:.3g} limit={limit:.3g}")
        t.check("xor.partitioning_invariant", shard_bytes(self.table) == shard_bytes(self.repart))

    def layer_split(self) -> None:
        self.build_split()
        self.probe_split()
        self.checkpoint_split()

    def build_split(self) -> None:
        """Digest, exchange, shard kernel and write as cumulative jobs over
        the same keys; each layer is its job's wall minus the previous one."""
        from pyspark.sql import functions as F

        from xorfilter_net_spark.filters.spark_build import (
            SHARD_SCHEMA,
            key_digests_jvm,
            shard_build_kernel,
        )

        tr = self.ctx.tracer
        dig = key_digests_jvm(self.keys, "key")
        shuffled = dig.withColumn(
            "shard", F.pmod(F.col("d0"), F.lit(NUM_SHARDS)).cast("int")
        ).repartition(NUM_SHARDS, "shard")
        kernel = shard_build_kernel(WIDTH, self.ctx.seed, "sqlhash", "in_shard")
        walls = {}
        with tr.span(f"{self.name}.build_split"):
            for name, fn in (
                ("spark_build.digest", lambda: noop(dig)),
                ("spark_build.exchange", lambda: noop(shuffled)),
                ("spark_build.shard_kernel", lambda: noop(
                    shuffled.groupBy("shard").applyInPandas(kernel, SHARD_SCHEMA))),
                ("table.write", lambda: self.build(self.keys, "xor_art")),
            ):
                with tr.span(name):
                    _, walls[name] = timed(fn)
            with tr.span("table.load"):
                self.add_split("table.load_s", timed(self.table.to_sharded)[1])
        prev = 0.0
        for name, wall in walls.items():
            self.add_split(f"{name}_s", wall - prev)
            prev = wall
        self.add_split("table.artifact_bytes", tree_bytes(self.table.path))
        self.add_split("split.write_sum_s", walls["table.write"])

    def probe_split(self) -> None:
        """Scan plus hash, the steady plan, and the one-time set-up of a
        probe over a freshly loaded filter (slot table upload, planning and
        the first execution, which builds the broadcasts)."""
        from xorfilter_net_spark.filters.spark_build import jvm_digest_cols, probe_sql

        tr = self.ctx.tracer
        sxf = self.table.to_sharded()
        with tr.span(f"{self.name}.probe_split"):
            hash_rdd = plan_rdd(self.probe_df.select(*jvm_digest_cols("key")))
            hash_rdd.count()
            with tr.span("spark_build.probe_hash"):
                _, hash_s = timed(hash_rdd.count)
            with tr.span("spark_build.probe_first"):
                jrdd, first_s = timed(lambda: plan_rdd(probe_sql(sxf, self.probe_df, "key")))
                first_s += timed(jrdd.count)[1]
            with tr.span("spark_build.probe_steady"):
                _, steady_s = timed(jrdd.count)
        self.add_split("spark_build.probe_hash_s", hash_s)
        self.add_split("spark_build.probe_join_s", steady_s - hash_s)
        self.add_split("spark_build.probe_broadcast_s", first_s - steady_s)

    def checkpoint_split(self) -> None:
        """A checkpointed build of the keys, a delta of about 3% folded in
        (half of it keys already inserted), the update's own stage timings
        against its wall, and the updated filter checked against a fresh
        build over base and delta."""
        from xorfilter_net_spark.pipeline.checkpoint import (
            artifact_canonical_json,
            build_xor_filter_checkpointed,
            update_xor_filter_checkpointed,
        )

        tr, t, work = self.ctx.tracer, self.ctx.tally, self.ctx.work
        delta = self.persist(
            gen.delta(self.spark, self.docs, self.ctx.seed, self.replicas, self.ctx.partitions)
        )
        rows = delta.count()
        base, upd, fresh = (os.path.join(work, d) for d in ("ck_base", "ck_update", "ck_fresh"))

        def build(df, path):
            shutil.rmtree(path, ignore_errors=True)
            return build_xor_filter_checkpointed(
                df, "key", path, num_shards=NUM_SHARDS, width=WIDTH, seed=self.ctx.seed,
                jvm_digests=True,
            )

        with tr.span("checkpoint.base_build"):
            build(self.keys, base)
        shutil.rmtree(upd, ignore_errors=True)
        with tr.span("checkpoint.update"):
            (updated, m), wall = timed(
                lambda: update_xor_filter_checkpointed(delta, "key", base, upd)
            )
        stages = {s: m[s]["wall_sec"] for s in ("digests", "shards", "filter")}
        for s, v in stages.items():
            self.add_split(f"checkpoint.{s}_s", v)
        self.add_split("checkpoint.other_s", wall - sum(stages.values()))
        self.add_split("checkpoint.update_keys_per_s", rows / wall)
        self.add_split("checkpoint.update_bytes_per_key", tree_bytes(upd) / rows)
        self.add_split("checkpoint.rebuild_ratio",
                       m["update"]["shards_rebuilt"] / m["update"]["shards_total"])
        self.add_split("checkpoint.new_key_ratio", m["digests"]["rows"] / rows)
        with tr.span("checkpoint.fresh_build"):
            rebuilt, _ = build(self.keys.unionByName(delta), fresh)
        t.check(
            "checkpoint.update_equals_fresh_build",
            artifact_canonical_json(updated) == artifact_canonical_json(rebuilt),
        )


class SketchAggregate(Workload):
    """The five sketches in one two-phase pass over key and value, and a
    per-(role, tool) HLL sketch column rolled up to role."""

    name = "sketch_aggregate"
    replicas = 4
    reads_per_write = 1
    aliases = {
        "write_keys_per_s": "sketch_rows_per_s",
        "read_keys_per_s": "rollup_rows_per_s",
    }

    def setup(self) -> None:
        self.df = self.corpus(0, self.replicas, "key", "role", "tool", "value")
        self.rows = self.df.count()
        self.five = FiveSketches(five_sketches(self.rows))

    def warm(self) -> None:
        # start and import every Python worker on a small sample
        full, self.df = self.df, self.df.sample(0.05, seed=1)
        try:
            self.write()
            self.read()
        finally:
            self.df = full

    def write(self):
        from xorfilter_net_spark.sketches.base import aggregate

        self.state, dt = timed(lambda: aggregate(self.df, ["key", "value"], self.five))
        return self.rows, dt

    def rollup(self, states=None):
        from xorfilter_net_spark.sketches.columns import merge_states, partial_states

        hll = self.five.sketches["hll"]
        if states is None:
            states = partial_states(self.df, ["role", "tool"], ["key"], hll)
        return merge_states(states, ["role"], hll)

    def read(self):
        self.rolled, dt = timed(lambda: self.rollup().collect())
        return self.rows, dt

    def bytes_per_key(self) -> float:
        """Serialized state bytes per distinct key (counted by check())."""
        states = sum(len(s.serialize(self.state[n])) for n, s in self.five.sketches.items())
        return states / self.distinct_keys

    def check(self) -> None:
        import numpy as np

        t, sk, st = self.ctx.tally, self.five.sketches, self.state
        rows = self.df.select("key", "role", "value").toPandas()
        counts = rows["key"].value_counts()
        keys = counts.index.to_series(index=None)
        exact = self.distinct_keys = len(counts)
        # HLL against the exact distinct count, overall and per rolled-up role
        hll = sk["hll"]
        est = hll.estimate(st["hll"])
        t.check("hll.error", hll_ok(est, exact, hll.m), f"est={est:.0f} exact={exact}")
        exact_role = rows.groupby("role")["key"].nunique().to_dict()
        for role, blob in self.rolled:
            e = hll.estimate(hll.deserialize(bytes(blob)))
            t.check(f"hll.rollup.{role}", hll_ok(e, exact_role[role], hll.m),
                    f"est={e:.0f} exact={exact_role[role]}")
        # CMS over every distinct key
        ests = sk["cms"].estimate_series(st["cms"], keys)
        ok, detail = cms_ok(ests, counts.to_numpy(), self.rows, sk["cms"].w)
        t.check("cms.bounds", ok, detail)
        # Bloom: every member found; never-inserted keys within the published rate
        bloom = sk["bloom"]
        hit = bloom.contains_series(st["bloom"], keys)
        t.check("bloom.zero_false_negatives", bool(hit.all()), f"{int((~hit).sum())} missed")
        nm = gen.replicated(self.spark, self.docs, self.replicas, 2, self.ctx.partitions)
        nm = nm.select("key").distinct().toPandas()["key"]
        fpr = float(bloom.contains_series(st["bloom"], nm).mean())
        limit = fpr_limit(bloom_fpp(bloom.k, exact, bloom.m), len(nm))
        t.check("bloom.fpr", fpr <= limit, f"fpr={fpr:.4g} limit={limit:.4g}")
        # KLL and t-digest rank error at fixed quantiles
        vals = np.sort(rows["value"].to_numpy())
        for name, eps in (("kll", KLL_EPS), ("tdigest", TDIGEST_EPS)):
            worst = max(
                rank_error(vals, sk[name].quantile(st[name], q), q) for q in QUANTILES
            )
            t.check(f"{name}.rank_error", worst <= eps, f"worst={worst:.4g} eps={eps}")

    def layer_split(self) -> None:
        """Arrow crossing (identity ``mapInPandas``), the key digest, the
        five updates (phase 1 into a noop sink), and the tree merge over
        materialized states; then the rollup's two phases."""
        import pandas as pd

        from xorfilter_net_spark.kernels.column import digest_series
        from xorfilter_net_spark.sketches.columns import partial_states

        tr, five = self.ctx.tracer, self.five
        cols = self.df.select("key", "value")

        def identity(batches):
            yield from batches

        def digest_only(batches):
            for pdf in batches:
                d0, _ = digest_series(pdf["key"])
                yield pd.DataFrame({"d0": d0.view("int64")})

        def partials(batches):
            st, n = five.zero(), 0
            for pdf in batches:
                st = five.update(st, pdf)
                n += len(pdf)
            if n:
                yield pd.DataFrame({"state": [five.serialize(st)]})

        walls = {}
        with tr.span(f"{self.name}.aggregate_split"):
            for name, fn in (
                ("sketches.base.arrow", lambda: noop(cols.mapInPandas(identity, cols.schema))),
                ("kernels.digest", lambda: noop(cols.mapInPandas(digest_only, "d0 long"))),
                ("sketches.base.partials", lambda: noop(
                    cols.mapInPandas(partials, "state binary"))),
            ):
                with tr.span(name):
                    _, walls[name] = timed(fn)
            states = cols.mapInPandas(partials, "state binary").persist()
            states.count()
            with tr.span("sketches.base.tree_merge"):
                rdd = states.rdd.map(lambda r: five.deserialize(bytes(r["state"])))
                _, merge_s = timed(lambda: rdd.treeAggregate(
                    five.zero(), five.merge, five.merge, depth=2))
            states.unpersist()
        self.add_split("sketches.base.arrow_s", walls["sketches.base.arrow"])
        self.add_split("kernels.digest_s",
                       walls["kernels.digest"] - walls["sketches.base.arrow"])
        self.add_split("sketches.base.update_s",
                       walls["sketches.base.partials"] - walls["kernels.digest"])
        self.add_split("sketches.base.partials_s", walls["sketches.base.partials"])
        self.add_split("sketches.base.tree_merge_s", merge_s)
        self.add_split("split.write_sum_s", walls["sketches.base.partials"] + merge_s)

        hll = five.sketches["hll"]
        with tr.span(f"{self.name}.rollup_split"):
            with tr.span("sketches.columns.partial_states"):
                part = partial_states(self.df, ["role", "tool"], ["key"], hll).persist()
                _, ps = timed(part.count)
            with tr.span("sketches.columns.merge_states"):
                _, ms = timed(lambda: self.rollup(part).collect())
            self.add_split("sketches.columns.state_rows", part.count())
            part.unpersist()
        self.add_split("sketches.columns.partial_states_s", ps)
        self.add_split("sketches.columns.merge_states_s", ms)


QUANTILES = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
# KLL k=200: normalized rank error of a single quantile query at 99%
# confidence (Karnin-Lang-Liberty; the DataSketches table gives 1.33%)
KLL_EPS = 0.0133
# t-digest delta=200 with the k1 scale function: a centroid holds at most
# ~pi/delta of the mass near the median, so its rank error stays below
# ~1/delta * pi / 2 there and shrinks toward the tails
TDIGEST_EPS = 0.0080


WORKLOADS = {w.name: w for w in (XorBuildProbe, SketchAggregate)}
