"""Distributed static-filter construction and probing over Spark DataFrames.

One family-agnostic layer for the XOR, binary fuse and ribbon filters
(SURVEY.md §3.1, re-architecting ``BaseXorFilter.cs`` ctor for a
1000-executor cluster). Two regimes:

global (``build_filter``)
    mapInPandas: vectorized 128-bit murmur key digests (Arrow batches,
    NumPy lanes — no per-row Python) -> dropDuplicates on (d0, d1) ->
    driver peel (or ribbon solve) over 16-byte digests only (O(n_unique),
    the one intentionally non-distributed stage — SURVEY §7 D4). The
    murmur digests keep the artifact byte-identical to the local cores.

sharded (``build_sharded_filter`` and every sharded build built on
``shard_frame``)
    JVM ``xxhash64`` digests in whole-stage codegen (``key_digests_jvm``;
    no Python worker sees a raw key) -> ONE exchange on the shard id
    ``pmod(d0, num_shards)`` -> one independent filter per shard, peeled
    inside ``applyInPandas`` with 'sqlhash' slot addressing. NOTE on
    skew: shards are routed by a digest lane, uniform by construction,
    so no hot key can skew the exchange — hashing IS the salt.
    Construction is embarrassingly parallel and merge-free.

Every ``ShardedFilter`` is of that one lane (JVM digests, 'sqlhash'
addressing) by construction: it is built here or loaded from a filter
table (``table.XorFilterTable.to_sharded``), the one on-disk form of a
sharded filter. Its dict form is only the broadcast payload.

Probes: ``is_member`` (broadcast Arrow probe of any filter) and
``probe_sql`` (zero-Python codegen probe of a sharded filter); a
persisted table artifact is probed shard-cogrouped
(``table.XorFilterTable.probe``). The sharded layer reaches a family
(XOR, fuse) only through the hook in its core module: ``probe_params``
(per-shard parameters from an artifact's meta) and ``slot_index`` (the
vectorized three-slot addressing); its SQL counterparts live in
``_SQL_FAMILIES`` below.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels.column import digest_series as _digest_batch
from ..kernels.column import series_to_bytes as _series_to_bytes
from ..sources.session import task_slots
from . import fuse_core, xor_core
from .fuse_core import FuseFilter, build_fuse_from_digests
from .ribbon import RibbonFilter, build_ribbon_from_digests
from .xor_core import FP_SEED_SIGNED, XorFilter, build_from_digests, fingerprint

__all__ = [
    "key_digests",
    "key_digests_jvm",
    "build_filter",
    "is_member",
    "probe",
    "probe_sql",
    "ShardedFilter",
    "build_sharded_filter",
    "shard_frame",
]

# artifact ``kind`` -> (filter class, build from digests, sharded-layer hook
# module). A missing ``kind`` means XOR; ribbon has only the global path.
_FAMILIES = {
    "xor": (XorFilter, build_from_digests, xor_core),
    "fuse3": (FuseFilter, build_fuse_from_digests, fuse_core),
    "ribbon64": (RibbonFilter, build_ribbon_from_digests, None),
}


def _u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64).view(np.uint64)


def key_digests(df: DataFrame, key_col: str) -> DataFrame:
    """(d0, d1) uint64 digests (bit-cast into longs) for every row's key."""

    def fn(batches):
        for pdf in batches:
            d0, d1 = _digest_batch(pdf[key_col])
            yield pd.DataFrame(
                {"d0": d0.view(np.int64), "d1": d1.view(np.int64)}
            )

    return df.select(F.col(key_col).alias(key_col)).mapInPandas(
        fn, schema="d0 long, d1 long"
    )


# second-lane salt: a fixed extra hash input makes xxhash64(key, salt) an
# independent 64-bit lane from xxhash64(key)
_JVM_D1_SALT = -7046029254386353131


def jvm_digest_cols(key: Column | str) -> tuple[Column, Column]:
    c = F.col(key) if isinstance(key, str) else key
    return F.xxhash64(c), F.xxhash64(c, F.lit(_JVM_D1_SALT))


def key_digests_jvm(df: DataFrame, key_col: str) -> DataFrame:
    """(d0, d1) digest columns computed ENTIRELY JVM-side (xxhash64 in
    whole-stage codegen). The scale path: no Python worker touches the
    (possibly long) key strings; only 16 bytes/row ever cross into Arrow
    when a downstream pandas stage needs them. Digest quality is
    equivalent for slot addressing — xor_core mixes every lane through
    splitmix64 anyway."""
    d0, d1 = jvm_digest_cols(key_col)
    return df.select(d0.alias("d0"), d1.alias("d1"))


def build_filter(
    df: DataFrame, key_col: str, width: int = 8, seed: int = 0, kind: str = "xor"
):
    """Global filter of family ``kind``: distributed digest+dedup, driver
    peel or solve (SURVEY §3.1)."""
    uniq = key_digests(df, key_col).dropDuplicates(["d0", "d1"])
    pdf = uniq.toPandas()  # 16 bytes per *unique* key — the only collect
    build = _FAMILIES[kind][1]
    return build(_u64(pdf["d0"]), _u64(pdf["d1"]), width=width, seed=seed)


def _decode(art: dict):
    """Artifact dict -> filter object, dispatching on its ``kind``."""
    if "shards" in art:
        return ShardedFilter.from_dict(art)
    return _FAMILIES[art.get("kind", "xor")][0].from_dict(art)


def _shard_filter(meta_json: str, slots: bytes):
    """One ``SHARD_SCHEMA`` row (meta JSON, slot bytes) -> filter object."""
    d = json.loads(meta_json)
    return _FAMILIES[d.get("kind", "xor")][0].from_dict(d, slots)


_DECODED: dict[int, tuple[object, object]] = {}


def _decoded(art: dict):
    """Per-worker decode cache keyed by the broadcast value's identity;
    holds a few artifacts so a plan probing several filters does not
    decode on every batch."""
    k = id(art)
    hit = _DECODED.get(k)
    if hit is None or hit[0] is not art:
        if len(_DECODED) >= 4:
            _DECODED.pop(next(iter(_DECODED)))
        _DECODED[k] = hit = (art, _decode(art))
    return hit[1]


def is_member(spark: SparkSession, f, col: Column | str) -> Column:
    """Vectorized membership probe column against a broadcast filter: any
    family, global or sharded.

    ``fingerprint(key) == slots[h0]^slots[h1]^slots[h2]``
    (BaseXorFilter.cs:98-108) over Arrow batches; the slot table ships to
    executors once via ``SparkContext.broadcast``. For a sharded filter
    the (d0, d1) digests are computed in whole-stage codegen and only two
    int64 columns cross the Arrow boundary; a global filter re-digests
    the raw keys with the Python kernel, or, in XOR ``mode='exact'``,
    hashes the key bytes themselves.
    """
    bc = spark.sparkContext.broadcast(f.to_dict())

    if isinstance(f, ShardedFilter):

        @pandas_udf("boolean")
        def _probe_jvm(d0: pd.Series, d1: pd.Series) -> pd.Series:
            g = _decoded(bc.value)
            return pd.Series(g.contains_digests(_u64(d0), _u64(d1)))

        return _probe_jvm(*jvm_digest_cols(col))

    @pandas_udf("boolean")
    def _probe(s: pd.Series) -> pd.Series:
        g = _decoded(bc.value)
        if getattr(g, "mode", "digest") == "exact":
            return pd.Series(g.contains_bytes(_series_to_bytes(s)))
        return pd.Series(g.contains_digests(*_digest_batch(s)))

    return _probe(F.col(col) if isinstance(col, str) else col)


def probe(df: DataFrame, f, key_col: str, out: str = "is_member") -> DataFrame:
    return df.withColumn(out, is_member(df.sparkSession, f, key_col))


class ShardedFilter:
    """A bank of independent filters of one family addressed by digest shard.

    Scale path for key sets whose unique-digest array exceeds driver
    memory: every shard is built executor-side in applyInPandas; no global
    peel, no driver collect of keys. Shard routing: ``d0 % num_shards``
    (uniform — d0 is a hash lane). The digests are JVM ``xxhash64``
    (``key_digests_jvm``) and every shard uses 'sqlhash' slot addressing,
    so ``probe_sql`` can recompute both inside codegen.
    """

    def __init__(
        self, width: int, seed: int, shards: dict, num_shards: int, kind: str = "xor"
    ):
        self.width = width
        self.seed = seed
        self.shards = shards
        # routing modulus = the build-time shard count, NOT len(shards):
        # shards that received no keys are simply absent (probe -> False)
        self.num_shards = num_shards
        self.kind = kind  # filter family of every shard ('xor' | 'fuse3')

    @staticmethod
    def route(d0: np.ndarray, num_shards: int) -> np.ndarray:
        """pmod on the int64 bit-cast — matches Spark's F.pmod at build time
        for any shard count (uint64 % differs when num_shards is not a
        power of two)."""
        s = d0.view(np.int64) % np.int64(num_shards)
        return np.where(s < 0, s + num_shards, s)

    def _flat(self) -> dict:
        """Flattened probe tables: every shard's slot array concatenated,
        plus per-shard lookup arrays stacked over shard ids
        0..num_shards-1 — the family hook's ``probe_params``, the shard's
        offset into the concatenated slots, and a present flag. Keyless
        shards take the family's 3-slot stand-in at offset 0, so their
        indexes stay in bounds; ``present`` masks their answers to False.
        Lets the probe be ONE vectorized pass with per-row gathers — no
        per-shard Python loop (which would cost O(num_shards x batch)
        masking per Arrow batch)."""
        fl = getattr(self, "_flat_cache", None)
        if fl is None:
            cls, _, hook = _FAMILIES[self.kind]
            ns = self.num_shards
            metas = {s: vars(f) for s, f in self.shards.items()}
            per = [hook.probe_params(metas.get(s, cls.ABSENT_META)) for s in range(ns)]
            present = np.zeros(ns, dtype=bool)
            sizes = np.zeros(ns, dtype=np.int64)
            for sid, f in self.shards.items():
                present[sid], sizes[sid] = True, f.size
            parts = [self.shards[s].slots for s in sorted(self.shards)]
            fl = self._flat_cache = {
                "params": {k: np.stack([p[k] for p in per]) for k in per[0]},
                "offsets": np.where(present, np.cumsum(sizes) - sizes, 0),
                "present": present,
                "slots": np.concatenate(parts) if parts else np.zeros(3, np.uint8),
            }
        return fl

    def contains_digests(self, d0: np.ndarray, d1: np.ndarray) -> np.ndarray:
        fl = self._flat()
        shard = self.route(d0, self.num_shards)
        p = {k: v[shard] for k, v in fl["params"].items()}
        idx = _FAMILIES[self.kind][2].slot_index(d0, p, "sqlhash")
        idx += fl["offsets"][shard, None]
        slots = fl["slots"]
        acc = (
            slots[idx[:, 0]].astype(np.uint64)
            ^ slots[idx[:, 1]].astype(np.uint64)
            ^ slots[idx[:, 2]].astype(np.uint64)
        )
        fp = fingerprint(d1, self.width, "sqlhash")
        return (acc == fp) & fl["present"][shard]

    def to_dict(self) -> dict:
        return {
            "kind": self.kind,
            "width": self.width,
            "seed": self.seed,
            "num_shards": self.num_shards,
            "shards": {str(k): v.to_dict() for k, v in self.shards.items()},
        }

    @classmethod
    def from_dict(cls, d: dict) -> "ShardedFilter":
        """The inverse of ``to_dict`` (the broadcast payload)."""
        fcls = _FAMILIES[d["kind"]][0]
        shards = {int(k): fcls.from_dict(v) for k, v in d["shards"].items()}
        return cls(d["width"], d["seed"], shards, d["num_shards"], d["kind"])

    @property
    def metrics(self) -> dict:
        s = _shard_summary(f.meta() for f in self.shards.values())
        return {
            "num_shards": self.num_shards,
            **s,
            "bits_per_key": s["table_size"] * self.width / max(s["n_keys"], 1),
        }


def _shard_summary(metas) -> dict:
    """n_keys, table_size and max_attempts over shard metas (the
    ``filter.meta()`` dicts a ``SHARD_SCHEMA`` row carries as JSON)."""
    metas = list(metas)
    return {
        "n_keys": sum(m["metrics"].get("n_keys", 0) for m in metas),
        "table_size": sum(m["size"] for m in metas),
        "max_attempts": max((m.get("attempts", 1) for m in metas), default=0),
    }


def _dedup_digests(d0: np.ndarray, d1: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Unique (d0, d1) pairs via lexsort + consecutive-equal mask."""
    order = np.lexsort((d1, d0))
    d0s, d1s = d0[order], d1[order]
    keep = np.empty(d0s.shape[0], dtype=bool)
    keep[:1] = True
    keep[1:] = (d0s[1:] != d0s[:-1]) | (d1s[1:] != d1s[:-1])
    return d0s[keep], d1s[keep]


# one row per built shard: meta JSON (``filter.meta()``) and the slot table
# as Arrow-native binary — collecting/writing the artifact moves zero-copy
# batches, not 2-bytes-per-char hex through py4j rows
SHARD_SCHEMA = "shard int, meta string, slots binary"


def shard_build_kernel(
    width: int, seed: int, addressing: str, dedup: str, kind: str = "xor"
):
    """applyInPandas kernel: one (d0, d1, shard) group -> one
    ``SHARD_SCHEMA`` row. Every sharded build (collected, table,
    checkpointed) runs it, so all produce bit-identical shards. The row
    is a pure function of the shard's unique digest SET, so a shard
    rebuilt from any ordering or partitioning of the same digests (the
    checkpointed update) is byte-identical.

    Duplicates share d0, hence a shard, so the kernel dedups each shard
    locally (lexsort mask) before peeling. ``addressing`` and ``dedup``
    name the one lane ('sqlhash', 'in_shard') and take no other value."""
    # kept only because the benchmark passes them; the next benchmark change drops them
    if (addressing, dedup) != ("sqlhash", "in_shard"):
        raise ValueError(
            "sharded filters use 'sqlhash' addressing and in-shard dedup only "
            f"(got {addressing!r}, {dedup!r})"
        )
    build = _FAMILIES[kind][1]

    def build_one(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["shard"].iloc[0])
        # lexsorted unique (d0, d1) — the canonical order the build kernel
        # would otherwise re-derive, so it can skip its sort
        d0, d1 = _dedup_digests(_u64(pdf["d0"]), _u64(pdf["d1"]))
        # per-shard deterministic seed => rebuild-stable across runs
        f = build(
            d0, d1, width=width, seed=seed ^ (sid * 0x9E37), mode="sqlhash",
            assume_unique=True,
        )
        return pd.DataFrame(
            {"shard": [sid], "meta": [json.dumps(f.meta())], "slots": [f.slots.tobytes()]}
        )

    return build_one


def shard_frame(
    dig: DataFrame, num_shards: int, width: int, seed: int, kind: str = "xor"
) -> DataFrame:
    """(d0, d1) digest rows -> one ``SHARD_SCHEMA`` row per non-empty
    shard, after one shuffle (``_shard_exchange``)."""
    kernel = shard_build_kernel(width, seed, "sqlhash", "in_shard", kind)
    return (
        _shard_exchange(dig, num_shards)
        .groupBy("shard")
        .applyInPandas(kernel, schema=SHARD_SCHEMA)
    )


def _shard_exchange(dig: DataFrame, num_shards: int) -> DataFrame:
    """(d0, d1) digest rows -> (d0, d1, shard) rows after the build's one
    exchange: shard ``s`` goes to task ``s mod T``, with
    ``T = min(num_shards, task_slots)`` (``sources.session.task_slots``:
    ``max(sc.defaultParallelism, spark.sql.shuffle.partitions // 2)``),
    so the peel runs as one wave with one Python runner per core, each
    building ceil(num_shards / T) shards one group at a time.

    One wave, not the 2x-cores shuffle partitions the session sets for
    other stages: each Python task pays a fixed set-up cost whatever it
    holds, and it is paid per task, not per worker process (reused
    workers pay it again). ``pyspark.worker`` calls
    ``worker_util.setup_spark_files`` for every task, which ends in
    ``importlib.invalidate_caches()``; on CPython 3.11 that re-reads the
    central directory of ``pyspark.zip`` once per zipimporter on
    ``sys.path`` (3.12 re-reads lazily). The event log reports it as the
    task metric ``time to initialize Python workers``: 0.19-0.81 s per
    task on a 4-core host, against a shard kernel of ~1 us/key. Shards are
    routed by a hash lane, so every task gets the same number of shards
    holding about the same number of keys (``s mod T`` keeps that count
    exact; a hash of the shard ids would not), and a second wave does not
    balance load the first lacks. It does not guard against a slow node
    or a lost task either: that task holds 1/T of the build. The
    exchange's partitioning is the grouping key itself, so the groupBy
    adds no second exchange. The count is explicit, so AQE does not
    coalesce the stage: it would size the reduce side by shuffle BYTES
    (~64MB advisory), but the peel is CPU-heavy per byte, and byte-sized
    coalescing starves it of cores (measured 1.5x construction slowdown
    at local[8]). The one-wave gain was measured on ``local[4]`` only,
    not on a cluster."""
    tasks = min(num_shards, task_slots(dig.sparkSession))
    return dig.withColumn(
        "shard", F.pmod(F.col("d0"), F.lit(num_shards)).cast("int")
    ).repartitionById(tasks, "shard")


def build_sharded_filter(
    df: DataFrame,
    key_col: str,
    num_shards: int = 32,
    width: int = 8,
    seed: int = 0,
    kind: str = "xor",
) -> ShardedFilter:
    """Sharded filter of family ``kind`` (see ``shard_frame``) over JVM
    xxhash64 digests with 'sqlhash' slot addressing, collected to the
    driver; probe it with ``is_member`` or, with zero Python,
    ``probe_sql``."""
    rows = shard_frame(key_digests_jvm(df, key_col), num_shards, width, seed, kind)
    shards = {
        int(r.shard): _shard_filter(r.meta, r.slots)
        for r in rows.toPandas().itertuples(index=False)
    }
    return ShardedFilter(width, seed, shards, num_shards, kind)


def probe_sql(
    sxf: ShardedFilter,
    df: DataFrame,
    key_col: str,
    out_col: str = "is_member",
) -> DataFrame:
    """Zero-Python membership probe, fully inside whole-stage codegen.

    Every ``ShardedFilter`` qualifies: its digests are ``xxhash64`` of
    the key and its addressing mode is 'sqlhash' (slot mixing is
    ``xxhash64(d0, seed_j)`` — the exact builtin the JVM can recompute).
    The plan is: per-row shard parameters from a small broadcast table,
    three slot indexes computed with ANSI-safe long arithmetic (the
    family's ``_SQL_FAMILIES`` entry), then three BROADCAST hash joins
    against the flattened slot table. No Arrow boundary, no Python
    workers — probe throughput is whatever the scan + codegen can
    sustain, and on a cluster it scales with executors (the slot table
    broadcasts once).

    Reuse note: Spark caches each BroadcastExchange's hash relation per
    physical-plan *instance*, so keep and reuse the returned DataFrame
    (or a derived plan) across actions — re-calling ``probe_sql`` per
    action rebuilds the three slot-table broadcasts serially each time.
    Sizing note: the broadcast carries two longs per slot plus the hash
    relation. For filters beyond broadcastable size (≈10^8+ slots) use
    ``is_member``, or persist the filter as a table
    (``table.build_xor_filter_table``) and probe it shard-cogrouped with
    ``XorFilterTable.probe``.
    """
    params_df, slots_df = _probe_frames(df.sparkSession, sxf)
    t = _T

    # stage 1: digests + shard id as materialized columns (join keys)
    d0, d1 = jvm_digest_cols(key_col)
    base = df.withColumns({f"{t}d0": d0, f"{t}d1": d1}).withColumn(
        f"{t}sh", F.pmod(F.col(f"{t}d0"), F.lit(sxf.num_shards)).cast("int")
    )

    # stage 2: per-shard parameters via a tiny (num_shards-row) broadcast
    # join. Parameters as COLUMNS keep the slot-index expressions small —
    # num_shards-sized literal arrays inline into every expression copy
    # and blow past codegen's method-size limits, demoting the whole
    # stage to interpreted evaluation (~100x slower).
    base = _SQL_FAMILIES[sxf.kind][1](base.join(F.broadcast(params_df), f"{t}sh"))
    base = base.withColumn(
        f"{t}fp",
        F.xxhash64(F.col(f"{t}d1"), F.lit(FP_SEED_SIGNED)).bitwiseAND(
            F.lit((1 << sxf.width) - 1)
        ),
    )
    # prune before the joins: the digests, shard id and the parameter
    # columns are dead past this point
    base = base.select(
        *df.columns,
        *[f"{t}i{j}" for j in range(3)],
        f"{t}fp",
        f"{t}pres",
    )

    # stage 3: three name-based broadcast hash joins against the
    # flattened slot table (one-time hash-relation build per plan; reuse
    # the returned DataFrame across actions, see note above)
    for j in range(3):
        sj = slots_df.select(
            F.col("sidx").alias(f"{t}i{j}"), F.col("sval").alias(f"{t}v{j}")
        )
        base = base.join(F.broadcast(sj), f"{t}i{j}")
    member = (
        F.col(f"{t}v0")
        .bitwiseXOR(F.col(f"{t}v1"))
        .bitwiseXOR(F.col(f"{t}v2"))
        == F.col(f"{t}fp")
    ) & F.col(f"{t}pres")
    return base.withColumn(out_col, member).select(*df.columns, out_col)


_T = "__xorsql_"  # prefix of the probe plan's internal columns


def _u64mod(x: Column, w: Column, c: Column) -> Column:
    """Unsigned ``x mod w`` of a signed long: the kernel reduces the uint64
    mix by the block width, and ``u64 mod w = pmod(pmod(x, w) + (2^64 mod
    w), w)`` when ``x < 0``; ``c`` holds the precomputed ``2^64 mod w``."""
    return F.when(x >= 0, F.pmod(x, w)).otherwise(F.pmod(F.pmod(x, w) + c, w))


def _xor_sql_params(p: dict, offsets: np.ndarray) -> dict:
    """Flat-table block offsets (slot offset + block start folded
    together), attempt seeds, block widths and ``2^64 mod w``."""
    cols = {}
    for j in range(3):
        cols[f"off{j}"] = offsets + p["starts"][:, j]
        cols[f"sd{j}"] = p["seeds"][:, j].view(np.int64)
        cols[f"w{j}"] = p["widths"][:, j].view(np.int64)
        cols[f"c{j}"] = np.array(
            [(1 << 64) % int(w) for w in p["widths"][:, j]], dtype=np.int64
        )
    return cols


def _xor_sql_index(base: DataFrame) -> DataFrame:
    c = lambda n: F.col(_T + n)  # noqa: E731
    return base.withColumns(
        {
            f"{_T}i{j}": c(f"off{j}")
            + _u64mod(F.xxhash64(c("d0"), c(f"sd{j}")), c(f"w{j}"), c(f"c{j}"))
            for j in range(3)
        }
    )


def _fuse_sql_params(p: dict, offsets: np.ndarray) -> dict:
    """Flat-table offset, attempt seed (signed view), segment count,
    segment length and its power-of-two mask."""
    sl = p["segment_length"].view(np.int64)
    return {
        "off": offsets,
        "sd": p["seed"].view(np.int64),
        "sc": p["segment_count"].view(np.int64),
        "sl": sl,
        "slm": sl - 1,
    }


def _fuse_sql_index(base: DataFrame) -> DataFrame:
    """Fuse addressing is *simpler* in SQL than XOR's: the window segment
    is fastrange on the high 32 bits (no unsigned-mod correction) and
    in-segment offsets are power-of-two masks. The three slots live in
    consecutive segments, preserving the paper's locality argument even
    through the join's hash relation (arXiv:2201.01174 §3)."""
    c = lambda n: F.col(_T + n)  # noqa: E731
    # h = xxhash64(d0, seed): the one hash every slot index derives from
    base = base.withColumn(f"{_T}h", F.xxhash64(c("d0"), c("sd")))
    q = F.shiftright(F.shiftrightunsigned(c("h"), 32) * c("sc"), 32)
    return base.withColumns(
        {
            # the lane literal MUST be a long: xxhash64 of an int column
            # takes Spark's 4-byte hashInt path, not the hashLong the
            # NumPy build kernel replicates
            f"{_T}i{j}": c("off")
            + (q + F.lit(j)) * c("sl")
            + F.xxhash64(c("h"), F.lit(j + 1).cast("long")).bitwiseAND(c("slm"))
            for j in range(3)
        }
    )


# SQL counterpart of each family's hook: per-shard parameter columns from
# the stacked ``probe_params``, and the three slot-index columns over them
_SQL_FAMILIES = {
    "xor": (_xor_sql_params, _xor_sql_index),
    "fuse3": (_fuse_sql_params, _fuse_sql_index),
}


def _probe_frames(spark: SparkSession, sxf: ShardedFilter) -> tuple:
    """(per-shard probe parameters, (sidx, sval) over the flattened slot
    table) DataFrames of a sharded filter, cached per (session, artifact) so
    repeated probes reuse one Arrow upload.

    The slot frame is persisted + materialized: a BroadcastExchange over
    a LocalTableScan re-converts all the Arrow rows single-threaded on
    EVERY new query plan; over the in-memory columnar cache the rebuild
    is a parallel cached scan + the (serial) hash-relation insert only."""
    cached = getattr(sxf, "_probe_frames_cache", None)
    if cached is not None and cached[0] is spark:
        return cached[1]
    fl = sxf._flat()
    cols = _SQL_FAMILIES[sxf.kind][0](fl["params"], fl["offsets"])
    params_df = spark.createDataFrame(
        pd.DataFrame(
            {
                f"{_T}sh": np.arange(sxf.num_shards, dtype=np.int32),
                **{_T + k: v for k, v in cols.items()},
                f"{_T}pres": fl["present"],
            }
        )
    )
    pdf = pd.DataFrame(
        {
            "sidx": np.arange(fl["slots"].shape[0], dtype=np.int64),
            "sval": fl["slots"].astype(np.int64),
        }
    )
    n_part = max(4, fl["slots"].shape[0] // 2_000_000)
    slots_df = spark.createDataFrame(pdf).repartition(n_part).persist()
    slots_df.count()
    sxf._probe_frames_cache = (spark, (params_df, slots_df))
    return params_df, slots_df


# the XOR name of the sharded filter, kept for callers that load XOR artifacts
ShardedXorFilter = ShardedFilter
