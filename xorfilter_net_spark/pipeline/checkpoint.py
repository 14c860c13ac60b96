"""Checkpointed, resumable build pipeline (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

A run directory holds one subdirectory per completed stage::

    <run_dir>/
      digests/            stage output (parquet)
      digests.manifest.json
      shards/             per-shard filter artifacts (parquet)
      shards.manifest.json
      filter.json         final artifact
      filter.manifest.json

Each manifest records the stage fingerprint (params + upstream
fingerprint), wall time, row counts, and per-partition lineage (output
file -> row count, from the parquet footers — no second scan of the
data). A rerun with the same run_dir and fingerprints SKIPS completed
stages and reloads their outputs; changing any parameter invalidates the
stage and everything downstream (fingerprints chain).

Mirrors the reference's determinism contract: a resumed build yields a
bit-identical filter artifact to a fresh one (same seeds, same shard
routing — the construction itself is deterministic, SURVEY.md §3.3).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..filters.spark_build import (
    SHARD_SCHEMA,
    ShardedXorFilter,
    _shard_filter,
    key_digests,
    key_digests_jvm,
    shard_frame,
)


def artifact_canonical_json(sxf: ShardedXorFilter) -> str:
    """Canonical artifact serialization MINUS wall-clock metrics
    (build_sec is a measurement, not part of the filter) — the
    byte-identity contract both checkpoint gates compare against."""
    d = json.loads(json.dumps(sxf.to_dict(), sort_keys=True))
    for shard in d.get("shards", {}).values():
        if isinstance(shard, dict):
            shard.get("metrics", {}).pop("build_sec", None)
    return json.dumps(d, sort_keys=True)


def _fingerprint(d: dict) -> str:
    return json.dumps(d, sort_keys=True, separators=(",", ":"))


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic: a manifest is either absent or complete


def _partition_lineage(spark: SparkSession, parquet_dir: str) -> list[dict]:
    """(file, rows) per output partition, read from parquet footers."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(parquet_dir)):
        if name.startswith("part-") and name.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(parquet_dir, name)).metadata
            out.append({"file": name, "rows": md.num_rows})
    return out


class BuildRun:
    """Stage orchestrator over one run directory."""

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, f"{stage}.manifest.json")

    def _load_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        m = self._load_manifest(stage)
        return m is not None and m.get("fingerprint") == fingerprint

    def dataframe_stage(
        self,
        stage: str,
        fingerprint: str,
        produce: Callable[[], DataFrame],
    ) -> DataFrame:
        """Run-or-reload a stage whose output is a parquet DataFrame."""
        out_dir = os.path.join(self.run_dir, stage)
        m = self._load_manifest(stage)
        if m is not None and m.get("fingerprint") == fingerprint:
            self.metrics[stage] = {**m, "resumed": True}
            return self.spark.read.parquet(out_dir)
        t0 = time.time()
        produce().write.mode("overwrite").parquet(out_dir)
        lineage = _partition_lineage(self.spark, out_dir)
        manifest = {
            "stage": stage,
            "fingerprint": fingerprint,
            "wall_sec": round(time.time() - t0, 3),
            "rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
        }
        _write_manifest(self._manifest_path(stage), manifest)
        self.metrics[stage] = {**manifest, "resumed": False}
        return self.spark.read.parquet(out_dir)

    def json_stage(
        self, stage: str, fingerprint: str, produce: Callable[[], dict]
    ) -> dict:
        """Run-or-reload a stage whose output is a single JSON artifact."""
        out_path = os.path.join(self.run_dir, f"{stage}.json")
        m = self._load_manifest(stage)
        if m is not None and m.get("fingerprint") == fingerprint:
            self.metrics[stage] = {**m, "resumed": True}
            with open(out_path) as f:
                return json.load(f)
        t0 = time.time()
        artifact = produce()
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(artifact, f)
        os.replace(tmp, out_path)
        manifest = {
            "stage": stage,
            "fingerprint": fingerprint,
            "wall_sec": round(time.time() - t0, 3),
        }
        _write_manifest(self._manifest_path(stage), manifest)
        self.metrics[stage] = {**manifest, "resumed": False}
        return artifact


def _assemble(
    shards_df: DataFrame, width, seed, num_shards, digest_kind, addressing
) -> dict:
    """Collected ``SHARD_SCHEMA`` rows -> the filter artifact dict."""
    shards = {
        r["shard"]: _shard_filter(r["meta"], r["slots"]) for r in shards_df.collect()
    }
    return ShardedXorFilter(
        width, seed, shards, num_shards, digest_kind, addressing
    ).to_dict()


def build_xor_filter_checkpointed(
    df: DataFrame,
    key_col: str,
    run_dir: str,
    num_shards: int = 32,
    width: int = 8,
    seed: int = 0,
    input_token: str = "",
    jvm_digests: bool = False,
    addressing: str | None = None,
) -> tuple[ShardedXorFilter, dict]:
    """Checkpointed sharded XOR-filter build.

    Stages: digests (distributed hash+dedup, parquet) -> shards
    (per-shard peel in applyInPandas, parquet of artifacts) -> filter
    (assembled ShardedXorFilter JSON). Returns (filter, stage metrics).

    ``input_token`` should identify the input dataset (e.g. its path +
    snapshot id); it chains into every stage fingerprint.

    ``jvm_digests``/``addressing`` mirror ``build_sharded_filter``:
    the scale path (xxhash64 digests in codegen, sqlhash addressing)
    yields a checkpointed filter that ``probe_sql`` can evaluate with
    zero Python.
    """
    if addressing is None:
        addressing = "sqlhash" if jvm_digests else "digest"
    digest_kind = "xxhash64jvm" if jvm_digests else "murmur"
    digest_fn = key_digests_jvm if jvm_digests else key_digests

    spark = df.sparkSession
    run = BuildRun(spark, run_dir)

    fp_digests = _fingerprint(
        {
            "stage": "digests",
            "key_col": key_col,
            "input": input_token,
            "digest_kind": digest_kind,
        }
    )
    digests = run.dataframe_stage(
        "digests",
        fp_digests,
        lambda: digest_fn(df, key_col).dropDuplicates(["d0", "d1"]),
    )

    fp_shards = _fingerprint(
        {
            "stage": "shards",
            "up": fp_digests,
            "num_shards": num_shards,
            "width": width,
            "seed": seed,
            "addressing": addressing,
            # the shard row format: a run dir written in an older format
            # rebuilds this stage instead of misreading it
            "format": SHARD_SCHEMA,
        }
    )
    shards_df = run.dataframe_stage(
        "shards",
        fp_shards,
        lambda: shard_frame(digests, num_shards, width, seed, addressing),
    )

    fp_filter = _fingerprint({"stage": "filter", "up": fp_shards})
    art = run.json_stage(
        "filter",
        fp_filter,
        lambda: _assemble(
            shards_df, width, seed, num_shards, digest_kind, addressing
        ),
    )
    return ShardedXorFilter.from_dict(art), run.metrics


def _digest_dirs(run_dir: str) -> list[str]:
    """The digest parquet dirs covering a run: its own digests stage plus
    (for update runs) the full ancestor chain, oldest first."""
    chain: list[str] = []
    cur: str | None = run_dir
    seen = set()
    while cur and cur not in seen:
        seen.add(cur)
        meta_p = os.path.join(cur, "update.json")
        chain.append(os.path.join(cur, "digests"))
        if os.path.exists(meta_p):
            with open(meta_p) as f:
                cur = json.load(f).get("base_run_dir")
        else:
            cur = None
    return list(reversed(chain))


def update_xor_filter_checkpointed(
    delta_df: DataFrame,
    key_col: str,
    base_run_dir: str,
    run_dir: str,
    input_token: str = "",
) -> tuple[ShardedXorFilter, dict]:
    """Incremental filter maintenance: fold NEW keys into an existing
    checkpointed build, re-peeling ONLY the shards whose key sets changed.

    The reference's filters are static — any addition means a full rebuild
    of everything (reference README.md:113 "Immutable after construction
    ... rebuild the filter"). At 10^12 keys a full rebuild re-scans and
    re-hashes the whole corpus; this update instead:

      1. digests ONLY the delta (the 100 TB base corpus is never re-read —
         its 16-byte/key digest table from the base run is reused),
      2. anti-joins delta digests against the base digest chain (already-
         member keys drop out),
      3. re-peels only shards that received genuinely-new digests, reading
         the digest chain filtered to those shards,
      4. copies every other shard's artifact verbatim from the base run.

    All build parameters (width, seed, num_shards, digest kind,
    addressing) come from the base run's filter artifact — an update can
    never silently fork the configuration. The result is byte-identical
    to a fresh full build over (base corpus ∪ delta) (asserted in
    tests/test_checkpoint.py): per-shard construction is a pure function
    of the shard's unique digest set.

    Updates chain: ``run_dir`` records its base in ``update.json``, so a
    later update may use this run as ITS base (digest dirs accumulate;
    compact by running a fresh full build when the chain grows long).
    """
    from pyspark.sql import functions as F

    spark = delta_df.sparkSession

    with open(os.path.join(base_run_dir, "filter.json")) as f:
        base_art = json.load(f)
    width = base_art["width"]
    seed = base_art["seed"]
    num_shards = base_art["num_shards"]
    digest_kind = base_art.get("digest_kind", "murmur")
    addressing = base_art.get("mode", "digest")
    digest_fn = key_digests_jvm if digest_kind == "xxhash64jvm" else key_digests

    base_fp = BuildRun(spark, base_run_dir)._load_manifest("shards") or {}
    if json.loads(base_fp.get("fingerprint", "{}")).get("format") != SHARD_SCHEMA:
        raise ValueError(
            f"base run {base_run_dir!r} holds shards in another row format; "
            "rebuild it with build_xor_filter_checkpointed first"
        )

    run = BuildRun(spark, run_dir)
    meta_p = os.path.join(run_dir, "update.json")
    if not os.path.exists(meta_p):
        with open(meta_p, "w") as f:
            json.dump({"base_run_dir": base_run_dir}, f)

    base_digests = spark.read.parquet(*_digest_dirs(base_run_dir))

    fp_digests = _fingerprint(
        {
            "stage": "update_digests",
            "base": base_run_dir,
            "key_col": key_col,
            "input": input_token,
            "digest_kind": digest_kind,
        }
    )
    # this run's digests stage holds ONLY the genuinely-new digests —
    # update cost is O(delta), never O(corpus)
    new_digests = run.dataframe_stage(
        "digests",
        fp_digests,
        lambda: digest_fn(delta_df, key_col)
        .dropDuplicates(["d0", "d1"])
        .join(base_digests, ["d0", "d1"], "left_anti"),
    )

    shard_col = F.pmod(F.col("d0"), F.lit(num_shards)).cast("int")
    affected = sorted(
        r["shard"]
        for r in new_digests.select(shard_col.alias("shard"))
        .distinct()
        .collect()
    )

    fp_shards = _fingerprint(
        {
            "stage": "update_shards",
            "up": fp_digests,
            "base": base_run_dir,
            "num_shards": num_shards,
            "width": width,
            "seed": seed,
            "addressing": addressing,
            "format": SHARD_SCHEMA,
        }
    )

    def produce_shards() -> DataFrame:
        base_shards = spark.read.parquet(os.path.join(base_run_dir, "shards"))
        if not affected:
            return base_shards
        all_digests = spark.read.parquet(
            *_digest_dirs(base_run_dir)
        ).unionAll(new_digests)
        rebuilt = shard_frame(
            all_digests.filter(shard_col.isin([int(s) for s in affected])),
            num_shards, width, seed, addressing,
        )
        kept = base_shards.filter(
            ~F.col("shard").isin([int(s) for s in affected])
        )
        return kept.unionAll(rebuilt)

    shards_df = run.dataframe_stage("shards", fp_shards, produce_shards)

    fp_filter = _fingerprint({"stage": "filter", "up": fp_shards})
    art = run.json_stage(
        "filter",
        fp_filter,
        lambda: _assemble(
            shards_df, width, seed, num_shards, digest_kind, addressing
        ),
    )
    run.metrics["update"] = {
        "shards_rebuilt": len(affected),
        "shards_total": num_shards,
    }
    return ShardedXorFilter.from_dict(art), run.metrics
