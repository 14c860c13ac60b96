"""Keyed snapshot maintenance: MERGE INTO (upsert + delete) with
bucket-pruned rewrites.

The reference's only maintenance story is a whole-corpus rebuild
(README.md:113 "static sets"); an Iceberg-style table at 10^12 turns
needs the opposite: fold a small delta into a huge snapshot touching
only the fraction of storage that actually changes. This module is that
operator on plain partitioned parquet (engine-level MERGE INTO without
requiring a table format):

- the snapshot is hive-partitioned on ``bucket = pmod(xxhash64(key), B)``
  — a pure function of the key, so *every* key's location is known
  without reading anything;
- a merge computes the delta's bucket set (≤B small ints, the only
  driver-side data), reads ONLY those partition dirs (Catalyst partition
  pruning — untouched buckets are never opened), anti-joins the old
  versions of changed keys, unions the upserts, and rewrites ONLY the
  affected bucket dirs via dynamic partition overwrite;
- untouched bucket directories are not read and not rewritten
  (byte-identical files, asserted in tests) — merge cost is
  O(delta + touched-bucket data), not O(snapshot).

This is the same pruned-rewrite discipline Iceberg/Delta MERGE INTO
implements with manifest/file-level stats; hash buckets give it on bare
parquet with zero metadata service. Deletes ride the same path as a
boolean marker column. Write amplification = touched-bucket volume, so
B trades merge cost (bigger B = finer rewrites) against file count;
at 10^12 keys B ~ 10^5 keeps buckets in the GB range.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..commit import publish

BUCKET_COL = "bucket"


def _bucketed(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)).cast(
            "int"
        ),
    )


def write_snapshot(
    df: DataFrame, path: str, key_col: str, n_buckets: int = 64
) -> None:
    """Materialize the initial snapshot, hive-partitioned on the key
    bucket. ``key_col`` must be unique (upstream exact-dedup's job)."""
    _bucketed(df, key_col, n_buckets).write.mode("overwrite").partitionBy(
        BUCKET_COL
    ).parquet(path)
    _write_meta(path, key_col, n_buckets)


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)


def merge_into(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    deleted_col: str | None = None,
) -> dict:
    """MERGE INTO the snapshot at ``path``: rows in ``delta`` replace
    same-key rows (or insert); rows with ``deleted_col`` true drop the
    key. Returns merge metrics (buckets touched / total).

    The rewrite is transactional per partition dir (dynamic partition
    overwrite commits via staging); untouched buckets are never read.
    """
    key_col, n_buckets = _read_meta(path)
    cols = read_snapshot(spark, path).columns

    d = delta.dropDuplicates([key_col])
    d = _bucketed(d, key_col, n_buckets)

    # the only driver-side data: which buckets the delta touches
    touched = sorted(
        r[BUCKET_COL] for r in d.select(BUCKET_COL).distinct().collect()
    )
    if not touched:
        return {"buckets_touched": 0, "n_buckets": n_buckets}

    base = spark.read.parquet(path).filter(
        F.col(BUCKET_COL).isin(touched)  # partition pruning: only these dirs
    )
    survivors = base.join(
        d.select(key_col), on=key_col, how="left_anti"
    ).select(*cols, BUCKET_COL)
    if deleted_col is not None:
        d = d.filter(~F.coalesce(F.col(deleted_col), F.lit(False)))
    upserts = d.select(*cols, BUCKET_COL)

    merged = survivors.unionByName(upserts).repartition(
        max(len(touched) // 4, 1), BUCKET_COL
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # dynamic mode: only partition dirs present in `merged` (exactly
        # the touched buckets) are replaced; all others stay on disk
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {"buckets_touched": len(touched), "n_buckets": n_buckets}


_META = "_upsert_meta.json"


def _write_meta(path: str, key_col: str, n_buckets: int) -> None:
    publish(
        os.path.join(path, _META),
        json.dumps({"key_col": key_col, "n_buckets": n_buckets}),
    )


def _read_meta(path: str) -> tuple[str, int]:
    with open(os.path.join(path, _META)) as f:
        m = json.load(f)
    return m["key_col"], int(m["n_buckets"])
