"""Incremental duplicated-gram index — online ExactSubstr maintenance.

``dedup/spans.py`` recomputes global k-gram counts per run; a corpus
that grows by deltas (the streaming-ingest reality) needs the counts as
a MAINTAINED STATE so each batch costs O(delta):

- the index is a keyed table ``(gram, cnt)`` hive-partitioned on
  ``bucket = pmod(xxhash64(gram), B)`` — same discipline as
  ``sources/upsert.py``: every gram's location is a pure function of
  the gram, so an update partition-prunes to the touched buckets;
- ``update_gram_index`` folds a delta corpus in ADDITIVELY (counts sum
  — unlike upsert's replace): delta gram counts, read ONLY their
  buckets, full-outer sum, dynamic-partition-overwrite those dirs.
  Untouched buckets are never read or written;
- ``spans_against_index`` runs the same hit-join + interval-union
  windows as the batch operator, but against the persisted counts.

Equivalence contract (tested): after indexing slices s0..sn,
``spans_against_index(union, index)`` equals
``duplicated_spans(union)`` row for row — the index IS the batch
operator's gram aggregate, maintained incrementally.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..commit import ledgered, publish, replayed, run_batches
from .spans import _gram_stream

BUCKET_COL = "bucket"
_META = "_gram_index_meta.json"

__all__ = ["create_gram_index", "update_gram_index", "spans_against_index"]


def _gram_counts(docs: DataFrame, id_col: str, text_col: str, k: int):
    return (
        _gram_stream(docs, id_col, text_col, k)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64("gram"), F.lit(n_buckets)).cast("int"),
    )


def create_gram_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    n_buckets: int = 64,
) -> None:
    _bucketed(_gram_counts(docs, id_col, text_col, k), n_buckets).write.mode(
        "overwrite"
    ).partitionBy(BUCKET_COL).parquet(path)
    publish(
        os.path.join(path, _META), json.dumps({"k": k, "n_buckets": n_buckets})
    )


def _meta(path: str) -> dict:
    with open(os.path.join(path, _META)) as f:
        return json.load(f)


def update_gram_index(
    spark: SparkSession,
    path: str,
    delta_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> dict:
    """Fold a delta corpus into the index: O(delta + touched buckets).

    ``batch_id`` (streaming): applied ids are recorded in the meta file
    AFTER the bucket rewrite commits, and a seen id is skipped — so
    micro-batch replays never double-count. (The meta write is the
    ledger's commit point; a crash in the window between data and meta
    would re-apply one batch — closing that window needs versioned
    bucket dirs as in sources/timetravel.py, which is the right
    upgrade path if ingest crash-consistency ever binds.)"""
    meta = _meta(path)
    if replayed(meta.get("applied", []), batch_id):
        return {"skipped_replay": True, "batch_id": batch_id}
    k, n_buckets = int(meta["k"]), int(meta["n_buckets"])
    d = _bucketed(
        _gram_counts(delta_docs, id_col, text_col, k), n_buckets
    ).persist()
    touched = sorted(
        r[BUCKET_COL] for r in d.select(BUCKET_COL).distinct().collect()
    )
    if touched:
        base = spark.read.parquet(path).filter(
            F.col(BUCKET_COL).isin(touched)
        )
        merged = (
            base.select("gram", "cnt", BUCKET_COL)
            .unionByName(d.select("gram", "cnt", BUCKET_COL))
            .groupBy("gram", BUCKET_COL)
            .agg(F.sum("cnt").alias("cnt"))
            .select("gram", "cnt", BUCKET_COL)
            .repartition(max(len(touched) // 4, 1), BUCKET_COL)
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    d.unpersist()
    if batch_id is not None:
        meta["applied"] = ledgered(meta.get("applied", []), batch_id)
        publish(os.path.join(path, _META), json.dumps(meta))
    return {"buckets_touched": len(touched), "n_buckets": n_buckets}


def stream_update_gram_index(
    stream_docs: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = True,
):
    """Streaming ingest into the gram index: one additive bucket-pruned
    update per micro-batch, replayed batch ids skipped via the meta
    ledger — the online-ExactSubstr ingest path."""
    spark = stream_docs.sparkSession
    return run_batches(
        stream_docs,
        checkpoint_dir,
        lambda df, i: update_gram_index(spark, path, df, id_col, text_col, i),
        trigger_once,
    )


def spans_against_index(
    docs: DataFrame,
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Maximal spans of ``docs`` whose k-grams reach ``min_count`` in
    the INDEX — same hit-join + interval-union as the batch operator."""
    k = int(_meta(path)["k"])
    grams = _gram_stream(docs, id_col, text_col, k)
    dup = (
        spark.read.parquet(path)
        .filter(F.col("cnt") >= min_count)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select(id_col, "pos")
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    new_span = (
        F.when(F.col("pos") <= F.max("pos").over(w_prev) + (k - 1), 0)
        .otherwise(1)
    )
    return (
        hits.withColumn("__n", new_span)
        .withColumn("__island", F.sum("__n").over(w_cum))
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )
