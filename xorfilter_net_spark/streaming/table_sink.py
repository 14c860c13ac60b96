"""Streaming MERGE INTO the versioned table — exactly-once upserts.

``writeStream.foreachBatch`` + ``sources/timetravel.py``: each
micro-batch commits one table version, so the stream materializes as a
continuously-upserted keyed snapshot with full history (every
micro-batch is a time-travelable version) — the Delta/Iceberg streaming
MERGE pattern on bare parquet.

Exactly-once: Structured Streaming guarantees at-least-once delivery to
foreachBatch with a MONOTONIC ``batch_id`` that is replayed verbatim
after a crash. The sink records each applied batch_id inside the
version manifest (the same atomic commit point as the data); a replayed
batch_id is recognized and skipped, so retries never double-apply —
idempotence rides the table's own transaction, no side ledger that
could drift from the data. (The replay check and the publish are
commit.py's, as for every other durable writer.)

State story at scale: the sink itself is stateless (dedup of delivery
is by batch_id, not by row), merge cost per micro-batch is
O(delta + touched buckets), and history growth is bounded by
``expire_versions`` maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..commit import ledgered, replayed, run_batches
from ..sources.timetravel import merge_into, read_manifest


def applied_batches(path: str) -> set[int]:
    """Batch ids already folded into the CURRENT version's lineage."""
    m = read_manifest(path)
    return set(m.get("applied_batches", []))


def stream_merge_into(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    deleted_col: str | None = None,
    trigger_once: bool = True,
):
    """Run a streaming MERGE INTO the versioned table at ``path``.

    The table must already exist (``create_table``). Returns the
    streaming query. ``trigger_once`` processes available data and
    stops — the incremental-batch pattern; pass False for continuous
    micro-batches.
    """
    spark = stream_df.sparkSession
    return run_batches(
        stream_df,
        checkpoint_dir,
        lambda df, i: _merge_batch(spark, path, df, i, deleted_col),
        trigger_once,
    )


def _merge_batch(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    deleted_col: str | None,
) -> dict:
    applied = applied_batches(path)
    if replayed(applied, batch_id):
        return {"skipped_replay": True, "batch_id": batch_id}
    info = merge_into(
        spark,
        path,
        batch_df,
        deleted_col=deleted_col,
        extra_meta={"applied_batches": ledgered(applied, batch_id)},
    )
    info["batch_id"] = batch_id
    return info
