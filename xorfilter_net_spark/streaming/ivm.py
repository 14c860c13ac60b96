"""Streaming incremental view maintenance — keep a materialized
count/sum aggregate view current under a CDC stream of pre/post-image
change rows (the Materialize / Delta Live Tables "streaming aggregate
over a change feed" shape), exactly once.

Each micro-batch folds into the persisted view through
``pipeline/ivm.py::apply_changes`` — O(batch + touched groups); the base
table behind the feed is NEVER read, or even reachable. The view is
itself versioned on disk (``data_v{n}`` dirs + a ``view.json`` pointer
published LAST — commit.py's ``VersionedStore``), and
the applied-batch ledger lives INSIDE that pointer, so a replayed
``foreachBatch`` id (Structured Streaming redelivers after crashes)
skips without double-applying: idempotence rides the view's own commit,
no side state that could drift (same device as streaming/table_sink.py).

State story at scale: per-batch work is delta-sized, the view is
group-cardinality-sized, history is pruned to the last two versions
(crash-safe: the pointer flips only after the new version is fully
written). Sum columns should be integers — maintenance never recomputes,
so float retraction drift would accumulate (see pipeline/ivm.py).

No reference counterpart (beyond-reference streaming/warehouse family).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..commit import VersionedStore, ledgered, replayed, run_batches
from ..pipeline.ivm import agg_view, apply_changes

__all__ = [
    "stream_maintain_agg_view",
    "init_view",
    "apply_batch",
    "read_view",
    "view_meta",
]


def _store(store_dir: str) -> VersionedStore:
    """The store shared by the IVM view and the streaming period store
    (streaming/rolling.py): ``data_v{n}`` parquet dirs plus a ``view.json``
    pointer {current, applied_batches}."""
    return VersionedStore(store_dir, "view.json", "data_v{}".format)


def view_meta(view_dir: str) -> dict:
    return _store(view_dir).meta()


def _init_store(store_dir: str, data: DataFrame) -> None:
    """Version 0 of a store holding ``data``, with an empty ledger."""
    _store(store_dir).commit(
        {"current": -1, "applied_batches": []},
        data.write.mode("overwrite").parquet,
    )


def _apply_to_store(
    spark: SparkSession,
    store_dir: str,
    batch_id: int,
    step: Callable[[DataFrame], DataFrame],
) -> dict:
    """Write ``step(current data)`` as the next version and ledger
    ``batch_id`` in the same pointer commit. Replayed batch ids are
    skipped (exactly-once)."""
    store = _store(store_dir)
    m = store.meta()
    if replayed(m["applied_batches"], batch_id):
        return {"skipped_replay": True, "batch_id": batch_id}
    data = step(spark.read.parquet(store.path(m["current"])))
    version = store.commit(
        m,
        data.write.mode("overwrite").parquet,
        applied_batches=ledgered(m["applied_batches"], batch_id),
    )
    return {"batch_id": batch_id, "version": version}


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The current version of a store (the view, or a period store)."""
    store = _store(view_dir)
    return spark.read.parquet(store.path(store.meta()["current"]))


def init_view(
    base: DataFrame, view_dir: str, group_cols: list[str], sum_cols: list[str]
) -> None:
    """Materialize the view's initial state (version 0) from a base
    snapshot (may be an empty frame for a from-scratch stream)."""
    _init_store(view_dir, agg_view(base, group_cols, sum_cols))


def apply_batch(
    spark: SparkSession,
    view_dir: str,
    changes: DataFrame,
    batch_id: int,
    group_cols: list[str],
    sum_cols: list[str],
) -> dict:
    """Fold one change micro-batch into the persisted view. Replayed
    batch ids are skipped (exactly-once)."""
    return _apply_to_store(
        spark, view_dir, batch_id,
        lambda view: apply_changes(view, changes, group_cols, sum_cols),
    )


def stream_maintain_agg_view(
    changes_stream: DataFrame,
    view_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    sum_cols: list[str],
    trigger_once: bool = True,
):
    """Attach the maintainer to a streaming DataFrame of change rows
    (must carry ``change_type`` in insert / delete / update_preimage /
    update_postimage — e.g. a CDC topic or
    ``table_changes(images='pre_post')`` slices). The view must already
    be initialized (``init_view``). Returns the streaming query."""
    spark = changes_stream.sparkSession
    return run_batches(
        changes_stream,
        checkpoint_dir,
        lambda df, i: apply_batch(spark, view_dir, df, i, group_cols, sum_cols),
        trigger_once,
    )
