"""Streaming incremental view maintenance — keep a materialized
count/sum aggregate view current under a CDC stream of pre/post-image
change rows (the Materialize / Delta Live Tables "streaming aggregate
over a change feed" shape), exactly once.

Each micro-batch folds into the persisted view through
``pipeline/ivm.py::apply_changes`` — O(batch + touched groups); the base
table behind the feed is NEVER read, or even reachable. The view is
itself versioned on disk (``data_v{n}`` dirs + a ``view.json`` pointer
written LAST via atomic rename — the timetravel commit discipline), and
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

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.ivm import agg_view, apply_changes

__all__ = [
    "stream_maintain_agg_view",
    "init_view",
    "apply_batch",
    "read_view",
    "view_meta",
]

# The versioned store shared by the IVM view and the streaming period
# store (streaming/rolling.py): ``data_v{n}`` parquet dirs plus a
# ``view.json`` pointer {current, applied_batches} written LAST via
# atomic rename. A crash before the pointer flips leaves the old version
# current and the batch unledgered, so its redelivery rewrites
# ``data_v{n+1}`` and commits exactly once.
_META = "view.json"


def view_meta(view_dir: str) -> dict:
    with open(os.path.join(view_dir, _META)) as fh:
        return json.load(fh)


def _data_dir(store_dir: str, version: int) -> str:
    return os.path.join(store_dir, f"data_v{version}")


def _commit(store_dir: str, meta: dict) -> None:
    tmp = os.path.join(store_dir, _META + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, os.path.join(store_dir, _META))


def _init_store(store_dir: str, data: DataFrame) -> None:
    """Version 0 of a store holding ``data``, with an empty ledger."""
    os.makedirs(store_dir, exist_ok=True)
    data.write.mode("overwrite").parquet(_data_dir(store_dir, 0))
    _commit(store_dir, {"current": 0, "applied_batches": []})


def _apply_to_store(
    spark: SparkSession,
    store_dir: str,
    batch_id: int,
    step: Callable[[DataFrame], DataFrame],
) -> dict:
    """Write ``step(current data)`` as the next version and ledger
    ``batch_id`` in the same pointer commit. Replayed batch ids are
    skipped (exactly-once); all but the last two versions are pruned
    after the pointer moves."""
    m = view_meta(store_dir)
    if batch_id in m["applied_batches"]:
        return {"skipped_replay": True, "batch_id": batch_id}
    cur = m["current"]
    step(spark.read.parquet(_data_dir(store_dir, cur))).write.mode(
        "overwrite"
    ).parquet(_data_dir(store_dir, cur + 1))
    _commit(
        store_dir,
        {
            "current": cur + 1,
            "applied_batches": sorted(set(m["applied_batches"]) | {batch_id}),
        },
    )
    for d in os.listdir(store_dir):
        if d.startswith("data_v") and int(d[6:]) < cur:
            shutil.rmtree(os.path.join(store_dir, d), ignore_errors=True)
    return {"batch_id": batch_id, "version": cur + 1}


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The current version of a store (the view, or a period store)."""
    return spark.read.parquet(_data_dir(view_dir, view_meta(view_dir)["current"]))


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

    def for_each(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(
            spark, view_dir, batch_df, batch_id, group_cols, sum_cols
        )

    writer = changes_stream.writeStream.foreachBatch(for_each).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
