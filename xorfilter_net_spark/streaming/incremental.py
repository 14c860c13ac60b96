"""Structured-Streaming incremental sketch maintenance.

The sketch family is mergeable by contract (sketches/base.py), which is
exactly what incremental streaming needs: each micro-batch folds into a
partial state with the SAME two-phase aggregate used in batch mode, and
the partial merges into a persisted accumulator. Merge associativity
guarantees stream-result == batch-result over the same rows — asserted
by tests/test_streaming.py.

Shape::

    readStream -> foreachBatch(
        batch -> aggregate(batch, cols, sketch)         # executor-parallel
              -> write <state_dir>/state_v{n+1}.bin     # driver, tiny
              -> publish meta.json (version + ledger)   # commit.py
    )

The meta publish is the one commit point (commit.py's
``VersionedStore``): it names the state version and carries the batch
ledger, so state and ledger can never disagree. A
crash before it leaves the previous version current and the batch
unapplied; the redelivered batch then merges exactly once (each
micro-batch id is recorded and re-application of an already-merged
batch is skipped). Spark's own checkpointLocation handles source
offsets, giving end-to-end exactly-once state updates even for
non-idempotent merges (CMS, count-sketch, moments).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

from ..commit import VersionedStore, publish, replayed, run_batches
from ..sketches.base import MergeableSketch, aggregate


class SketchAccumulator:
    """Persisted sketch state + batch lineage under ``state_dir``: a
    ``VersionedStore`` of ``state_v{n}.bin`` files whose ``meta.json``
    pointer carries the ledger ``batches`` [{id, rows}] and ``rows``."""

    def __init__(self, sketch: MergeableSketch, state_dir: str):
        self.sketch = sketch
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        # the two-rename store kept a single state.bin: it is version 0
        self._store = VersionedStore(
            state_dir,
            "meta.json",
            lambda n: f"state_v{n}.bin" if n else "state.bin",
            keep=1,
        )

    def load(self) -> tuple[Any, dict]:
        meta = self._store.meta()
        if meta is None:
            return self.sketch.zero(), {"batches": [], "rows": 0}
        with open(self._store.path(_version(meta)), "rb") as f:
            return self.sketch.deserialize(f.read()), meta

    def store(self, state: Any, meta: dict) -> None:
        blob = self.sketch.serialize(state)
        self._store.commit(
            {
                "current": _version(meta),
                "batches": meta["batches"],
                "rows": meta["rows"],
            },
            lambda path: publish(path, blob),
        )

    def merge_batch(self, batch_df: DataFrame, batch_id: int, cols: list[str]):
        state, meta = self.load()
        if replayed((b["id"] for b in meta["batches"]), batch_id):
            return state  # replayed micro-batch after restart: idempotent
        n = batch_df.count()
        if n:
            partial = aggregate(batch_df, cols, self.sketch)
            state = self.sketch.merge(state, partial)
        meta["batches"].append({"id": batch_id, "rows": n})
        meta["rows"] += n
        self.store(state, meta)
        return state


def _version(meta: dict) -> int:
    # meta.json before the shared store named it "version"; the
    # two-rename store's named none (its state.bin is version 0)
    return meta.get("current", meta.get("version", 0))


def run_incremental_sketch(
    stream_df: DataFrame,
    cols: list[str],
    sketch: MergeableSketch,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> SketchAccumulator:
    """Drive a streaming DataFrame into a persisted sketch accumulator.

    With ``available_now=True`` processes everything currently available
    and stops (the batch-parity test mode); otherwise runs continuously
    until the caller stops the query.
    """
    acc = SketchAccumulator(sketch, state_dir)
    q = run_batches(
        stream_df,
        checkpoint_dir,
        lambda df, i: acc.merge_batch(df, i, cols),
        available_now,
    )
    if available_now:
        q.awaitTermination()
    return acc
