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
              -> commit meta.json (state file + ledger) # one atomic rename
    )

The meta commit is the one commit point: it names the state file and
carries the batch ledger, so state and ledger can never disagree. A
crash before it leaves the previous version current and the batch
unapplied; the redelivered batch then merges exactly once (each
micro-batch id is recorded and re-application of an already-merged
batch is skipped). Spark's own checkpointLocation handles source
offsets, giving end-to-end exactly-once state updates even for
non-idempotent merges (CMS, count-sketch, moments).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame

from ..sketches.base import MergeableSketch, aggregate


class SketchAccumulator:
    """Persisted sketch state + batch lineage under ``state_dir``."""

    def __init__(self, sketch: MergeableSketch, state_dir: str):
        self.sketch = sketch
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self._meta_path = os.path.join(state_dir, "meta.json")

    def load(self) -> tuple[Any, dict]:
        if not os.path.exists(self._meta_path):
            return self.sketch.zero(), {"batches": [], "rows": 0}
        with open(self._meta_path) as f:
            meta = json.load(f)
        # a meta.json without "state" was written by the two-rename store
        # that kept a single state.bin
        state_path = os.path.join(self.state_dir, meta.get("state", "state.bin"))
        with open(state_path, "rb") as f:
            return self.sketch.deserialize(f.read()), meta

    def store(self, state: Any, meta: dict) -> None:
        version = meta.get("version", 0) + 1
        name = f"state_v{version}.bin"
        with open(os.path.join(self.state_dir, name), "wb") as f:
            f.write(self.sketch.serialize(state))
        meta = {**meta, "version": version, "state": name}
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)  # the commit point
        for old in os.listdir(self.state_dir):
            if old.endswith(".bin") and old != name:
                os.remove(os.path.join(self.state_dir, old))

    def merge_batch(self, batch_df: DataFrame, batch_id: int, cols: list[str]):
        state, meta = self.load()
        if batch_id in {b["id"] for b in meta["batches"]}:
            return state  # replayed micro-batch after restart: idempotent
        n = batch_df.count()
        if n:
            partial = aggregate(batch_df, cols, self.sketch)
            state = self.sketch.merge(state, partial)
        meta["batches"].append({"id": batch_id, "rows": n})
        meta["rows"] += n
        self.store(state, meta)
        return state


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

    def for_each(batch_df: DataFrame, batch_id: int) -> None:
        acc.merge_batch(batch_df, batch_id, cols)

    writer = (
        stream_df.writeStream.foreachBatch(for_each)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        writer.start()
    return acc
