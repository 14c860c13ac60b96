"""Two-phase mergeable-sketch execution (the UDAF surface of the library).

Every sketch implements the ``MergeableSketch`` protocol:

    zero() -> state
    update(state, pdf) -> state          # vectorized over an Arrow batch
    merge(a, b) -> state                 # associative + commutative
    serialize(state) -> bytes / deserialize(bytes) -> state
    finish(state) -> result object

Execution shape (north_rule: "mergeable UDAF-style two-phase aggregates"):

  phase 1 (executors): ``mapInPandas`` folds each *partition* into one
      serialized state — map-side combine, so the shuffle carries one
      sketch state per partition, never rows.
  phase 2: ``treeAggregate(depth)`` merges states in log depth. At 1000
      executors a flat reduce would funnel 1000 states through the driver;
      tree depth 2-3 keeps merge fan-in bounded.

Associativity/commutativity of ``merge`` is an acceptance criterion
(BASELINE.json north_rule) — property-tested by re-aggregating identical
data under different partitionings (tests/test_sketches.py).

Per-group sketching rides ``groupBy(...).applyInPandas`` instead: one
state per group, same update/merge kernels.
"""

from __future__ import annotations

from typing import Any, Protocol

import pandas as pd
from pyspark.sql import DataFrame


class MergeableSketch(Protocol):
    def zero(self) -> Any: ...

    def update(self, state: Any, pdf: pd.DataFrame) -> Any: ...

    def merge(self, a: Any, b: Any) -> Any: ...

    def serialize(self, state: Any) -> bytes: ...

    def deserialize(self, blob: bytes) -> Any: ...


def merge_serialized(sketch: MergeableSketch, blobs) -> Any:
    """Merge an iterable of serialized states into one state — the one
    merge-a-column loop every state-table operator (rollups, trailing
    windows, the streaming period store) runs per group."""
    st = sketch.zero()
    for blob in blobs:
        st = sketch.merge(st, sketch.deserialize(bytes(blob)))
    return st


def _partition_states(
    df: DataFrame, cols: list[str], sketch: MergeableSketch
) -> DataFrame:
    """Phase 1: one serialized state per non-empty input partition."""

    def partials(batches):
        st = sketch.zero()
        n = 0
        for pdf in batches:
            st = sketch.update(st, pdf)
            n += len(pdf)
        if n:
            yield pd.DataFrame({"state": [sketch.serialize(st)]})

    return df.select(*cols).mapInPandas(partials, schema="state binary")


def _tree_merge(states: DataFrame, sketch: MergeableSketch, depth: int):
    """Phase 2: log-depth merge of a ``state binary`` column."""
    rdd = states.rdd.map(lambda r: sketch.deserialize(bytes(r["state"])))
    zero = sketch.zero()
    return rdd.treeAggregate(zero, sketch.merge, sketch.merge, depth=depth)


def aggregate(
    df: DataFrame, cols: list[str], sketch: MergeableSketch, depth: int = 2
):
    """Fold ``df[cols]`` into one sketch state (two-phase, log-depth merge)."""
    return _tree_merge(_partition_states(df, cols, sketch), sketch, depth)


def aggregate_checkpointed(
    df: DataFrame,
    cols: list[str],
    sketch: MergeableSketch,
    run_dir: str,
    params: dict | None = None,
    depth: int = 2,
):
    """Resumable two-phase sketch aggregation (north_rule: sketch jobs
    "resumable from checkpoint with per-partition lineage + metrics").

    Stage 1 (``partials``) persists one serialized sketch state per input
    partition to parquet under ``run_dir`` with a manifest (fingerprint,
    wall time, per-partition lineage). Stage 2 (``merged``) tree-merges
    the states and persists the final state. A rerun with the same
    ``run_dir`` and parameters SKIPS completed stages — in particular a
    driver crash after the (expensive, corpus-sized) partial pass resumes
    straight into the (cheap, one-state-per-partition) merge. Because
    ``merge`` is associative/commutative and partials are deterministic
    per partition, a resumed run finishes with the identical state a
    fresh run produces (asserted in tests/test_checkpoint.py).

    ``params`` must identify the sketch configuration (e.g. ``{"p": 14}``)
    — it is fingerprinted with ``cols`` so changing either invalidates
    the checkpoint chain.
    """
    import base64

    from ..pipeline.checkpoint import BuildRun, _fingerprint

    run = BuildRun(df.sparkSession, run_dir)
    fp_partials = _fingerprint(
        {
            "stage": "sketch_partials",
            "cols": list(cols),
            "sketch": type(sketch).__name__,
            "params": params or {},
        }
    )
    states = run.dataframe_stage(
        "partials", fp_partials, lambda: _partition_states(df, cols, sketch)
    )

    fp_merged = _fingerprint({"stage": "sketch_merged", "upstream": fp_partials})

    def produce_merged() -> dict:
        merged = _tree_merge(states, sketch, depth)
        return {"state_b64": base64.b64encode(sketch.serialize(merged)).decode()}

    artifact = run.json_stage("merged", fp_merged, produce_merged)
    return sketch.deserialize(base64.b64decode(artifact["state_b64"])), run.metrics


def aggregate_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    sketch: MergeableSketch,
) -> DataFrame:
    """One sketch state per group: ``groupBy(group).applyInPandas``.

    Returns a DataFrame ``group_cols + [state binary]``; callers finish()
    driver-side or feed states onward (they stay mergeable).
    """
    gschema = df.select(*group_cols).schema
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in gschema)

    def per_group(keys, pdf: pd.DataFrame) -> pd.DataFrame:
        st = sketch.update(sketch.zero(), pdf)
        row = {c: [k] for c, k in zip(group_cols, keys)}
        row["state"] = [sketch.serialize(st)]
        return pd.DataFrame(row)

    return df.groupBy(*group_cols).applyInPandas(
        per_group, schema=f"{fields}, state binary"
    )
