"""Two-phase mergeable-sketch execution (the UDAF surface of the library).

Every sketch implements the ``MergeableSketch`` protocol:

    zero() -> state
    update(state, pdf) -> state          # vectorized over an Arrow batch
    merge(a, b) -> state                 # associative + commutative
    serialize(state) -> bytes / deserialize(bytes) -> state
    finish(state) -> result object

Execution shape (north_rule: "mergeable UDAF-style two-phase aggregates"):

  phase 1 (executors): ``mapInPandas`` folds each *partition* into one
      serialized state — map-side combine, so only one sketch state per
      partition ever leaves an executor, never rows.
  phase 2 (driver): one Arrow collect of that ``state binary`` column,
      then ``merge_serialized`` folds the states in sorted byte order.
      The driver receives one state per non-empty phase-1 partition, so
      the aggregate is one job with one stage: no shuffle and no second
      Python runner per task. The sorted fold makes the result depend
      only on the multiset of phase-1 states, so order-sensitive merges
      (KLL, t-digest) are reproducible however the partitions arrive.
      Callers that need per-group states kept distributed use
      ``columns.partial_states`` + ``merge_states`` instead.

  fan-in bound: the collect counts against ``spark.driver.maxResultSize``
      (Spark aborts the job past it). When the partition count times the
      serialized zero state passes half that limit, one pre-merge level
      runs first: the states are hash-partitioned on their bytes into
      ``min(isqrt(P), half-limit / state size)`` groups and each group is
      folded in sorted byte order by ``mapInPandas``, so the driver
      receives that many states instead of P. The zero state's size is
      exact for the fixed-size states (Bloom, CMS, HLL: the ones sized
      for a corpus); the growing states (KLL, t-digest, bottom-k,
      Misra-Gries, DDSketch) are bounded by their own parameters, and the
      bound does not see past their zero size. With the pre-merge, the
      result still depends only on the multiset of phase-1 states; for
      KLL and t-digest its bytes differ from the direct fold's. An input
      whose plan has a shuffle is planned once for the partition count
      and again for the pre-merge, so in that case its shuffle runs twice.

Associativity/commutativity of ``merge`` is an acceptance criterion
(BASELINE.json north_rule) — property-tested by re-aggregating identical
data under different partitionings (tests/test_sketches.py).

Per-group sketching rides ``groupBy(...).applyInPandas`` instead: one
state per group, same update/merge kernels.
"""

from __future__ import annotations

import math
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
    windows, the streaming period store) runs per group, and the driver
    fold of ``aggregate``."""
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


def _fold_states(sketch: MergeableSketch):
    """Pre-merge: fold one group of serialized states into one state, in
    sorted byte order."""

    def fold(batches):
        blobs = sorted(bytes(b) for pdf in batches for b in pdf["state"])
        if blobs:
            st = merge_serialized(sketch, blobs)
            yield pd.DataFrame({"state": [sketch.serialize(st)]})

    return fold


def _merge_collected(states: DataFrame, sketch: MergeableSketch) -> Any:
    """Phase 2: collect the ``state binary`` column (Arrow) and fold it on
    the driver in sorted byte order, pre-merging first when the states
    would pass half of ``spark.driver.maxResultSize`` (module docstring).
    The other half is headroom for the per-task Arrow framing and task
    metrics that count against the same limit."""
    spark = states.sparkSession
    limit = spark.sparkContext._jsc.getConf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    if limit:  # 0 = unlimited
        budget = limit // 2
        size = len(sketch.serialize(sketch.zero()))
        # Builds the plan's RDD; no job runs unless the plan has a shuffle,
        # whose stages the collect of the same DataFrame then reuses.
        n = states._jdf.queryExecution().executedPlan().execute().getNumPartitions()
        if n * size > budget:
            groups = max(1, min(math.isqrt(n), budget // size))
            states = states.repartition(groups, "state").mapInPandas(
                _fold_states(sketch), schema="state binary"
            )
    blobs = sorted(bytes(b) for b in states.toPandas()["state"])
    return merge_serialized(sketch, blobs)


def aggregate(df: DataFrame, cols: list[str], sketch: MergeableSketch):
    """Fold ``df[cols]`` into one sketch state (two-phase, driver merge)."""
    return _merge_collected(_partition_states(df, cols, sketch), sketch)


def aggregate_checkpointed(
    df: DataFrame,
    cols: list[str],
    sketch: MergeableSketch,
    run_dir: str,
    params: dict | None = None,
):
    """Resumable two-phase sketch aggregation (north_rule: sketch jobs
    "resumable from checkpoint with per-partition lineage + metrics").

    Stage 1 (``partials``) persists one serialized sketch state per input
    partition to parquet under ``run_dir`` with a manifest (fingerprint,
    wall time, per-partition lineage). Stage 2 (``merged``) folds the
    collected states on the driver and persists the final state. A rerun
    with the same ``run_dir`` and parameters SKIPS completed stages — in
    particular a driver crash after the (expensive, corpus-sized) partial
    pass resumes straight into the (cheap, one-state-per-partition)
    merge. Because partials are deterministic per partition and the fold
    runs in sorted byte order, a resumed run finishes with the identical
    state a fresh run produces, whatever order the parquet read returns
    the states in (asserted in tests/test_checkpoint.py and
    tests/test_sketch_aggregate.py).

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
        merged = _merge_collected(states, sketch)
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
