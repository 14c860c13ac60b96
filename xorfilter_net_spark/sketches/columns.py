"""Materialized sketch columns: persisted partial states re-merged at any
coarser granularity — the rollup-table pattern for 100 TB aggregation.

The reference's artifact is one in-memory filter per key set
(`BaseXorFilter.cs:13` — a single `_tableSlots` array). At warehouse scale
the production analog is a *table of sketch states*: aggregate the raw
corpus ONCE into fine-grained states (e.g. one HLL per (event_type, day)),
persist them as a `binary` column, and answer every coarser question
(per-type distincts over a month, global distincts) by re-merging stored
states — the 100 TB raw scan is never repeated. Works for any
``MergeableSketch`` because ``merge`` is associative + commutative.

Scale shape:
  - ``partial_states``: ``mapInPandas`` map-side combine — one state per
    (phase-1 task × group), over the input coalesced to one wave of
    tasks capped at about one file split each (``base._one_wave``, the
    rule of ``aggregate``'s phase 1). NO raw-row shuffle at all; only the
    tiny state rows move afterwards. This beats ``groupBy().applyInPandas``
    (sketches/base.py::aggregate_by_group) whenever groups hold many rows:
    the shuffle payload is O(tasks × groups × state_size), not O(rows).
  - ``merge_states``: ``groupBy(subset-of-group-cols).applyInPandas`` over
    serialized states. Input rows are already tiny, so this is cheap at any
    corpus size, and its output remains a mergeable sketch column (rollups
    compose: day → month → year each reads only the previous rollup).
  - ``finish_estimates``: map-only pandas UDF, no shuffle.

Bit-exactness: merging per-day states for a type yields byte-identical
serialized state to aggregating the type directly (merge associativity —
asserted in tests and in the ``hll_rollup_events_ok`` contract gate).
Order-sensitive states (KLL, t-digest) follow the coalescer's grouping
of input partitions into tasks, which is fixed for a given input
partitioning and block placement; their error bounds do not depend on it.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from .base import MergeableSketch, _one_wave, merge_serialized


def _group_fields(df: DataFrame, group_cols: list[str]) -> str:
    gschema = df.select(*group_cols).schema
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in gschema)


def partial_states(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    sketch: MergeableSketch,
) -> DataFrame:
    """One serialized sketch state per (phase-1 task × group).

    Map-side combine with zero raw-row shuffle; feed the result to
    ``merge_states`` (or persist it as-is) to finalize per-group states.
    Group keys with nulls are preserved (``dropna=False``).
    """
    proj = _one_wave(df, [*group_cols, *value_cols])
    fields = _group_fields(proj, group_cols)
    n_g = len(group_cols)

    def per_partition(batches):
        states: dict[tuple, Any] = {}
        for pdf in batches:
            for keys, sub in pdf.groupby(group_cols, dropna=False, sort=False):
                if n_g == 1 and not isinstance(keys, tuple):
                    keys = (keys,)
                st = states.get(keys)
                if st is None:
                    st = sketch.zero()
                states[keys] = sketch.update(
                    st, sub[value_cols].reset_index(drop=True)
                )
        if states:
            rows: dict[str, list] = {c: [] for c in group_cols}
            blobs = []
            for keys, st in states.items():
                for c, k in zip(group_cols, keys):
                    rows[c].append(k)
                blobs.append(sketch.serialize(st))
            rows["state"] = blobs
            yield pd.DataFrame(rows)

    return proj.mapInPandas(per_partition, schema=f"{fields}, state binary")


def merge_states(
    states: DataFrame,
    group_cols: list[str],
    sketch: MergeableSketch,
    state_col: str = "state",
) -> DataFrame:
    """Merge a sketch-state column down to one state per ``group_cols``.

    ``group_cols`` may be any subset of the columns the states were built
    with — that subset IS the rollup (e.g. states keyed (type, day) merged
    on [type] answer the all-time-per-type question from the daily table).
    Output keeps the ``state`` column, so rollups chain without ever
    re-reading raw data.
    """
    fields = _group_fields(states, group_cols)

    def per_group(keys, pdf):
        st = merge_serialized(sketch, pdf[state_col])
        row: dict[str, list] = {c: [k] for c, k in zip(group_cols, keys)}
        row["state"] = [sketch.serialize(st)]
        return pd.DataFrame(row)

    return states.groupBy(*group_cols).applyInPandas(
        per_group, schema=f"{fields}, state binary"
    )


def finish_estimates(
    states: DataFrame,
    group_cols: list[str],
    sketch: MergeableSketch,
    name: str = "estimate",
    state_col: str = "state",
) -> DataFrame:
    """Map-only finisher: ``estimate()`` each state into a double column.

    Requires a sketch exposing ``estimate(state) -> float`` (HLL, theta);
    states stay on executors — nothing is collected.
    """

    @pandas_udf("double")
    def est(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: float(sketch.estimate(sketch.deserialize(bytes(b))))
        )

    return states.select(*group_cols, est(state_col).alias(name))
