"""Event-time windowed streaming aggregation + custom stateful operators.

Two Structured-Streaming surfaces beyond the foreachBatch accumulator
(``incremental.py``):

1. ``windowed_agg`` — declarative watermark + event-time window over a
   streaming DataFrame, aggregated with *built-in* JVM-side functions
   (``approx_count_distinct`` et al.). Late rows older than the
   watermark whose window has already closed are dropped by Spark's
   state store; everything stays in whole-stage codegen + the streaming
   aggregation state store, no Python anywhere. This is the shape the
   reference library cannot express at all (its filters are static,
   README.md:113) and a 10^12-turn ingest pipeline needs: per-window
   distinct-conversation / distinct-key estimates that tolerate
   out-of-order arrival.

2. ``stateful_group_sketch`` — ``applyInPandasWithState``: one mergeable
   sketch state (sketches/base.py protocol) per group key, updated per
   micro-batch from Arrow batches, serialized into the Spark state store
   as binary. Emits the running estimate per group per batch. This is
   the custom-stateful-operator escape hatch for semantics the built-in
   windowed aggregates cannot express (e.g. running HLL per
   conversation, KLL of per-turn latency per tool).

Scale notes: windowed aggregation shuffles once on (window, group) into
the state store — the same hash exchange a batch groupBy would use; the
watermark bounds state size (closed windows are evicted). The stateful
operator shuffles on the group key only; state per group is one sketch
(KBs), so 10^8 conversations ~ 10s of GB spread across executors — the
state store scales horizontally with executors.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sketches.base import MergeableSketch

__all__ = [
    "windowed_agg",
    "windowed_distinct",
    "stateful_group_sketch",
    "streaming_dedup",
]


def streaming_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    time_col: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Exactly-once ingest dedup: emit each key once, dropping re-deliveries
    that arrive within ``watermark_delay`` of the first occurrence.

    Streaming input rides ``dropDuplicatesWithinWatermark`` — the state
    store keeps one entry per key only until the watermark passes its
    event time, so state is bounded by delay x arrival rate, NOT by
    corpus cardinality (plain streaming ``dropDuplicates`` would pin
    every key ever seen in state — unusable at 10^12 turns). At-least-
    once sources (Kafka redelivery, file-source replays) become
    effectively exactly-once downstream as long as redeliveries land
    within the delay. On a batch DataFrame this degrades to plain
    ``dropDuplicates(key_cols)``, which is how tests pin parity.
    """
    if not stream_df.isStreaming:
        return stream_df.dropDuplicates(key_cols)
    return stream_df.withWatermark(
        time_col, watermark_delay
    ).dropDuplicatesWithinWatermark(key_cols)


def windowed_agg(
    stream_df: DataFrame,
    time_col: str,
    window_duration: str,
    watermark_delay: str,
    group_cols: list[str],
    aggs: list[Column],
    slide: str | None = None,
) -> DataFrame:
    """Watermarked event-time window aggregation (append-mode ready).

    Pure declarative plan: ``withWatermark`` bounds the streaming state,
    ``window()`` buckets event time, and the aggregate columns run
    JVM-side. Works identically on a batch DataFrame (Spark evaluates
    ``window()`` in batch too), which is how tests pin parity.
    """
    w = (
        F.window(F.col(time_col), window_duration, slide)
        if slide
        else F.window(F.col(time_col), window_duration)
    )
    src = stream_df
    if stream_df.isStreaming:
        src = stream_df.withWatermark(time_col, watermark_delay)
    return src.groupBy(w.alias("window"), *group_cols).agg(*aggs)


def windowed_distinct(
    stream_df: DataFrame,
    time_col: str,
    key_col: str,
    window_duration: str = "5 minutes",
    watermark_delay: str = "5 minutes",
    group_cols: list[str] | None = None,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-window approximate distinct-key count (HLL++, JVM-side) plus
    exact row count — the 'how many distinct conversations did we see in
    each 5-minute window' ingest query."""
    return windowed_agg(
        stream_df,
        time_col,
        window_duration,
        watermark_delay,
        group_cols or [],
        [
            F.approx_count_distinct(key_col, rsd).alias("approx_distinct"),
            F.count(F.lit(1)).alias("n_rows"),
        ],
    )


def stateful_group_sketch(
    stream_df: DataFrame,
    group_col: str,
    value_cols: list[str],
    sketch: MergeableSketch,
    finish,
    output_mode: str = "update",
) -> DataFrame:
    """Running per-group sketch via ``applyInPandasWithState``.

    ``finish(sketch, state) -> int`` maps the group's current state to
    the emitted estimate (e.g. ``lambda sk, st: int(sk.estimate(st))``).
    Emits ``(group, estimate, n_rows)`` for every group seen in each
    micro-batch; state is the sketch's own serialized bytes, so a
    restart resumes exactly (the state store checkpoints it).
    """

    def update_fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, n_rows = state.get
            st: Any = sketch.deserialize(bytes(blob))
        else:
            st, n_rows = sketch.zero(), 0
        for pdf in pdfs:
            st = sketch.update(st, pdf)
            n_rows += len(pdf)
        state.update((sketch.serialize(st), n_rows))
        yield pd.DataFrame(
            {
                "group": [key[0]],
                "estimate": [int(finish(sketch, st))],
                "n_rows": [int(n_rows)],
            }
        )

    return (
        stream_df.select(group_col, *value_cols)
        .groupBy(group_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType="group string, estimate long, n_rows long",
            stateStructType="blob binary, n_rows long",
            outputMode=output_mode,
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
