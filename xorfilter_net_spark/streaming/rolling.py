"""Streaming rolling-window distinct — maintain the per-period mergeable
state table (sketches/rolling.py) under an event stream, exactly once,
and answer "distinct keys in the trailing W periods" at any moment
without ever re-reading history.

Each micro-batch aggregates to per-period partial states (the batch
operators' period fold, over the BATCH only), which merge into the
persisted (period, state) table (``merge_states``). The table lives in
the store streaming/ivm.py keeps for its view (commit.py's
``VersionedStore``): versioned dirs, a ``view.json`` pointer published
LAST, the applied-batch ledger inside the pointer (replayed foreachBatch ids
skip; retries never double-apply — and bitmap OR is idempotent anyway,
a belt under the braces). State table size is periods x state bytes,
independent of event count.

The rolling answer is then pure state algebra over the maintained table
(``rolling_state_window``), identical to what the batch operator
computes from raw history — the parity the registered query's oracle
checks.

No reference counterpart (beyond-reference streaming family; composes
the north_rule's mergeable-UDAF contract with the streaming ledger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..commit import run_batches
from ..sketches.base import MergeableSketch
from ..sketches.bitmap import BitmapSketch
from ..sketches.columns import merge_states
from ..sketches.rolling import _period_states, rolling_state_window
from .ivm import _apply_to_store, _init_store, read_view

__all__ = [
    "init_period_store",
    "stream_update_period_states",
    "read_period_states",
    "rolling_from_store",
    "moment_anomalies_from_store",
]


def init_period_store(spark: SparkSession, store_dir: str) -> None:
    """Empty (period, state) store, version 0."""
    _init_store(
        store_dir, spark.createDataFrame([], "period long, state binary")
    )


def read_period_states(spark: SparkSession, store_dir: str) -> DataFrame:
    return read_view(spark, store_dir)


def apply_batch(
    spark: SparkSession,
    store_dir: str,
    batch: DataFrame,
    batch_id: int,
    sketch: MergeableSketch,
    key_col: str,
    ts_col: str,
    period_seconds: int,
) -> dict:
    """Merge one event micro-batch's per-period states into the store.
    Replayed batch ids are skipped (exactly-once)."""
    new = _period_states(
        batch, F.col(key_col), ts_col, period_seconds, sketch
    )
    return _apply_to_store(
        spark, store_dir, batch_id,
        lambda old: merge_states(old.unionByName(new), ["period"], sketch),
    )


def stream_update_period_states(
    events_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    ts_col: str,
    capacity: int | None = None,
    period_seconds: int = 86400,
    trigger_once: bool = True,
    sketch: MergeableSketch | None = None,
):
    """Attach the maintainer to an event stream. The store must already
    be initialized (``init_period_store``). Default state is a bitmap
    over ``key_col`` (rolling distinct); pass any ``MergeableSketch``
    reading the ``__k`` column to maintain other per-period state — e.g.
    ``MomentSketch`` for the 3-sigma anomaly monitor."""
    spark = events_stream.sparkSession
    sk = sketch if sketch is not None else BitmapSketch(capacity, key_col="__k")

    return run_batches(
        events_stream,
        checkpoint_dir,
        lambda df, i: apply_batch(
            spark, store_dir, df, i, sk, key_col, ts_col, period_seconds
        ),
        trigger_once,
    )


def rolling_from_store(
    spark: SparkSession,
    store_dir: str,
    capacity: int,
    window: int = 7,
) -> DataFrame:
    """(period, n_rolling) from the maintained store — state algebra
    only; no event history is read."""
    sk = BitmapSketch(capacity, key_col="__k")
    return rolling_state_window(
        read_period_states(spark, store_dir),
        sk,
        sk.estimate,
        window,
        out_col="n_rolling",
    )


def moment_anomalies_from_store(
    spark: SparkSession,
    store_dir: str,
    quant: int = 1000,
    window: int = 7,
    sigmas: int = 3,
) -> DataFrame:
    """The 3-sigma anomaly report from a MAINTAINED moment store — the
    streaming twin of ``relational/timeseries.py::
    rolling_moment_anomalies``, producing the identical rows (the
    registered query's oracle IS the batch operator's oracle).

    The store is periods-sized, so the flag arithmetic runs driver-side
    in arbitrary-precision Python ints — no decimal(38) envelope at all
    on this path. Event history is never re-read."""
    from ..sketches.moments import MomentSketch

    sk = MomentSketch(quant=quant)
    per = {
        int(r["period"]): sk.deserialize(bytes(r["state"]))
        for r in read_period_states(spark, store_dir).collect()
    }
    rows = []
    for p in sorted(per):
        n_d, s1_d, _ = per[p]
        N = S1 = S2 = 0
        for back in range(1, window + 1):
            if p - back in per:
                n, s1, s2 = per[p - back]
                N, S1, S2 = N + n, S1 + s1, S2 + s2
        if N == 0:
            flag = False
        else:
            flag = (s1_d * N - S1 * n_d) ** 2 > (
                sigmas * sigmas
            ) * n_d * n_d * (S2 * N - S1 * S1)
        rows.append((p, n_d, s1_d, N, S1, S2, bool(flag)))
    return spark.createDataFrame(
        rows,
        "period long, n_day long, sum_day_q long, n_prior long, "
        "sum_prior_q long, sumsq_prior_q long, is_anomaly boolean",
    )
