"""Streaming heavy hitters — a Misra-Gries state maintained under an
event stream, exactly once, answering "top frequent keys so far" at any
moment without re-reading history.

Composes two existing contracts:
- the Misra-Gries mergeable summary (sketches/misra_gries.py): counter
  addition + shrink survives arbitrary merge trees (Agarwal et al.,
  Mergeable Summaries, PODS 2012), so per-micro-batch partials merged
  into a running state equal the one-shot batch sketch over the same
  rows — stream == batch by algebra, not by luck;
- the persisted accumulator with per-batch ledger
  (streaming/incremental.py): state commits through commit.py's
  ``VersionedStore``, replayed micro-batch ids skip, so a
  crashed/restarted query never double-counts.

State size is O(k) regardless of stream length. With fewer than k
distinct keys the MG state is EXACT (no shrink ever fires), which the
registered query exploits for a value-exact DuckDB oracle — the same
below-capacity-exactness regime as the batch query
``mg_heavy_hitters_event_types``.

No reference counterpart (the reference's filters are static,
README.md:113); beyond-reference streaming family.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..sketches.misra_gries import MisraGriesSketch
from .incremental import SketchAccumulator, run_incremental_sketch

__all__ = ["stream_heavy_hitters", "heavy_hitters_df"]


def stream_heavy_hitters(
    stream_df: DataFrame,
    key_col: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 256,
    available_now: bool = True,
) -> SketchAccumulator:
    """Attach a Misra-Gries(k) maintainer to a stream of keys. NULL keys
    are dropped (matching the batch sketch queries' null handling)."""
    sk = MisraGriesSketch(k=k, key_col=key_col)
    filtered = stream_df.select(key_col).filter(f"{key_col} is not null")
    return run_incremental_sketch(
        filtered, [key_col], sk, state_dir, checkpoint_dir,
        available_now=available_now,
    )


def heavy_hitters_df(
    spark: SparkSession, acc: SketchAccumulator, min_count: int = 1
) -> DataFrame:
    """(key, est_count) from the maintained state — estimates are exact
    whenever the distinct-key count never exceeded k."""
    state, _ = acc.load()
    est = acc.sketch.finish(state)
    rows = sorted(
        ((k, int(c)) for k, c in est.items() if c >= min_count),
        key=lambda kv: (-kv[1], str(kv[0])),
    )
    pdf = pd.DataFrame(rows, columns=["key", "est_count"])
    return spark.createDataFrame(pdf, schema="key string, est_count long")
