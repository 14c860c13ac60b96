"""Rolling-window distinct counts from per-period mergeable states —
"distinct users in the trailing 7 days, for every day" at corpus scale.

The naive formulation is notorious: window functions cannot express
COUNT(DISTINCT) over a moving frame, and the self-join + re-count
approach rescans W days of raw events for every output day (W× the
corpus per sweep). The mergeable-state formulation does it in one pass
+ state algebra:

  1. ONE corpus-sized aggregate builds a state per period
     (``aggregate_by_group`` — map-side combined, shuffle carries keys
     once);
  2. each period's state fans out to the W windows it participates in
     (``explode(sequence(p, p+W-1))`` — W small rows per PERIOD, not
     per event);
  3. per-window merge + finish in ``applyInPandas`` — W state blobs in,
     one integer out.

With ``BitmapSketch`` states the rolling distinct is EXACT (OR-merge
loses nothing); swap in ``HllSketch``/``ThetaSketch`` for unbounded key
domains and the same plan yields the approximate variant — the operator
is generic over the repo's MergeableSketch protocol. Raw events are
read exactly once either way; sweep cost after that is
O(periods × W × state_size), independent of corpus size.

No reference counterpart (north_rule sketch family applied as a window
engine).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .base import MergeableSketch, aggregate_by_group, merge_serialized
from .bitmap import BitmapSketch

__all__ = [
    "rolling_state_window",
    "rolling_distinct_exact",
    "rolling_topk_mg",
    "rolling_quantile_kll",
]


def _period_states(
    events: DataFrame,
    value: Column,
    ts_col: str,
    period_seconds: int,
    sketch: MergeableSketch,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., period, state) — one ``sketch`` state per (group,
    period) from ONE pass over ``events``. ``value`` is exposed to the
    sketch as ``__k``; ``period = floor(unix_micros(ts) / period_us)``,
    the bucketing every oracle replays as ``floor(epoch_us(ts) / ...)``.
    Rows with a null value, timestamp or group key are dropped."""
    if period_seconds <= 0:
        raise ValueError("period_seconds must be positive")
    gcols = list(group_cols or [])
    e = events.select(
        *gcols,
        F.floor(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            / F.lit(period_seconds * 1_000_000)
        ).alias("period"),
        value.alias("__k"),
    )
    keep = F.col("__k").isNotNull() & F.col("period").isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    return aggregate_by_group(e.filter(keep), gcols + ["period"], ["__k"], sketch)


def _window_merge(
    states: DataFrame,
    sketch: MergeableSketch,
    window: int,
    finish,
    out_schema: str,
    group_cols: list[str] | None = None,
    period_col: str = "period",
) -> DataFrame:
    """(group..., period_col, out columns) for every period present in
    the (group..., period_col, state) table: ``finish(merge(states of
    [period-window+1, period]))`` per group. ``finish`` maps the merged
    state to the output columns (name -> list, any common length, so a
    window may answer with a whole table). A (group, period) state fans
    out to the group's next ``window`` windows; a semi-join keeps only
    windows anchored at a period that exists for the group."""
    if window < 1:
        raise ValueError("window must be >= 1")
    gcols = list(group_cols or [])
    p = F.col(period_col)
    contrib = states.select(
        *gcols,
        F.explode(F.sequence(p, p + (window - 1))).alias("__target"),
        "state",
    )
    anchors = states.select(*gcols, p.alias("__target")).distinct()
    src = contrib.join(anchors, gcols + ["__target"], "left_semi")
    fields = "".join(
        f"{g} {states.schema[g].dataType.simpleString()}, " for g in gcols
    )

    def per_window(keys, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = finish(merge_serialized(sketch, pdf["state"]))
        n = len(next(iter(cols.values())))
        row = {c: [k] * n for c, k in zip(gcols, keys)}
        row[period_col] = [keys[-1]] * n
        row.update(cols)
        return pd.DataFrame(row)

    return src.groupBy(*gcols, "__target").applyInPandas(
        per_window, schema=f"{fields}{period_col} long, {out_schema}"
    )


def rolling_state_window(
    period_states: DataFrame,
    sketch: MergeableSketch,
    finish,
    window: int,
    period_col: str = "period",
    out_col: str = "value",
) -> DataFrame:
    """(period, out_col) for every period present in ``period_states``
    (a ``(period, state binary)`` table): ``finish(merge(states of
    [period-window+1, period]))``. Trailing windows at the start of the
    data contain fewer periods, as a trailing window should."""
    return _window_merge(
        period_states, sketch, window,
        lambda st: {out_col: [finish(st)]}, f"{out_col} long",
        period_col=period_col,
    )


def rolling_topk_mg(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    k: int = 256,
    window: int = 7,
    period_seconds: int = 86400,
    top: int | None = None,
) -> DataFrame:
    """(period, key, est_count) — the trailing-``window`` frequency
    table per active period, from per-period Misra-Gries states. The
    frequency twin of ``rolling_distinct_exact``: same one-pass +
    explode-fanout + per-window merge plan, but the window answer is a
    whole (key, count) table instead of one integer.

    MG merge is counter addition + shrink (Mergeable Summaries), so
    per-window estimates carry the usual [true - N_w/(k+1), true] bound
    where N_w is the WINDOW's row count; when distinct keys per window
    never exceed ``k`` no shrink fires anywhere and every count is EXACT
    — the regime the registered query's value-exact oracle pins.
    ``top`` truncates each window's table to its ``top`` most frequent
    keys (count desc, key asc — deterministic)."""
    from .misra_gries import MisraGriesSketch

    sk = MisraGriesSketch(k=k, key_col="__k")
    states = _period_states(
        events, F.col(key_col).cast("string"), ts_col, period_seconds, sk
    )

    def finish(st) -> dict:
        items = sorted(
            sk.finish(st).items(), key=lambda kv: (-kv[1], str(kv[0]))
        )[:top]
        return {
            "key": [str(key) for key, _ in items],
            "est_count": [int(c) for _, c in items],
        }

    return _window_merge(
        states, sk, window, finish, "key string, est_count long"
    )


def rolling_distinct_exact(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    capacity: int,
    window: int = 7,
    period_seconds: int = 86400,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., period, n_rolling) — EXACT distinct ``key_col``
    values in the trailing ``window`` periods ending at each of the
    group's active periods, via per-(group, period) bitmap states.
    ``group_cols=None`` gives the global roll-up (one state stream)."""
    sk = BitmapSketch(capacity, key_col="__k")
    states = _period_states(
        events, F.col(key_col), ts_col, period_seconds, sk, group_cols
    )
    return _window_merge(
        states, sk, window,
        lambda st: {"n_rolling": [sk.estimate(st)]}, "n_rolling long",
        group_cols,
    )


def rolling_quantile_kll(
    events: DataFrame,
    value_col: str,
    ts_col: str,
    qs: tuple[float, ...] = (0.5, 0.95),
    k: int = 200,
    window: int = 7,
    period_seconds: int = 86400,
) -> DataFrame:
    """(period, q_e6, est_value) — trailing-``window`` quantile
    estimates per active period, from per-period KLL states. Completes
    the rolling state-algebra family (distinct / top-k / moments /
    quantiles): the same one-pass + explode-fanout + per-window merge
    plan, sweep cost O(periods x window x state) independent of corpus
    size; KLL merge keeps the published rank-error bound under
    arbitrary merge trees (Mergeable Summaries), which the registered
    query's rank-band referee checks per window."""
    from .kll import KllSketch

    sk = KllSketch(k=k, value_col="__k")
    states = _period_states(
        events, F.col(value_col).cast("double"), ts_col, period_seconds, sk
    )
    q_list = [float(q) for q in qs]
    return _window_merge(
        states, sk, window,
        lambda st: {
            "q_e6": [int(round(q * 1_000_000)) for q in q_list],
            "est_value": [float(sk.quantile(st, q)) for q in q_list],
        },
        "q_e6 long, est_value double",
    )
