"""Exponentially-decayed heavy hitters — "trending now" frequencies.

The streaming-analytics staple the plain rolling top-k can't express:
recent periods should count MORE than old ones, with a half-life.
Classic formulations (Cormode et al., forward/backward decay) apply a
per-item weight w^age; with half-life = one period the weight is
2^(period - base) — an INTEGER — so the decayed score is exact integer
arithmetic end to end (the repo's micro-int convention: no float pow,
no cross-engine ulp).

Shape: reuses the per-period Misra-Gries state table (ONE corpus pass
through the rolling family's period fold), restricts to the trailing
``window`` periods, and reduces the ≤ k×window surviving (period, key,
count) entries with integer weights. The sweep is O(k × window)
regardless of corpus size, and the states are the SAME materialized
table the rolling family maintains — at 100 TB the decayed answer costs
one tiny state-table scan, not a corpus pass.

Exactness contract (the registered query's regime): when distinct keys
per period never exceed k, every MG table is exact, so the decayed
score is exact — the DuckDB oracle recomputes it from raw events with
the identical ``count << (period - base)`` arithmetic. Above k the MG
bound applies per period: score ∈ [true − Σ_p N_p/(k+1)·2^(p−base),
true].

No reference counterpart (north_rule sketch-family adjacency).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rolling import _period_states


def decayed_topk_mg(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    k: int = 256,
    window: int = 14,
    period_seconds: int = 86400,
    top: int | None = 10,
) -> DataFrame:
    """(key, decayed_score, n_periods) — half-life-decayed frequency
    table as of the LATEST active period.

    ``decayed_score = Σ_p count_p(key) · 2^(p − base)`` over the
    trailing ``window`` periods (base = oldest period in the window),
    so the newest period weighs 2^(window−1) and a key's score halves
    per period of age. ``top`` keeps the ``top`` highest scores
    (score desc, key asc — deterministic); None keeps all.
    ``n_periods`` = periods within the window where the key appears.
    """
    from .misra_gries import MisraGriesSketch

    sk = MisraGriesSketch(k=k, key_col="__k")
    states = _period_states(
        events, F.col(key_col).cast("string"), ts_col, period_seconds, sk
    )
    return decayed_scores_from_states(
        events.sparkSession, states, sk, window=window, top=top
    )


def decayed_scores_from_states(
    spark,
    states: DataFrame,
    sk,
    window: int = 14,
    top: int | None = 10,
) -> DataFrame:
    """The decayed sweep over ANY (period, state) table — shared by the
    batch operator above and the streaming period store
    (streaming/rolling.py maintains the identical table shape), so
    stream == batch is the contract by construction."""
    if not 1 <= window <= 62:
        # weights alone are 2^(window-1) <= 2^61; the full score
        # (sum of count x weight) is overflow-CHECKED at sweep time —
        # Python ints are exact, so a score past int64 raises loudly
        # instead of wrapping in the Arrow long column
        raise ValueError("window must be in [1, 62]")
    # one scalar to the driver: the as-of period (same convention as the
    # graph family's convergence scalars)
    row = states.agg(F.max("period").alias("mp")).collect()[0]
    if row["mp"] is None:
        return spark.createDataFrame(
            [], "key string, decayed_score long, n_periods long"
        )
    base = int(row["mp"]) - (window - 1)
    recent = states.filter(F.col("period") >= base)

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        scores: dict[str, int] = {}
        hits: dict[str, int] = {}
        for p, blob in zip(pdf["period"], pdf["state"]):
            w = 1 << (int(p) - base)
            for key, c in sk.finish(sk.deserialize(bytes(blob))).items():
                key = str(key)
                scores[key] = scores.get(key, 0) + int(c) * w
                hits[key] = hits.get(key, 0) + 1
        items = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        if items and items[0][1] > 0x7FFFFFFFFFFFFFFF:
            raise ValueError(
                f"decayed score {items[0][1]} for key {items[0][0]!r} "
                f"exceeds int64 — reduce window (weights reach "
                f"2^(window-1)) or bucket periods coarser"
            )
        if top is not None:
            items = items[:top]
        return pd.DataFrame(
            {
                "key": [key for key, _ in items],
                "decayed_score": [s for _, s in items],
                "n_periods": [hits[key] for key, _ in items],
            }
        )

    # the ≤ k×window surviving states reduce in ONE task (bounded by
    # construction, like the rolling family's per-anchor merges)
    return (
        recent.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            lambda keys, pdf: sweep(pdf),
            schema="key string, decayed_score long, n_periods long",
        )
    )


def decayed_topk_sql(
    key_expr: str,
    window: int = 14,
    period_seconds: int = 86400,
    top: int = 10,
    src: str = "events",
    ts_col: str = "ts",
) -> str:
    """DuckDB oracle: identical integer arithmetic from raw events
    (exact in the below-k regime the registered query pins)."""
    ps = period_seconds * 1_000_000
    return f"""
    with e as (
        select cast(floor(epoch_us({ts_col}) / {ps}) as bigint) as p,
               {key_expr} as k
        from {src}
        where {ts_col} is not null and {key_expr} is not null),
    mx as (select max(p) as mp from e),
    win as (
        select p, k, count(*) as c from e, mx
        where p >= mp - {window - 1} group by p, k),
    scored as (
        select k as key,
               cast(sum(c * (cast(1 as bigint) <<
                    cast(p - (mp - {window - 1}) as int))) as bigint)
                   as decayed_score,
               cast(count(*) as bigint) as n_periods
        from win, mx group by k)
    select key, decayed_score, n_periods from scored
    order by decayed_score desc, key limit {top}
    """
