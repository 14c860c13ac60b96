"""Mergeable bottom-k uniform SAMPLE (fixed-size, deterministic).

Rounds out the sketch family (SURVEY.md §2.3) with the summary a
training-data pipeline reaches for constantly: a *fixed-size uniform
sample of distinct keys* — eval/holdout row sets, spot-check panels,
"show me 1000 random documents" — that is

- **deterministic**: the hash that orders candidates is content-keyed
  (``md5`` computed JVM-side in whole-stage codegen, never in Python),
  so the same corpus yields the same sample on any cluster, any
  partitioning, any engine (the DuckDB oracle reproduces it
  byte-for-byte: ``order by md5(key), key limit k``);
- **mergeable**: ``merge(a, b)`` keeps the k hash-smallest distinct
  keys of the union — associative, commutative, idempotent, so the
  two-phase ``mapInPandas`` partial → driver merge shape of
  ``sketches/base.py`` applies unchanged and only one ≤k-row state per
  partition leaves an executor, never the corpus;
- **uniform over distinct keys**: md5 is uniform on key content, so the
  k retained keys are a simple random sample of the distinct-key set
  (the KMV argument — Beyer et al., SIGMOD'07 — applied to the sample
  itself instead of the count; ``ThetaSketch`` is the count-only cousin
  over xxhash64 digests).

Unlike ``relational/sampling.py::sample_hash`` (Bernoulli: *rate* fixed,
size grows with the corpus) the bottom-k sample has *size* fixed at k
regardless of corpus scale — the property eval sets need.

Duplicate keys may carry different payload columns; the retained row per
key is the lexicographically smallest payload tuple, which keeps merge
associative (min is) and the sample reproducible under any partitioning.

No reference counterpart (XORFilter.Net is membership-only); the sketch
reuses the same two-phase aggregation contract as the rest of the family.
"""

from __future__ import annotations

import pickle

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class BottomKSample:
    """Keep the k md5-smallest distinct keys (plus payload columns).

    ``update`` expects the hash column to already exist (computed
    JVM-side via ``with_sample_hash`` — no per-row Python hashing);
    the sketch itself is pure order statistics over pandas batches.
    """

    HASH_COL = "__bk_hash"

    def __init__(self, k: int, key_col: str):
        assert k >= 1
        self.k = k
        self.key_col = key_col

    # -- MergeableSketch protocol -------------------------------------
    def zero(self) -> pd.DataFrame | None:
        return None  # schema comes from the first batch

    def _cut(self, pdf: pd.DataFrame) -> pd.DataFrame:
        other = [
            c for c in pdf.columns if c not in (self.HASH_COL, self.key_col)
        ]
        pdf = pdf.sort_values(
            [self.HASH_COL, self.key_col, *other], kind="mergesort"
        )
        pdf = pdf.drop_duplicates(subset=[self.key_col], keep="first")
        return pdf.head(self.k).reset_index(drop=True)

    def update(
        self, state: pd.DataFrame | None, pdf: pd.DataFrame
    ) -> pd.DataFrame:
        assert self.HASH_COL in pdf.columns, "call with_sample_hash first"
        if state is None:
            return self._cut(pdf)
        return self._cut(pd.concat([state, pdf], ignore_index=True))

    def merge(
        self, a: pd.DataFrame | None, b: pd.DataFrame | None
    ) -> pd.DataFrame | None:
        if a is None:
            return b
        if b is None:
            return a
        return self._cut(pd.concat([a, b], ignore_index=True))

    def serialize(self, state: pd.DataFrame | None) -> bytes:
        return pickle.dumps(state)

    def deserialize(self, blob: bytes) -> pd.DataFrame | None:
        return pickle.loads(blob)

    def finish(self, state: pd.DataFrame | None) -> pd.DataFrame:
        if state is None:
            return pd.DataFrame(columns=[self.HASH_COL, self.key_col])
        return state


def with_sample_hash(df: DataFrame, key_col: str) -> DataFrame:
    """Attach the content-keyed ordering hash in whole-stage codegen."""
    return df.withColumn(
        BottomKSample.HASH_COL, F.md5(F.col(key_col).cast("string"))
    )


def with_weighted_hash(
    df: DataFrame, key_col: str, weight_col: str, w_max: int = 64
) -> DataFrame:
    """Attach the WEIGHTED ordering hash: the minimum of ``w`` ticket
    hashes ``md5(key:j)``, ``w = clamp(weight, 1, w_max)``.

    This is Efraimidis–Spirakis weighted sampling (keep keys with the
    largest ``u^(1/w)``) realized in *exact* engine-portable arithmetic:
    the min of ``w`` iid uniform hashes has the same ranking
    distribution as ``1 - u^(1/w)`` but needs only string comparisons —
    no ``pow``/``ln``, whose last-ulp behavior differs across engines
    and could flip the k-th/k+1-th boundary. The whole expression is a
    codegen higher-order function (``transform`` + ``array_min``): no
    row explosion, no Python, ``w_max`` bounds the per-row work (and
    caps effective weight — documented clamp, mirrored by the oracle).
    """
    w = f"least(greatest(cast({weight_col} as int), 1), {w_max})"
    return df.withColumn(
        BottomKSample.HASH_COL,
        F.expr(
            f"array_min(transform(sequence(0, {w} - 1),"
            f" j -> md5(concat(cast({key_col} as string), ':',"
            f" cast(j as string)))))"
        ),
    )


def weighted_oracle_sql(
    table: str, key_expr: str, weight_expr: str, k: int, w_max: int = 64
) -> str:
    """DuckDB rendering of the identical selection (exact reproduction)."""
    w = f"least(greatest(cast({weight_expr} as int), 1), {w_max})"
    h = (
        f"list_min(list_transform(range(0, {w}),"
        f" j -> md5(cast({key_expr} as varchar) || ':' || cast(j as varchar))))"
    )
    return (
        f"select key, h from (select distinct {key_expr} as key, {h} as h"
        f" from {table}) t order by h, key limit {k}"
    )


def bottomk_weighted(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    payload_cols: list[str] | None = None,
    w_max: int = 64,
) -> pd.DataFrame:
    """Two-phase fixed-size WEIGHTED sample of distinct keys: inclusion
    probability rises with ``weight_col`` (ticket-min scheme above).
    Same mergeable state shape as :func:`bottomk_sample` — one ≤k-row
    state per partition reaches the driver.

    Note: a duplicated key must carry the same weight for the ranking to
    be well-defined; with conflicting weights the min ticket across
    occurrences wins (equivalent to taking the max weight)."""
    from .base import aggregate

    sk = BottomKSample(k, key_col)
    cols = [BottomKSample.HASH_COL, key_col, *(payload_cols or [])]
    hashed = with_weighted_hash(df, key_col, weight_col, w_max)
    state = aggregate(hashed, cols, sk)
    return sk.finish(state)


def bottomk_sample(
    df: DataFrame,
    key_col: str,
    k: int,
    payload_cols: list[str] | None = None,
) -> pd.DataFrame:
    """Two-phase fixed-size uniform sample of distinct ``key_col`` values.

    Map-side combine (one ≤k-row state per partition) → one driver-side
    merge; returns a pandas DataFrame of ≤k rows sorted by the sample
    hash. Cost at any scale: one corpus scan + O(partitions · k) merge.
    """
    from .base import aggregate

    sk = BottomKSample(k, key_col)
    cols = [BottomKSample.HASH_COL, key_col, *(payload_cols or [])]
    hashed = with_sample_hash(df, key_col)
    state = aggregate(hashed, cols, sk)
    return sk.finish(state)
