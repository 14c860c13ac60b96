"""Sketch-driven equal-count binning (the scale path for ntile).

``ntile(k) OVER (ORDER BY col)`` is exact but plans a single-partition
global sort — unusable at corpus scale. The standard large-scale
substitute is a two-pass split:

1. one cheap corpus pass folds ``col`` into a mergeable KLL quantile
   sketch (``sketches/kll.py``; two-phase ``mapInPandas`` partials +
   driver merge — the same shape as every sketch here), whose
   1/k .. (k-1)/k quantile estimates become the bin cutpoints;
2. a map-only codegen pass assigns ``bucket = 1 + sum(col > cut_i)`` —
   a flat chain of comparisons, zero shuffle, zero Python, trivially
   parallel at any cluster size.

Accuracy inherits KLL's published rank-error bound (rank error eps with
high probability for sketch size O((1/eps) * sqrt(log(1/delta)))): each
produced bin's mass is within ~2*eps of 1/k, independent of data size.
The exact ``ntile`` window (``q_ntile_doc_length_buckets``) doubles as
the small-scale oracle.

Reference parity note: the reference library (XORFilter.Net) has no
quantile surface at all — this is part of the mandated north_rule sketch
family applied as a training-data curation primitive (quality tiers,
length-balanced sampling strata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantile_cutpoints(
    df: DataFrame, col: str, n_bins: int, k: int = 256, seed: int = 7
) -> list[float]:
    """One distributed pass -> ``n_bins - 1`` approximate cutpoints."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    from ..sketches.base import aggregate
    from ..sketches.kll import KllSketch

    sk = KllSketch(k=k, value_col=col, seed=seed)
    st = aggregate(df.select(col), [col], sk)
    return [float(sk.quantile(st, i / n_bins)) for i in range(1, n_bins)]


def assign_bins(
    df: DataFrame, col: str, cutpoints: list[float], out_col: str = "bucket"
) -> DataFrame:
    """Map-only codegen bin assignment: ``1 + sum(col > cut_i)``.

    Values <= cut_1 land in bucket 1, values > the last cut in bucket
    ``len(cutpoints) + 1`` — identical tie handling to ``ntile`` when the
    cutpoints are the exact quantile boundaries.
    """
    c = F.col(col)
    bucket = F.lit(1)
    for cut in cutpoints:
        bucket = bucket + F.when(c > F.lit(cut), 1).otherwise(0)
    return df.withColumn(out_col, bucket.cast("int"))


def quantile_bins(
    df: DataFrame,
    col: str,
    n_bins: int,
    out_col: str = "bucket",
    k: int = 256,
    seed: int = 7,
) -> tuple[DataFrame, list[float]]:
    """Two-pass equal-count binning; returns (binned df, cutpoints)."""
    cuts = quantile_cutpoints(df, col, n_bins, k=k, seed=seed)
    return assign_bins(df, col, cuts, out_col=out_col), cuts


def _le_key_expr(order_cols: list[str], dts: dict, bound_row: tuple) -> "F.Column":
    """Null-aware lexicographic ``key <= bound`` matching Spark's default
    ascending NULLS FIRST sort order: a null key field sorts before every
    non-null value, so a row with a null in any order column compares
    ``<=`` any bound with a non-null value there. ``bound_row`` never
    contains None (null-keyed rows are filtered from the boundary
    sample), so only the column side needs the null branch."""
    expr = F.lit(True)
    for c, v in reversed(list(zip(order_cols, bound_row))):
        a = F.col(c)
        b = F.lit(v).cast(dts[c])
        expr = a.isNull() | (a < b) | ((a == b) & expr)
    return expr


def _range_bucket_expr(les: list) -> "F.Column":
    """Binary-search CASE tree mapping a key onto the bucket id in
    ``[0, len(les)]`` defined by the per-boundary ``key <= bound_i``
    predicates: O(log p) comparisons per row, pure codegen."""

    def build(lo: int, hi: int):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(les[mid], build(lo, mid)).otherwise(build(mid + 1, hi))

    return build(0, len(les)) if les else F.lit(0)


def exact_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
    sample_per_partition: int = 100,
) -> DataFrame:
    """EXACT ``ntile(n) OVER (ORDER BY order_cols)`` without the
    single-partition global sort — the distributed two-pass rank idiom,
    with all driver-collected state embedded as plan LITERALS so the
    result is a pure deterministic function of the input (no persist or
    checkpoint needed for correctness; every stage replays on executor
    loss):

    1. a seeded, column-pruned sample collect picks ``p - 1`` range
       boundary literals over the order key (bounded: ~100 rows per
       target partition on the driver, never the corpus);
    2. a map-only O(log p) binary-search CASE assigns each row its
       range bucket; one light aggregate (p rows) gives each bucket its
       global rank offset — valid under ANY recomputation because the
       bucket is a function of the row, not of a physical partition id;
    3. the single corpus shuffle hash-partitions on the bucket id; an
       in-partition sort + map-only pandas pass adds per-bucket local
       position to the broadcast offsets and applies the exact ntile
       split (first ``N mod B`` buckets get ``ceil(N/B)`` rows).

    Output = input columns + ``out_col``. Bit-identical to the window
    ``ntile`` whenever ``order_cols`` is a total order (add a unique
    tiebreaker column, as ``ntile``'s peer-row nondeterminism does
    otherwise). Null order keys follow Spark's default ascending NULLS
    FIRST ordering — they land in the first bucket(s), exactly as the
    window does (the range comparison is null-aware and the boundary
    sample drops null-keyed rows, so nulls can never skew or crash the
    driver-side boundary pick). Scale: one corpus shuffle, two extra
    column-pruned scans (sample + offsets), O(p) driver state.

    Determinism requirement: the input must be stable across
    recomputations (no unseeded ``rand()``, no unstable ``limit``) —
    the boundary/offset literals are collected once, so a source that
    returns different rows on re-scan skews bucket sizes; a bucket that
    appears at assign time but was absent from the count pass raises a
    descriptive ValueError instead of a bare KeyError. ``persist()``
    the input first if it is nondeterministic.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    cols = list(df.columns)
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    dts = {c: df.schema[c].dataType for c in order_cols}

    # 1. boundary literals from a seeded sample (deterministic once
    # collected — they live in the plan as literals from here on).
    # Null-keyed rows are dropped from the sample: they sort before
    # every boundary anyway (NULLS FIRST), and None tuples would crash
    # the driver-side sorted().
    n = df.count()
    if n == 0:
        return df.select(
            *cols, F.lit(None).cast("integer").alias(out_col)
        )
    frac = min(1.0, (sample_per_partition * p) / n)
    sample = sorted(
        tuple(row)
        for row in (
            df.select(*order_cols).sample(fraction=frac, seed=42)
            if frac < 1.0
            else df.select(*order_cols)
        ).collect()
        if all(v is not None for v in row)
    )
    bounds = []
    for i in range(1, p):
        cand = sample[(i * len(sample)) // p] if sample else None
        if cand is not None and (not bounds or cand != bounds[-1]):
            bounds.append(cand)
    les = [_le_key_expr(order_cols, dts, row) for row in bounds]
    bkt = _range_bucket_expr(les)
    df2 = df.withColumn("__bkt", bkt.cast("int"))

    # 2. per-bucket counts -> global rank offsets (p-row collect)
    counts = {
        int(r["__bkt"]): int(r["n"])
        for r in df2.groupBy("__bkt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(counts.values())
    offsets, off = {}, 0
    for b in sorted(counts):
        offsets[b] = off
        off += counts[b]
    q, r = divmod(total, n_buckets)

    def assign(batches):
        import numpy as np

        local: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            bkts = pdf["__bkt"].to_numpy()
            pos = np.empty(len(pdf), dtype=np.int64)
            start = 0
            while start < len(bkts):
                b = int(bkts[start])
                end = start
                while end < len(bkts) and bkts[end] == b:
                    end += 1
                base = local.get(b, 0)
                off0 = offsets.get(b)
                if off0 is None:
                    raise ValueError(
                        f"exact_ntile: bucket {b} appeared at assign time"
                        " but not in the count pass — the input DataFrame"
                        " is nondeterministic across recomputations (e.g."
                        " unseeded rand(), unstable limit). exact_ntile"
                        " requires a deterministic input; persist() it"
                        " first."
                    )
                pos[start:end] = off0 + base + np.arange(end - start)
                local[b] = base + (end - start)
                start = end
            if q == 0:
                bucket = pos + 1  # more buckets than rows
            else:
                head = r * (q + 1)
                bucket = np.where(
                    pos < head,
                    pos // (q + 1) + 1,
                    (pos - head) // q + r + 1,
                )
            out = pdf[cols].copy()
            out[out_col] = bucket.astype(np.int32)
            yield out

    # fresh StructType — StructType.add mutates in place, and df.schema
    # is the DataFrame's cached instance
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType())]
    )
    return (
        df2.repartition(p, "__bkt")
        .sortWithinPartitions("__bkt", *order_cols)
        .mapInPandas(assign, schema=schema)
    )
