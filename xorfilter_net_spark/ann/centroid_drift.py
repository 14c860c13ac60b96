"""Per-group embedding centroid geometry (slice drift / label separation).

The cheapest useful embedding-space monitor at corpus scale: reduce
each slice (a label, an ingest batch, a time window) to its CENTROID
and compare centroids pairwise by cosine. A new batch whose centroid
swings away from the corpus centroid is distribution drift caught in
one aggregate; label centroids that collapse onto each other flag a
broken embedding model. This complements the sketch-based feature
drift report (sketches/drift.py) with the embedding-native signal.

Exactness across engines: each float component is quantized FIRST
(``floor(x * 1000)`` as int64 — the repo's cos_e6 idiom), so the
per-group per-dimension SUMS are exact integer arithmetic with no
float-accumulation order sensitivity, and the cosine between two
*sum* vectors equals the cosine between the means (scale invariance)
without ever dividing by counts. One correctly-rounded double
division at the end produces the e6-quantized cosine — bit-identical
in any ANSI engine.

Scale shape (the 100 TB plan): posexplode is codegen fan-out of the
scan; the ONE exchange is keyed (group, dim) — g x d rows after the
map-side partial sum, independent of corpus size. The pairwise stage
operates on g centroids (g groups, never the corpus); with thousands
of groups it is a tiny broadcast self-join.

No reference counterpart; mandated embedding-pipeline adjacency.
Value-exact DuckDB oracle (centroid_oracle_sql) replays the identical
quantize + sum + cosine program.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def centroid_pairs(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(group_a, group_b, n_a, n_b, cos_e6) for every unordered group
    pair (group_a < group_b): the e6-quantized cosine between the two
    groups' quantized-sum centroid vectors. Groups keep their column
    type (string labels, batch ids, and time windows all work — the
    pair ordering is the type's own `<`)."""
    q = F.floor(F.col("x").cast("double") * 1000).cast("long")
    sums = (
        emb.select(
            F.col(group_col).alias("grp"),
            F.posexplode(vec_col).alias("dim", "x"),
        )
        .select("grp", "dim", q.alias("q"))
        .groupBy("grp", "dim")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("cnt"))
        # the guard below is an action; persisting lets the pair stage
        # read the g x d table instead of re-running the corpus aggregate
        .persist()
    )
    # int64 guard on the g x d table (tiny — one scalar collect, the
    # kmeans-state pattern): the pair stage sums d products of
    # quantized-sum pairs, each bounded by max|s|^2, so d * max|s|^2
    # must fit in int64 or Spark's long sum overflows (ANSI: hard
    # error; non-ANSI: silent wrap) while the DuckDB oracle's HUGEINT
    # promotion sails on — the exact divergence this module promises
    # not to have. The loud raise is the repo convention
    # (sketches/decay.py's 'exceeds int64'). The same aggregate rejects
    # ragged vectors: a vector of length L adds L to the cell count and
    # 1 to dim 0's, so cells == d * vectors iff every vector has length d
    # (a shorter one would silently pair zero-filled dims).
    chk = sums.agg(
        F.max(F.abs(F.col("s"))).alias("m"),
        (F.max("dim") + 1).alias("d"),
        F.sum("cnt").alias("cells"),
        F.sum(F.when(F.col("dim") == 0, F.col("cnt"))).alias("vecs"),
    ).first()
    if chk is not None and chk["m"] is not None:
        m, d = int(chk["m"]), int(chk["d"])
        if chk["cells"] != d * chk["vecs"]:
            raise ValueError(
                f"ragged {vec_col!r} vectors: every vector must have the "
                f"same length (longest is {d})"
            )
        if d * m * m >= 2**63:
            raise ValueError(
                f"centroid dot product exceeds int64 (d={d}, max|sum|={m}); "
                "pre-scale the vectors or split groups"
            )
    # per-group row count = any dimension's count (all dims present on
    # every vector, checked above); take dim 0's
    counts = sums.filter(F.col("dim") == 0).select(
        "grp", F.col("cnt").cast("long").alias("n")
    )
    a = sums.select(
        F.col("grp").alias("ga"), "dim", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("grp").alias("gb"), "dim", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).alias("na2"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb2"),
        )
    )
    return (
        dots.join(counts.withColumnsRenamed({"grp": "ga", "n": "n_a"}), "ga")
        .join(counts.withColumnsRenamed({"grp": "gb", "n": "n_b"}), "gb")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            # a zero-norm centroid has no direction: NULL, as the oracle
            F.floor(
                1000000.0
                * F.col("dot").cast("double")
                / F.nullif(
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double")),
                    F.lit(0.0),
                )
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )


def centroid_oracle_sql(
    src: str = "embeddings",
    group_col: str = "label",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of the identical quantize + sum + cosine program."""
    return f"""
    with exploded as (
        select cast({group_col} as bigint) as grp,
               unnest(range(0, len({vec_col}))) as dim,
               floor(unnest({vec_col})::double * 1000)::bigint as q
        from {src}),
    sums as (
        select grp, dim, sum(q) as s, count(*) as cnt
        from exploded group by grp, dim),
    counts as (select grp, cast(cnt as bigint) as n from sums where dim = 0),
    dots as (
        select a.grp as ga, b.grp as gb,
               sum(a.s * b.s) as dot,
               sum(a.s * a.s) as na2,
               sum(b.s * b.s) as nb2
        from sums a join sums b using (dim)
        where a.grp < b.grp
        group by a.grp, b.grp)
    select d.ga as group_a, d.gb as group_b,
           ca.n as n_a, cb.n as n_b,
           cast(floor(1000000.0 * d.dot::double /
                nullif(sqrt(d.na2::double) * sqrt(d.nb2::double), 0))
                as bigint) as cos_e6
    from dots d
    join counts ca on ca.grp = d.ga
    join counts cb on cb.grp = d.gb
    """
