"""Spark-side integration: two-phase sketch aggregation, per-group
sketching, XOR filter pipeline, and parity with Spark built-ins
(approx_count_distinct / percentile_approx / df.stat.bloomFilter)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xorfilter_net_spark.filters.spark_build import (
    build_sharded_filter,
    build_filter,
    is_member,
    probe,
)
from xorfilter_net_spark.sketches.base import aggregate, aggregate_by_group
from xorfilter_net_spark.sketches.bloom import BloomSketch
from xorfilter_net_spark.sketches.cms import CmsSketch
from xorfilter_net_spark.sketches.hll import HllSketch
from xorfilter_net_spark.sketches.kll import KllSketch
from xorfilter_net_spark.sketches.tdigest import TDigestSketch
from xorfilter_net_spark.sources.session import load_table
from xorfilter_net_spark.sources.transcripts import (
    load_transcripts,
    with_membership_key,
)


@pytest.fixture(scope="module")
def transcripts(spark, sf_tiny):
    t = with_membership_key(load_transcripts(spark, sf_tiny)).cache()
    t.count()
    return t


def test_transcript_turn_ordering_invariant(transcripts):
    # per-turn text equality under stable (conv_id, turn_idx) ordering:
    # turn_idx dense 0..n-1 within conv, ts strictly increasing with it
    pdf = transcripts.select("conv_id", "turn_idx", "ts_epoch").toPandas()
    for _, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        assert g["turn_idx"].tolist() == list(range(len(g)))
        assert g["ts_epoch"].is_monotonic_increasing


def test_two_phase_bloom_bit_identical_to_local(spark, transcripts):
    """OR-merge is lossless: the distributed two-phase result equals a
    single-process build over the same keys, bit for bit."""
    b = BloomSketch.for_capacity(5000, fpp=0.01, key_col="key")
    st = aggregate(transcripts, ["key"], b)
    local = b.update(
        b.zero(), transcripts.select("key").toPandas()
    )
    assert np.array_equal(st.bits, local.bits)
    keys = transcripts.select("key").toPandas()["key"]
    assert b.contains_series(st, keys).all()


def test_two_phase_bloom_fpr_envelope(spark, transcripts):
    # (df.stat.bloomFilter was removed in Spark 4 — envelope is checked
    # against the published formula instead of the old builtin)
    n = transcripts.select("key").distinct().count()
    b = BloomSketch.for_capacity(n, fpp=0.01, key_col="key")
    st = aggregate(transcripts, ["key"], b)
    keys = transcripts.select("key").distinct().toPandas()["key"]
    assert b.contains_series(st, keys).all()
    non = pd.Series([f"nm{i}" for i in range(5000)])
    assert b.contains_series(st, non).mean() < 0.02
    assert b.expected_fpp(st) < 0.02


def test_two_phase_hll_vs_exact_and_builtin(spark, transcripts):
    h = HllSketch(p=14, key_col="key")
    est = h.estimate(aggregate(transcripts, ["key"], h))
    exact = transcripts.select("key").distinct().count()
    assert abs(est - exact) / exact < 4 * h.rel_std_error
    builtin = transcripts.agg(
        F.approx_count_distinct("key").alias("acd")
    ).collect()[0]["acd"]
    assert abs(builtin - exact) / exact < 0.05  # sanity on the baseline
    # Spark 3.5+ Datasketches HLL builtin as a second baseline
    hll_builtin = transcripts.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("key")).alias("e")
    ).collect()[0]["e"]
    assert abs(hll_builtin - exact) / exact < 0.05


def test_hll_per_group_applyinpandas(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents")
    h = HllSketch(p=12, key_col="text")
    grouped = aggregate_by_group(docs, ["source"], ["text"], h).collect()
    exact = {
        r["source"]: r["n"]
        for r in docs.groupBy("source")
        .agg(F.countDistinct("text").alias("n"))
        .collect()
    }
    assert len(grouped) == len(exact)
    for row in grouped:
        est = h.estimate(h.deserialize(bytes(row["state"])))
        ex = exact[row["source"]]
        assert abs(est - ex) / max(ex, 1) < max(4 * h.rel_std_error, 0.1)


def test_two_phase_cms_exact_on_low_cardinality(spark, sf_tiny):
    ev = load_table(spark, sf_tiny, "events")
    c = CmsSketch(d=5, w=4096, key_col="event_type")
    st = aggregate(ev, ["event_type"], c)
    exact = ev.groupBy("event_type").count().collect()
    types = pd.Series([r["event_type"] for r in exact])
    est = c.estimate_series(st, types)
    for e, r in zip(est, exact):
        assert e == r["count"]  # w >> cardinality: collision-free whp


def test_two_phase_kll_and_tdigest_vs_exact(spark, sf_tiny):
    ev = load_table(spark, sf_tiny, "events")
    vals = ev.select("value").toPandas()["value"].to_numpy()
    k = KllSketch(k=200, value_col="value")
    t = TDigestSketch(delta=200, value_col="value")
    kst = aggregate(ev, ["value"], k)
    tst = aggregate(ev, ["value"], t)
    for q in (0.1, 0.5, 0.9, 0.99):
        for est in (k.quantile(kst, q), t.quantile(tst, q)):
            assert abs((vals <= est).mean() - q) < 0.02
    # percentile_approx as sanity oracle for the same data
    pa = ev.agg(F.percentile_approx("value", 0.5).alias("m")).collect()[0]["m"]
    assert abs((vals <= pa).mean() - 0.5) < 0.02


def test_two_phase_partition_count_invariance(spark, transcripts):
    """north_rule merge-associativity on the real execution path: same
    input under 1, 4, 16 partitions -> identical HLL registers and Bloom
    bits (lossless merges)."""
    h = HllSketch(p=12, key_col="key")
    b = BloomSketch(m_bits=1 << 16, k=5, key_col="key")
    ref_h = aggregate(transcripts.coalesce(1), ["key"], h)
    ref_b = aggregate(transcripts.coalesce(1), ["key"], b)
    for parts in (4, 16):
        d = transcripts.repartition(parts)
        assert np.array_equal(aggregate(d, ["key"], h), ref_h)
        assert np.array_equal(aggregate(d, ["key"], b).bits, ref_b.bits)


def test_xor_global_and_sharded_pipeline(spark, transcripts):
    xf = build_filter(transcripts, "key", width=16, seed=12345)
    total = transcripts.select("key").distinct().count()
    assert (
        probe(transcripts.select("key").distinct(), xf, "key")
        .filter("is_member")
        .count()
        == total
    )
    sxf = build_sharded_filter(
        transcripts, "key", num_shards=5, width=16, seed=12345
    )
    found = (
        transcripts.select("key")
        .distinct()
        .withColumn("m", is_member(spark, sxf, "key"))
        .filter("m")
        .count()
    )
    assert found == total


class TestJvmDigestPath:
    """Scale-path variant: xxhash64 digests in whole-stage codegen."""

    def test_zero_false_negatives_and_fpr(self, spark, sf_tiny):
        from pyspark.sql import functions as F

        from xorfilter_net_spark.filters.spark_build import (
            build_sharded_filter,
            is_member,
        )
        from xorfilter_net_spark.sources.transcripts import (
            load_transcripts,
            with_membership_key,
        )

        t = with_membership_key(load_transcripts(spark, sf_tiny))
        members = t.select("key").distinct().persist()
        n = members.count()
        sxf = build_sharded_filter(
            members, "key", num_shards=8, width=16, seed=9, jvm_digests=True
        )
        assert sxf.digest_kind == "xxhash64jvm"
        found = (
            members.withColumn("m", is_member(spark, sxf, "key"))
            .agg(F.sum(F.col("m").cast("long")).alias("n"))
            .collect()[0]["n"]
        )
        assert found == n
        fp = (
            members.selectExpr("'nm:' || key as key")
            .withColumn("m", is_member(spark, sxf, "key"))
            .agg(F.sum(F.col("m").cast("long")).alias("n"))
            .collect()[0]["n"]
        )
        # XOR16 bound: reference allows <0.5% at 2k probes
        assert fp / n < 0.005
        members.unpersist()

    def test_in_shard_dedup_matches_shuffle_dedup(self, spark, sf_tiny):
        from xorfilter_net_spark.filters.spark_build import (
            build_sharded_filter,
        )
        from xorfilter_net_spark.sources.transcripts import (
            load_transcripts,
            with_membership_key,
        )

        t = with_membership_key(load_transcripts(spark, sf_tiny))
        # triple the input (duplicates) - dedup strategies must agree
        tripled = t.unionAll(t).unionAll(t)
        a = build_sharded_filter(
            tripled, "key", num_shards=4, width=16, seed=5,
            jvm_digests=True, dedup="in_shard",
        )
        b = build_sharded_filter(
            tripled, "key", num_shards=4, width=16, seed=5,
            jvm_digests=True, dedup="shuffle",
        )
        da, db = a.to_dict(), b.to_dict()
        for d in (da, db):  # metrics carry wall times; artifact bits must match
            for sh in d["shards"].values():
                sh.pop("metrics")
        assert da == db


class TestSqlProbe:
    """Zero-Python probe: sqlhash addressing + broadcast-join slot lookup."""

    def test_xxh64_numpy_matches_spark_builtin(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from xorfilter_net_spark.kernels.hashes import spark_xxhash64_longs

        rng = np.random.default_rng(11)
        vals = rng.integers(-(2**63), 2**63 - 1, 200, dtype=np.int64)
        salts = rng.integers(-(2**63), 2**63 - 1, 200, dtype=np.int64)
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(vals, salts)], "a long, b long"
        )
        got1 = [r["h"] for r in df.select(F.xxhash64("a").alias("h")).collect()]
        got2 = [r["h"] for r in df.select(F.xxhash64("a", "b").alias("h")).collect()]
        m1 = spark_xxhash64_longs([vals.view(np.uint64)]).view(np.int64)
        m2 = spark_xxhash64_longs(
            [vals.view(np.uint64), salts.view(np.uint64)]
        ).view(np.int64)
        assert [int(x) for x in m1] == [int(g) for g in got1]
        assert [int(x) for x in m2] == [int(g) for g in got2]

    def test_sql_probe_row_parity_with_arrow_probe(self, spark, sf_tiny):
        """SQL probe and Arrow probe must agree on EVERY row — including
        identical false positives (bit-exact addressing parity)."""
        from pyspark.sql import functions as F

        from xorfilter_net_spark.filters.spark_build import (
            build_sharded_filter,
            is_member,
            probe_sql,
        )
        from xorfilter_net_spark.sources.transcripts import (
            load_transcripts,
            with_membership_key,
        )

        t = with_membership_key(load_transcripts(spark, sf_tiny))
        members = t.select("key").distinct().persist()
        n = members.count()
        sxf = build_sharded_filter(
            members, "key", num_shards=32, width=8, seed=77, jvm_digests=True
        )
        assert sxf.mode == "sqlhash"
        mixed = members.unionAll(
            members.selectExpr("'nm:' || key as key")
        ).persist()
        mism = (
            probe_sql(sxf, mixed, "key")
            .withColumnRenamed("is_member", "m_sql")
            .join(
                mixed.withColumn(
                    "m_arrow", is_member(spark, sxf, "key")
                ),
                "key",
            )
            .filter(F.col("m_sql") != F.col("m_arrow"))
            .count()
        )
        assert mism == 0
        found = (
            probe_sql(sxf, members, "key")
            .agg(F.sum(F.col("is_member").cast("long")).alias("n"))
            .collect()[0]["n"]
        )
        assert found == n
        members.unpersist()
        mixed.unpersist()

    def test_sql_probe_absent_shards(self, spark):
        """With far more shards than keys, most shards are empty; probes
        routed to them must come back False via the present-mask, not
        crash or false-positive."""
        from pyspark.sql import functions as F

        from xorfilter_net_spark.filters.spark_build import (
            build_sharded_filter,
            probe_sql,
        )

        few = spark.createDataFrame(
            [(f"k{i}",) for i in range(5)], "key string"
        )
        sxf = build_sharded_filter(
            few, "key", num_shards=64, width=16, seed=2, jvm_digests=True
        )
        assert len(sxf.shards) < 64
        probes = spark.createDataFrame(
            [(f"k{i}",) for i in range(500)], "key string"
        )
        rows = probe_sql(sxf, probes, "key").collect()
        got = {r["key"]: r["is_member"] for r in rows}
        assert len(got) == 500
        assert all(got[f"k{i}"] for i in range(5))
        extra = sum(got[f"k{i}"] for i in range(5, 500))
        assert extra <= 2  # XOR16 FPR leaves ~0 expected over 495 probes


def test_load_table_catalog_path(spark, sf_tiny, tmp_path):
    """`catalog:<ns>` resolves through the session catalog — the same
    read path an Iceberg catalog serves in production (no Iceberg
    runtime in this sandbox, so a session-catalog external table stands
    in; the resolution code is identical)."""
    from xorfilter_net_spark.sources.session import load_table

    src = load_table(spark, sf_tiny, "events")
    spark.sql("drop table if exists xfns_cat_events")
    src.write.option("path", str(tmp_path / "events_tbl")).saveAsTable(
        "xfns_cat_events"
    )
    try:
        via_catalog = load_table(spark, "catalog:", "xfns_cat_events")
        assert via_catalog.count() == src.count()
        assert set(via_catalog.columns) == set(src.columns)
    finally:
        spark.sql("drop table if exists xfns_cat_events")


def test_extra_conf_env_applied(monkeypatch):
    """SPARK_GRAFT_EXTRA_CONF JSON merges into the session conf dict
    (the Iceberg-catalog deployment hook), last-wins over defaults."""
    import json as _json

    from xorfilter_net_spark.sources.session import session_confs

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        _json.dumps(
            {
                "spark.sql.catalog.prod": "org.apache.iceberg.spark.SparkCatalog",
                "spark.sql.shuffle.partitions": "999",
            }
        ),
    )
    confs = session_confs(8)
    assert confs["spark.sql.catalog.prod"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.shuffle.partitions"] == "999"  # extra wins
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF")
    assert session_confs(8)["spark.sql.shuffle.partitions"] == "8"


def test_write_dataset_partitioned_bounded_files(spark, sf_tiny, tmp_path):
    from pathlib import Path

    from xorfilter_net_spark.sources.session import load_table
    from xorfilter_net_spark.sources.sinks import write_dataset

    docs = load_table(spark, sf_tiny, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_dataset(docs, out, partition_cols=["lang"], files_per_partition=3)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)
    # layout: hive dirs per lang, each with a bounded file count
    lang_dirs = [p for p in Path(out).iterdir() if p.name.startswith("lang=")]
    assert len(lang_dirs) == docs.select("lang").distinct().count()
    for d in lang_dirs:
        n_files = len(list(d.glob("*.parquet")))
        assert 1 <= n_files <= 3
    # round-trip values (doc_id is unique)
    a = sorted(r["doc_id"] for r in back.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert a == b


def test_scan_pushdown_and_column_pruning(spark, sf_tiny):
    """Declarative plans must reach the parquet scan: the filter shows
    in PushedFilters and the ReadSchema carries only selected columns."""
    from xorfilter_net_spark.sources.session import load_table

    ev = load_table(spark, sf_tiny, "events")
    df = ev.filter(ev.event_type == "click").select("user_id", "value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan
    rs = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "user_id" in rs and "value" in rs and "event_type" in rs
    assert "props" not in rs and "event_id" not in rs  # pruned
