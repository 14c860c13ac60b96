"""Custom Python Data Source (sources/synthetic.py): partition planning,
determinism, conv_id filter pushdown, and streaming offset replay."""

from __future__ import annotations

import time

import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    LessThan,
)

from xorfilter_net_spark.sources.synthetic import (
    SyntheticTranscriptsReader,
    SyntheticTranscriptsStreamReader,
    generate_batch,
    register,
)


@pytest.fixture(scope="module")
def syn(spark):
    register(spark)
    return (
        spark.read.format("synthetic_transcripts")
        .option("conversations", 300)
        .load()
    )


class TestBatch:
    def test_schema_and_shape(self, syn):
        assert [f.name for f in syn.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        ]
        assert syn.count() == generate_batch(0, 300, 42, 8).num_rows

    def test_deterministic_across_reads_and_partitionings(self, spark, syn):
        a = sorted(map(tuple, syn.collect()))
        b = sorted(
            map(
                tuple,
                spark.read.format("synthetic_transcripts")
                .option("conversations", 300)
                .option("partitions", 3)  # different split, same rows
                .load()
                .collect(),
            )
        )
        assert a == b

    def test_row_recipe_invariants(self, syn):
        rows = syn.filter("conv_id = 'conv-00000005'").orderBy("turn_idx")
        got = rows.collect()
        # stable ordering: turn_idx dense from 0, ts strictly increasing
        assert [r["turn_idx"] for r in got] == list(range(len(got)))
        ts = [r["ts"] for r in got]
        assert ts == sorted(ts) and len(set(ts)) == len(ts)
        for r in got:
            assert (r["role"] == "tool") == (r["tool"] is not None)

    def test_empty_text_edge_case_present(self, syn):
        # the reference's legal empty-key member
        # (BaseXorFilterTests.cs:386-394) must occur in the corpus
        assert syn.filter("text = ''").count() > 0


class TestPushdown:
    def test_reads_with_pushdown_conf_off(self, spark):
        """A session that sets spark.sql.python.filterPushdown.enabled=false
        (Spark 4 then rejects readers implementing pushFilters) still reads
        the source, filters included, with the same rows."""
        key = "spark.sql.python.filterPushdown.enabled"
        before = spark.conf.get(key, "false")
        spark.conf.set(key, "false")
        try:
            register(spark)
            df = (
                spark.read.format("synthetic_transcripts")
                .option("conversations", 300)
                .load()
            )
            assert df.count() == generate_batch(0, 300, 42, 8).num_rows
            one = df.filter("conv_id = 'conv-00000007'").collect()
            assert {r["conv_id"] for r in one} == {"conv-00000007"}
            assert len(one) == generate_batch(7, 8, 42, 8).num_rows
        finally:
            spark.conf.set(key, before)
            register(spark)

    def test_filters_absorbed_into_range(self):
        r = SyntheticTranscriptsReader({"conversations": "300"})
        rest = list(
            r.pushFilters(
                [
                    EqualTo(("conv_id",), "conv-00000007"),
                    EqualTo(("role",), "user"),  # not ours
                ]
            )
        )
        assert rest == [EqualTo(("role",), "user")]
        assert (r.lo, r.hi) == (7, 8)
        assert [p.value for p in r.partitions()] == [(7, 8)]

    def test_range_filters_narrow_partitions(self):
        r = SyntheticTranscriptsReader(
            {"conversations": "1000", "partitions": "8"}
        )
        list(
            r.pushFilters(
                [
                    GreaterThanOrEqual(("conv_id",), "conv-00000100"),
                    LessThan(("conv_id",), "conv-00000110"),
                ]
            )
        )
        parts = [p.value for p in r.partitions()]
        assert parts[0][0] == 100 and parts[-1][1] == 110

    def test_contradictory_range_is_empty(self, spark):
        df = (
            spark.read.format("synthetic_transcripts")
            .option("conversations", 300)
            .load()
            .filter("conv_id = 'conv-99999999'")
        )
        assert df.count() == 0

    def test_pushdown_correctness_e2e(self, spark, syn):
        # pruned read == full read + post-filter, row for row
        full = sorted(
            map(
                tuple,
                syn.filter(
                    (syn.conv_id >= "conv-00000100")
                    & (syn.conv_id < "conv-00000110")
                ).collect(),
            )
        )
        expect = sorted(
            tuple(r)
            for r in generate_batch(100, 110, 42, 8).to_pandas().itertuples(
                index=False
            )
        )
        assert len(full) == len(expect)
        assert {r[0] for r in full} == {e[0] for e in expect}


class TestStreaming:
    def test_microbatch_ingestion_matches_batch(self, spark):
        register(spark)
        stream = (
            spark.readStream.format("synthetic_transcripts")
            .option("conversations", 400)
            .option("convs_per_batch", 120)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("syn_stream_sink")
            .outputMode("append")
            .start()
        )
        try:
            expected = (
                spark.read.format("synthetic_transcripts")
                .option("conversations", 400)
                .load()
                .count()
            )
            deadline = time.time() + 120
            while time.time() < deadline:
                if spark.table("syn_stream_sink").count() >= expected:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
            q.awaitTermination(30)
        got = spark.table("syn_stream_sink")
        assert got.count() == expected
        # several micro-batches, not one giant one
        assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
        # no duplicate (conv, turn) despite incremental offsets
        assert got.select("conv_id", "turn_idx").distinct().count() == expected

    def test_offset_replay_is_identical(self):
        # read(partitions(start, end)) is a pure function of the range —
        # the exactly-once contract for sink retries
        r = SyntheticTranscriptsStreamReader(
            {"conversations": "500", "convs_per_batch": "100"}
        )
        parts = r.partitions({"conv": 100}, {"conv": 200})
        a = [b for p in parts for b in r.read(p)]
        b = [b2 for p in r.partitions({"conv": 100}, {"conv": 200}) for b2 in r.read(p)]
        assert [x.to_pandas().to_dict() for x in a] == [
            x.to_pandas().to_dict() for x in b
        ]

    def test_latest_offset_caps_at_corpus(self):
        r = SyntheticTranscriptsStreamReader(
            {"conversations": "250", "convs_per_batch": "100"}
        )
        seen = [r.latestOffset()["conv"] for _ in range(5)]
        assert seen == [100, 200, 250, 250, 250]
