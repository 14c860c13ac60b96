"""Watermarked windowed streaming aggregation + applyInPandasWithState.

Covers the two streaming surfaces in ``streaming/windowed.py``:
- event-time windows with a watermark: late-within-watermark rows are
  counted, rows older than a closed window are dropped (the Structured
  Streaming contract for out-of-order 10^12-turn ingest);
- per-group running sketches held in the streaming state store, with
  batch==stream parity of the final estimates.
"""

import os
import time
from datetime import datetime

from pyspark.sql import functions as F

from xorfilter_net_spark.sketches.hll import HllSketch
from xorfilter_net_spark.streaming.windowed import (
    stateful_group_sketch,
    windowed_distinct,
)


def _write_slice(df, path: str, mtime: float) -> None:
    """One parquet file per slice with a pinned mtime so the file stream
    source (which orders by modification time) sees slices in order."""
    df.repartition(1).write.mode("overwrite").parquet(path)
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


def _ts(minute: int, second: int = 0):
    return datetime(2026, 1, 1, 10, minute, second)


class TestWindowedWatermark:
    def test_late_row_accepted_too_late_row_dropped(self, spark, tmp_path):
        base = time.time() - 3600
        schema = "user_id long, ts timestamp"
        # slice 0: 8 users inside window [10:00, 10:05)
        s0 = spark.createDataFrame(
            [(u, _ts(0, 7 * u)) for u in range(8)], schema
        )
        # slice 1: watermark (from slice 0 max 10:01:10 minus 5m) is far
        # below 10:05, so a late row at 10:02 still lands in the open
        # window; the 10:20 rows then advance the watermark past 10:05
        s1 = spark.createDataFrame(
            [(100, _ts(20)), (101, _ts(21)), (8, _ts(2))], schema
        )
        # slice 2: on-time row; the late-events watermark (which lags the
        # eviction watermark by one batch) catches up to 10:16 here
        s2 = spark.createDataFrame([(200, _ts(22))], schema)
        # slice 3: too late — the [10:00, 10:05) window closed when the
        # watermark passed 10:05; this row must be dropped
        s3 = spark.createDataFrame([(9, _ts(1))], schema)
        for i, s in enumerate((s0, s1, s2, s3)):
            _write_slice(s, str(tmp_path / f"s{i}"), base + 10 * i)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "s*"))
        )
        out = windowed_distinct(
            stream, "ts", "user_id",
            window_duration="5 minutes", watermark_delay="5 minutes",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("wm_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {
            r["window"]["start"].minute: (r["approx_distinct"], r["n_rows"])
            for r in spark.sql("select * from wm_test").collect()
        }
        # the first window emitted on close with the late row counted
        # (9 rows: users 0..8) and without the too-late user 9
        assert rows[0] == (9, 9)

    def test_batch_stream_parity_complete_mode(self, spark, sf_tiny, tmp_path):
        # parquet ts is TIMESTAMP_NTZ; event-time watermarks require TIMESTAMP
        ev = spark.read.parquet(f"{sf_tiny}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        batch = {
            (r["window"]["start"], r["window"]["end"]): (
                r["approx_distinct"],
                r["n_rows"],
            )
            for r in windowed_distinct(
                ev, "ts", "user_id", "1 hour", "1 hour"
            ).collect()
        }
        # stage into a directory (file streams read dirs, sf events is a file)
        src = str(tmp_path / "events_src")
        ev.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            windowed_distinct(stream, "ts", "user_id", "1 hour", "1 hour")
            .writeStream.format("memory")
            .queryName("parity_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = {
            (r["window"]["start"], r["window"]["end"]): (
                r["approx_distinct"],
                r["n_rows"],
            )
            for r in spark.sql("select * from parity_test").collect()
        }
        assert streamed == batch and len(batch) > 0


class TestStatefulGroupSketch:
    def test_running_hll_matches_batch(self, spark, sf_tiny, tmp_path):
        ev = spark.read.parquet(f"{sf_tiny}/events.parquet")
        # three temporal slices -> three micro-batches updating state
        base = time.time() - 3600
        slices = [
            ev.filter(f"event_id % 3 = {i}").select("event_type", "user_id")
            for i in range(3)
        ]
        for i, s in enumerate(slices):
            _write_slice(s, str(tmp_path / f"e{i}"), base + 10 * i)

        stream = (
            spark.readStream.schema(slices[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "e*"))
        )
        sk = HllSketch(p=12, key_col="user_id")
        out = stateful_group_sketch(
            stream, "event_type", ["user_id"], sk,
            finish=lambda s, st: s.estimate(st),
        )
        q = (
            out.writeStream.format("memory")
            .queryName("state_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pdf = spark.sql("select * from state_test").toPandas()
        # the last emission per group reflects ALL rows of that group
        final = (
            pdf.sort_values("n_rows").groupby("group").last()["estimate"]
        )
        from xorfilter_net_spark.sketches.base import aggregate_by_group

        batch_states = {
            r["event_type"]: sk.estimate(sk.deserialize(bytes(r["state"])))
            for r in aggregate_by_group(
                ev, ["event_type"], ["user_id"], sk
            ).collect()
        }
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert set(final.index) == set(batch_states)
        for g, est in final.items():
            # stream == batch (same sketch, same rows — merge associativity;
            # the operator emits the estimate truncated to long)
            assert est == int(batch_states[g])
            # and within the published HLL bound of the exact count
            assert abs(est - exact[g]) / max(exact[g], 1) <= 4 * sk.rel_std_error

        # rows accumulate across micro-batches (state survived batches)
        totals = pdf.groupby("group")["n_rows"].max()
        counts = {
            r["event_type"]: r["c"]
            for r in ev.groupBy("event_type").agg(F.count("*").alias("c")).collect()
        }
        for g, n in totals.items():
            assert n == counts[g]


class TestStreamingDedup:
    def test_redelivered_rows_emitted_once(self, spark, tmp_path):
        from xorfilter_net_spark.streaming.windowed import streaming_dedup

        base = time.time() - 3600
        schema = "event_id long, user_id long, ts timestamp"
        # slice 0: events 1-3
        s0 = spark.createDataFrame(
            [(1, 10, _ts(0)), (2, 11, _ts(1)), (3, 12, _ts(2))], schema
        )
        # slice 1: event 2 redelivered (same key, within the watermark)
        # plus a genuinely new event 4
        s1 = spark.createDataFrame([(2, 11, _ts(1)), (4, 13, _ts(3))], schema)
        # slice 2: event 1 redelivered again, new event 5
        s2 = spark.createDataFrame([(1, 10, _ts(0)), (5, 14, _ts(4))], schema)
        for i, s in enumerate((s0, s1, s2)):
            _write_slice(s, str(tmp_path / f"d{i}"), base + 10 * i)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "d*"))
        )
        out = streaming_dedup(stream, ["event_id"], "ts", "10 minutes")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = [
            r["event_id"]
            for r in spark.sql("select event_id from dedup_test").collect()
        ]
        assert sorted(got) == [1, 2, 3, 4, 5]  # each exactly once

    def test_batch_parity(self, spark, sf_tiny):
        from xorfilter_net_spark.streaming.windowed import streaming_dedup

        ev = spark.read.parquet(f"{sf_tiny}/events.parquet")
        # batch fallback is plain dropDuplicates on the key columns
        n = streaming_dedup(ev, ["user_id"], "ts").count()
        assert n == ev.select("user_id").distinct().count()


class TestStreamStreamJoin:
    """interval_join_stream: watermarked stream-stream event-time join."""

    @staticmethod
    def _sides(df):
        clicks = df.filter("event_type = 'click'").select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        views = df.filter("event_type = 'view'").select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        return clicks, views

    def test_stream_matches_batch_across_microbatches(self, spark, sf_tiny, tmp_path):
        from xorfilter_net_spark.streaming.joins import interval_join_stream

        ev = spark.read.parquet(f"{sf_tiny}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        args = (["user_id"], "click_ts", "view_ts", "-24 hours", "0 seconds")
        expected = {
            (r["click_id"], r["view_id"])
            for r in interval_join_stream(*self._sides(ev), *args).collect()
        }
        # the batch operator itself must equal the naive inequality join
        c, v = self._sides(ev)
        naive = {
            (r["click_id"], r["view_id"])
            for r in c.join(v, "user_id").filter(
                "view_ts >= click_ts - INTERVAL 24 hours "
                "AND view_ts <= click_ts"
            ).collect()
        }
        assert expected == naive and len(expected) > 0

        # stream: 4 files, one per micro-batch — rows are randomly spread
        # across files, so most matches pair rows from DIFFERENT batches
        # and must come out of the retained join state. The generous
        # watermark only relaxes eviction, never adds matches.
        src = str(tmp_path / "ev_join_src")
        ev.repartition(4).write.parquet(src)

        def stream():
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        sc, sv = self._sides(stream())
        q = (
            interval_join_stream(
                sc, sv, *args, watermark_delay="60 days"
            )
            .writeStream.format("memory")
            .queryName("ssjoin_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["click_id"], r["view_id"])
            for r in spark.sql(
                "select click_id, view_id from ssjoin_test"
            ).collect()
        }
        assert got == expected

    def test_left_outer_emits_unmatched(self, spark):
        from xorfilter_net_spark.streaming.joins import interval_join_stream

        clicks = spark.createDataFrame(
            [(1, _ts(0), 100), (2, _ts(0), 200)],
            "user_id long, click_ts timestamp, click_id long",
        )
        views = spark.createDataFrame(
            [(1, _ts(0, 30), 10), (1, datetime(2026, 1, 1, 9), 11),
             (3, _ts(0, 30), 12)],
            "user_id long, view_ts timestamp, view_id long",
        )
        # views joinable if within the hour BEFORE the click... note
        # view at 10:00:30 is AFTER the 10:00 click -> excluded
        out = interval_join_stream(
            clicks, views, ["user_id"], "click_ts", "view_ts",
            "-1 hours", "0 seconds", how="left_outer",
        ).collect()
        rows = {(r["click_id"], r["view_id"]) for r in out}
        assert rows == {(100, 11), (200, None)}


class TestStreamingSessionize:
    def test_sessions_merge_across_microbatches(self, spark, tmp_path):
        """A session split across triggers must come out as ONE session:
        the state store keeps the open session and extends/merges it when
        the next micro-batch delivers events within the gap."""
        from xorfilter_net_spark.relational import sessionize

        base = time.time() - 3600
        schema = "user_id long, ts timestamp"
        # slice 0: user 1 events at 10:00 and 10:10 (one open session);
        # user 2 at 10:00 (its own session)
        s0 = spark.createDataFrame(
            [(1, _ts(0)), (1, _ts(10)), (2, _ts(0))], schema
        )
        # slice 1: user 1 at 10:25 (within 30m of 10:10 -> same session);
        # user 2 at 10:45 (gap 45m > 30m -> NEW session)
        s1 = spark.createDataFrame([(1, _ts(25)), (2, _ts(45))], schema)
        for i, s in enumerate((s0, s1)):
            _write_slice(s, str(tmp_path / f"s{i}"), base + 10 * i)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "s*"))
        )
        sess = sessionize(
            stream, key="user_id", ts="ts", gap="30 minutes",
            watermark_delay="1 hour",
        )
        q = (
            sess.writeStream.format("memory")
            .queryName("sess_merge_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["user_id"], r["session_start"], r["n_events"])
            for r in spark.table("sess_merge_sink").collect()
        }
        assert got == {
            (1, _ts(0), 3),   # one merged session spanning both batches
            (2, _ts(0), 1),
            (2, _ts(45), 1),  # split by the 45-minute gap
        }

    def test_batch_parity(self, spark, sf_tiny):
        """The same sessionize() call on batch and on a stream of the
        same rows yields identical sessions."""
        from xorfilter_net_spark.relational import sessionize

        ev = (
            spark.read.parquet(f"{sf_tiny}/events.parquet")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        batch = sessionize(ev, key="user_id", ts="ts", gap="30 minutes")
        stream = (
            spark.readStream.schema(ev.schema)
            .parquet(f"{sf_tiny}/events.parque*")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        sess = sessionize(
            stream, key="user_id", ts="ts", gap="30 minutes",
            watermark_delay="1 hour",
        )
        q = (
            sess.writeStream.format("memory")
            .queryName("sess_parity_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            [
                (r["user_id"], r["session_start"], r["n_events"])
                for r in spark.table("sess_parity_sink").collect()
            ]
        )
        exp = sorted(
            [
                (r["user_id"], r["session_start"], r["n_events"])
                for r in batch.collect()
            ]
        )
        assert got == exp


class TestEnrichStream:
    """Stream-static enrichment join (streaming/joins.py::enrich_stream)."""

    def test_stream_matches_batch_and_keeps_unmatched(
        self, spark, sf_tiny, tmp_path
    ):
        from xorfilter_net_spark.streaming.joins import enrich_stream

        ev = spark.read.parquet(f"{sf_tiny}/events.parquet").select(
            "event_id", "user_id", "event_type"
        )
        # dim covers only some users -> left join must keep the rest
        dim = (
            spark.read.parquet(f"{sf_tiny}/customer.parquet")
            .selectExpr("c_custkey as user_id", "c_mktsegment")
            .filter("user_id % 3 = 0")
        )
        expected = {
            (r["event_id"], r["c_mktsegment"])
            for r in enrich_stream(ev, dim, ["user_id"]).collect()
        }
        assert len(expected) > 0
        assert any(seg is None for _, seg in expected)  # unmatched kept
        assert any(seg is not None for _, seg in expected)

        src = str(tmp_path / "enrich_src")
        ev.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            enrich_stream(stream, dim, ["user_id"])
            .writeStream.format("memory")
            .queryName("enrich_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["event_id"], r["c_mktsegment"])
            for r in spark.sql(
                "select event_id, c_mktsegment from enrich_test"
            ).collect()
        }
        assert got == expected

    def test_plan_is_stateless_broadcast(self, spark, sf_tiny):
        from xorfilter_net_spark.streaming.joins import enrich_stream

        ev = spark.read.parquet(f"{sf_tiny}/events.parquet")
        dim = spark.read.parquet(f"{sf_tiny}/customer.parquet").selectExpr(
            "c_custkey as user_id", "c_mktsegment"
        )
        plan = (
            enrich_stream(ev, dim, ["user_id"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "StateStore" not in plan  # stateless: no join state
