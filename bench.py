#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "construction_keys_per_sec": ...,
     "probe_keys_per_sec": ..., ...}

The headline metric (BASELINE.json) is XOR-filter construction + probe
throughput in keys/sec over the transcript corpus, so in addition to
per-query wall times we measure both directly on a deterministically
replicated corpus (``REPLICAS``x the sf transcripts — same derivation the
oracle uses, salted per replica so keys stay distinct; no external data).

Scaling-efficiency evidence (north_rule: two cluster sizes) lives in
``tools/scaling_bench.py`` which re-runs the construction measure at two
``local[N]`` parallelism levels in fresh JVMs; results are recorded in
BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 512 replicas ~ 11.5M build keys: large enough that per-job fixed cost
# (scheduling, python-worker dispatch, artifact commit) stops biasing the
# keys/s estimate (256 -> 512 nearly doubles keys/s at the same wall);
# 1024 tips the persisted corpus + probe staging into GC pressure
REPLICAS = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "512"))
# min-of-3 rounds: this sandbox VM takes multi-second CPU-steal episodes
# that can inflate a single construction wall by 5-8x; steal only ever
# ADDS time, so the min over three rounds is the least-biased estimate
ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
# probe-set multiplier: probing is far cheaper per key than construction,
# so the probe measure uses a larger key set...
PROBE_MULT = int(os.environ.get("SPARK_GRAFT_BENCH_PROBE_MULT", "2"))
# ...and is additionally timed over PROBE_REPS consecutive executions
# (the SQL probe runs at ~100M keys/s — a single pass is sub-second and
# the VM's scheduling jitter would swamp it)
PROBE_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_PROBE_REPS", "2"))
# the throughput job must be IDENTICAL across parallelism levels for the
# scaling-efficiency measure, so its partition/shard counts are fixed
# constants, NOT derived from CPUS (only the master local[N] varies)
BENCH_SHARDS = int(os.environ.get("SPARK_GRAFT_BENCH_SHARDS", "128"))

# the representative subset of the query registry (full registry runs in
# the driver's correctness pass; bench times the throughput-relevant ones)
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q_segment_revenue",
    "q_window_user_events",
    "q_topk_events",
    "q_rollup_events",
    "q_cube_events",
    "q_json_props_histogram",
    "q_variant_props_stats",
    "q_lateral_topn_orders_per_segment",
    "q_array_word_stats",
    "q_datetime_daily_activity",
    "q_set_ops_users",
    "q_asof_click_view",
    "q_sessionize_events",
    "q_salted_skew_join",
    "q_filter_pruned_join",
    "q_explode_token_counts",
    "q_pivot_event_value_by_type",
    "q_orders_priority_exists",
    "q_left_join_customer_order_stats",
    "q_full_outer_user_day_activity",
    "q_scalar_subquery_big_orders",
    "q_multi_distinct_agg",
    "q_topk_per_group_events",
    "q_running_total_customer_spend",
    "q_exact_quantiles_by_type",
    "q18_large_volume_customers",
    "q17_small_quantity_revenue",
    "q_window_range_frame_orders",
    "q_rank_functions_events",
    "q_higher_order_word_stats",
    "q_interval_join_signup_clicks",
    "q_hash_split_documents",
    "q_chunk_documents",
    "q_stratified_sample_documents",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q14_promo_revenue",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q19_disjunctive_revenue",
    "q22_global_sales_opportunity",
    "theta_set_ops_users",
    "bottomk_weighted_docs",
    "xor16_zero_false_negatives",
    "xor_sharded_zero_false_negatives",
    "xor_sql_probe_zero_false_negatives",
    "bloom_zero_false_negatives",
    "hll_distinct_per_source_ok",
    "cms_event_type_counts",
    "mg_heavy_hitters_event_types",
    "kll_event_value_quantiles_ok",
    "tdigest_event_value_quantiles_ok",
    "quantile_bins_documents_ok",
    "text_features",
    "redact_documents",
    "q_token_spans_stats",
    "doc_fingerprint_distinct",
    "xor_table_cogroup_zero_false_negatives",
    "exact_dedup_survivors",
    "minhash_near_dup_pairs",
    "embedding_near_dup_pairs",
    "ann_topk_bruteforce",
    "media_frame_sample_counts",
    "repetition_signals_documents",
    "curate_corpus_documents",
    "dup_span_report",
    "normalized_dedup_survivors",
    "lm_coverage_documents",
    "inverted_index_postings",
    "q_tool_transition_matrix",
    "q_conversation_profile",
    "q_turn_context_windows",
    "curate_transcript_pairs",
    "dsir_bucket_counts",
    "q_skew_aware_join",
    "pagerank_tools",
    "q_triangle_copurchase",
    "data_validation_report",
    "editdist_near_dup_pairs",
    "q_cohort_retention",
    "q_funnel_view_click_purchase",
    "q_scd2_user_event_type",
    "q_bfs_copurchase",
    "q_profile_events",
    "q_assoc_rules_copurchase",
    "q_kcore_copurchase",
    "skip_index_point_lookup",
    "ivm_agg_view_documents",
    "q_temporal_join_events_scd2",
    "data_validation_suggested",
    "streaming_ivm_view",
    "bitmap_set_ops_users",
    "q_ohlc_resample_events",
    "q_gapfill_user_daily",
    "rolling_distinct_users",
    "rolling_topk_event_types",
    "rolling_anomaly_event_values",
    "q_trend_event_values",
    "q_gini_segment_spend",
    "q_attribution_last_touch",
    "phash_near_dup_media",
    "q_sliding_window_events",
    "cdc_chunks_documents",
    "q_token_bucket_counts",
    "kmeans_cell_profile_embeddings",
    "streaming_topk_tools",
    # r05 additions
    "template_mining_transcripts",
    "template_strip_transcripts",
    "fork_points_transcripts",
    "vocab_coverage_documents",
    "centroid_pairs_embeddings",
    "q_rank_blend_documents",
]


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("xorfilter-net-spark-bench")
        # 2x cores: a one-wave stage (partitions == cores) is serialized
        # by any single straggler task; two waves re-balance around it
        # (measured 4.5x on the shuffled-hash-join probe at local[32])
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", str(max(2 * cpus, 16))),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # scan-split sizing knob: a row-amplifying operator (e.g. the
        # turn explode in curate_transcripts, ~4.5x) multiplies each
        # scan split's working set before the first shuffle sort; when
        # that exceeds a task's execution-memory share the sort spills
        # — profiled at x4096/local[8]: 7.6 GB spilled, +50% CPU (see
        # BASELINE.md "curate_transcripts at x2048/x4096"). Default
        # unchanged; size DOWN for fat-scan + amplify jobs.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_BENCH_MAXPART", "128m"),
        )
        # sort-based shuffle writer: the bypass-merge writer's per-reduce-
        # partition spill files (128x128 = 16k streams) thrash at high
        # local thread counts — measured 2.4-10x slower at local[32]
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            os.environ.get("SPARK_GRAFT_BENCH_BYPASS", "1"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def force(df) -> int:
    """Materialize every column of every row (noop sink, no driver collect)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def scaled_corpus(spark, sf_dir: str, replicas: int):
    """Deterministic replicas x the sf transcripts; keys distinct per replica."""
    from pyspark.sql import functions as F

    from xorfilter_net_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    rep = spark.range(replicas).withColumnRenamed("id", "rep")
    return (
        t.crossJoin(rep)
        .withColumn(
            "key",
            F.concat_ws(
                ":", "conv_id", F.col("rep").cast("string"), F.md5(F.coalesce("text", F.lit("")))
            ),
        )
        .select("key")
        # the crossJoin inherits the (single-file) parquet scan's
        # partitioning — explicitly spread the corpus or every downstream
        # map stage runs on one core
        .repartition(BENCH_SHARDS)
    )


def bench_filter_throughput(
    spark, sf_dir: str, rounds: int = ROUNDS, include_cogroup: bool = False
) -> dict:
    """Steady-state construction+probe throughput: one warmup round on a
    small corpus (pays the python-worker first-touch cost once), then
    best-of-``rounds`` on the full corpus (the sandbox VM's page-fault
    jitter makes single-shot walls noisy by 2-3x).

    Construction times the DISTRIBUTED-ARTIFACT build (filters/table.py:
    executor-parallel parquet sink, driver reads only per-shard metadata)
    — the path that holds at 10^12 keys, with no per-key serial stage.
    The driver-side artifact load for the broadcast probe is timed
    separately (``artifact_load_sec``): it is a probe-side convenience
    that exists only when the filter fits the driver, not part of
    construction."""
    from pyspark.sql import functions as F

    from xorfilter_net_spark.filters.spark_build import probe_sql
    from xorfilter_net_spark.filters.table import build_xor_filter_table

    import shutil as _sh
    import tempfile as _tf

    art_root = _tf.mkdtemp(prefix="xorbench_art_")
    extras: dict = {}

    def one_round(corpus, n_keys, probe_df, n_probe, tag="main"):
        _sh.rmtree(f"{art_root}/{tag}", ignore_errors=True)
        t0 = time.perf_counter()
        tab = build_xor_filter_table(
            corpus, "key", f"{art_root}/{tag}", num_shards=BENCH_SHARDS,
            width=16, seed=12345, jvm_digests=True,
        )
        t_build = time.perf_counter() - t0

        t0 = time.perf_counter()
        sxf = tab.to_sharded()
        extras["artifact_load_sec"] = round(time.perf_counter() - t0, 3)

        if include_cogroup and tag == "main" and "probe_cogroup_keys_per_sec" not in extras:
            # beyond-broadcast probe paths (the filter never loads on the
            # driver and never broadcasts). Each pass builds a fresh plan
            # (shuffles cannot be skip-reused); min-of-2 per strategy —
            # this VM's hypervisor steal makes single shots noisy by 3x
            # (see BASELINE.md probe-crossover section).
            def _timed_min(fn, reps=2):
                best = None
                for _ in range(reps):
                    t0 = time.perf_counter()
                    n = fn()
                    dt = time.perf_counter() - t0
                    assert n == n_probe, f"false negatives: {n_probe - n}"
                    best = dt if best is None else min(best, dt)
                return best

            def _count(df):
                return (
                    df.agg(
                        F.sum(F.col("is_member").cast("long")).alias("n")
                    ).collect()[0]["n"]
                )

            # (a) zero-Python shuffled-hash-join probe over the persisted
            #     distributed artifact. The first pass pays the one-time
            #     artifact decode + persist of the flattened slot table —
            #     reported as the cold cost; steady state is what a
            #     deployment amortizes to (the decoded table is reused
            #     for the artifact's lifetime)
            dt = _timed_min(
                lambda: _count(tab.probe_sql(probe_df, "key")), reps=1
            )
            extras["probe_table_sql_cold_sec"] = round(dt, 3)
            extras["probe_table_sql_cold_keys_per_sec"] = int(n_probe / dt)
            dt = _timed_min(lambda: _count(tab.probe_sql(probe_df, "key")))
            extras["probe_table_sql_sec"] = round(dt, 3)
            extras["probe_table_sql_keys_per_sec"] = int(n_probe / dt)
            # (b) shard-cogrouped Arrow probe (the byte-parity fallback
            #     for murmur-digest filters)
            dt = _timed_min(lambda: _count(tab.probe(probe_df, "key")))
            extras["probe_cogroup_sec"] = round(dt, 3)
            extras["probe_cogroup_keys_per_sec"] = int(n_probe / dt)

        if tag == "main" and "fuse_construction_keys_per_sec" not in extras:
            # fuse-family comparison point (one pass, not min-of-rounds):
            # same corpus, same shard shuffle shape; probe is the
            # zero-Python SQL path (sqlhash addressing, the jvm-digest
            # default — same plan shape as the XOR probe_sql), timed at
            # steady state via plan re-execution like the main probe below
            from xorfilter_net_spark.filters.spark_build import (
                build_sharded_filter,
            )

            t0 = time.perf_counter()
            sff = build_sharded_filter(
                corpus, "key", num_shards=BENCH_SHARDS, width=16,
                seed=12345, jvm_digests=True, kind="fuse3",
            )
            dt = time.perf_counter() - t0
            extras["fuse_construction_sec"] = round(dt, 3)
            extras["fuse_construction_keys_per_sec"] = int(n_keys / dt)
            fm = sff.metrics
            extras["fuse_bits_per_key"] = round(fm["bits_per_key"], 3)
            # same denominator as the fuse metric: UNIQUE keys (the
            # replicated corpus carries within-conversation duplicate
            # texts, which both builds dedup in-shard)
            xn = sum(
                f.metrics.get("n_keys", 0) for f in sxf.shards.values()
            )
            extras["xor_bits_per_key"] = round(
                sum(f.size for f in sxf.shards.values()) * 16 / max(xn, 1), 3
            )
            fprobe = probe_sql(sff, probe_df, "key", "m")
            nf = (
                fprobe.agg(F.sum(F.col("m").cast("long")).alias("n"))
                .collect()[0]["n"]
            )
            assert nf == n_probe, f"fuse false negatives: {n_probe - nf}"
            fjrdd = fprobe._jdf.queryExecution().executedPlan().execute()
            fjrdd.count()  # warm
            t0 = time.perf_counter()
            fjrdd.count()
            dt = time.perf_counter() - t0
            extras["fuse_probe_sec"] = round(dt, 3)
            extras["fuse_probe_keys_per_sec"] = int(n_probe / dt)

        # zero-false-negative assert on the build corpus (probe_df is the
        # same key set replicated, so this checks every probed key) — it
        # also pays the one-time slots-frame persist for this filter
        found = (
            probe_sql(sxf, corpus, "key")
            .agg(F.sum(F.col("is_member").cast("long")).alias("n"))
            .collect()[0]["n"]
        )
        assert found == n_keys, f"false negatives: {n_keys - found}"

        # Steady-state probe timing needs care on two fronts:
        # (a) re-collecting the SAME shuffle-bearing plan lets Spark skip
        #     the recomputation entirely (map-stage outputs persist across
        #     jobs) — it would measure nothing;
        # (b) any FRESH plan per rep rebuilds the slot-table broadcast —
        #     a one-time cost a 10^12-probe corpus amortizes to zero.
        # So: ONE probe plan, executed repeatedly through its underlying
        # RDD with a JVM-side count — map-only (nothing to skip), same
        # plan instance (broadcast relation cached), full recompute of
        # scan+hash+joins per rep.
        probed = probe_sql(sxf, probe_df, "key")
        jrdd = probed._jdf.queryExecution().executedPlan().execute()
        jrdd.count()  # warm: broadcast build + codegen JIT for this plan
        # min over reps, not mean: the sandbox VM's CPU-steal episodes
        # only ever ADD time, so the fastest rep is the least-biased
        # estimate of steady-state capability
        t_probe = float("inf")
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            assert jrdd.count() == n_probe  # inner-join completeness
            t_probe = min(t_probe, time.perf_counter() - t0)
        return t_build, t_probe

    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="xorbench_probe_")

    def probe_set(corpus, name):
        # staged as parquet, NOT persisted: a multi-GB executor-memory
        # cache squeezes the JVM heap and slows the (timed) construction
        # by 2x; scanning parquet through the OS page cache is both
        # cheaper and closer to how a real probe job reads its corpus
        path = f"{tmp}/{name}"
        (
            corpus.crossJoin(spark.range(PROBE_MULT))
            .select("key")
            .repartition(2 * BENCH_SHARDS)
            .write.mode("overwrite")
            .parquet(path)
        )
        return spark.read.parquet(path)

    warm = scaled_corpus(spark, sf_dir, max(REPLICAS // 16, 1)).persist()
    wp = probe_set(warm, "warm")
    one_round(warm, warm.count(), wp, wp.count(), tag="warm")
    warm.unpersist()

    corpus = scaled_corpus(spark, sf_dir, REPLICAS).persist()
    n_keys = corpus.count()
    probe_df = probe_set(corpus, "main")
    n_probe = probe_df.count()
    t_build, t_probe = min(
        (one_round(corpus, n_keys, probe_df, n_probe) for _ in range(rounds)),
        key=lambda bp: bp[0] + bp[1],
    )
    corpus.unpersist()
    shutil.rmtree(tmp, ignore_errors=True)
    _sh.rmtree(art_root, ignore_errors=True)
    return {
        "n_keys": n_keys,
        "n_probes": n_probe,
        "construction_sec": round(t_build, 3),
        "construction_keys_per_sec": int(n_keys / t_build),
        "probe_sec": round(t_probe, 3),
        "probe_keys_per_sec": int(n_probe / t_probe),
        **extras,
    }


def _steal_total() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — host-contention context
    published with every bench run (steal only adds wall time, so a slow
    run with high steal is the hypervisor, not the engine). Note steal
    captures involuntary preemption only: on this VM the 32 advertised
    vCPUs oversubscribe physical cores, so wall time at local[32] also
    moves with host neighbors that steal%% cannot see — which is why the
    raw-CPU ceiling is published alongside (see tools/scaling_bench.py
    hardware_ceiling and BASELINE.md's run-history section)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:
        return 0, 1


def main() -> None:
    throughput_only = "--throughput-only" in sys.argv
    _s0, _t0 = _steal_total()
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from xorfilter_net_spark import entrypoints

    # warm the JVM + python worker pool once so per-query times measure the
    # query, not executor startup
    spark.range(1000).selectExpr("sum(id)").collect()

    # Per-query walls with per-query steal deltas. The VM's CPU-steal
    # episodes (see ROUNDS above) hit individual queries for 5-40s at
    # random; steal only ever ADDS time, so the MIN wall is the
    # least-biased estimate. Cost control: one full pass, then a second
    # pass over the SLOW TAIL only (> RETRY_SEC) — sub-second queries
    # are dominated by fixed per-job cost where a retry buys little
    # signal, while the slow tail is exactly where steal distorts
    # round-over-round comparisons. query_steal_pct records the steal%%
    # measured DURING the kept (fastest) run of each query, so a
    # regression can be read against its own contention context.
    times: dict[str, float] = {}
    steals: dict[str, float] = {}

    def run_one(name: str) -> tuple[float, float]:
        fn = entrypoints.QUERIES[name]
        s0, c0 = _steal_total()
        t0 = time.perf_counter()
        force(fn(spark, SF_DIR))
        wall = round(time.perf_counter() - t0, 3)
        s1, c1 = _steal_total()
        return wall, round(100.0 * (s1 - s0) / max(c1 - c0, 1), 2)

    if not throughput_only:
        for name in BENCH_QUERIES:
            times[name], steals[name] = run_one(name)
        retry_sec = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_SEC", "1.0"))
        for name in BENCH_QUERIES:
            if times[name] > retry_sec:
                wall, steal = run_one(name)
                if wall < times[name]:
                    times[name], steals[name] = wall, steal

    tp = bench_filter_throughput(spark, SF_DIR, include_cogroup=not throughput_only)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    _s1, _t1 = _steal_total()
    out = {
        "metric": "xor-filter construction+probe keys/sec on replicated "
        "transcript corpus; headline-query wall time",
        "value": round(sum(times.values()) + tp["construction_sec"] + tp["probe_sec"], 3),
        "unit": "sec",
        "queries": times,
        "query_steal_pct": steals,
        "sf": sf_val,
        "cpus": CPUS,
        "replicas": REPLICAS,
        "steal_pct": round(100.0 * (_s1 - _s0) / max(_t1 - _t0, 1), 2),
        **tp,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
