"""xorfilter_net_spark — PySpark-native probabilistic set-membership and
sketch/analytics library (XOR8/16/32 filters, mergeable sketches, dedup,
ANN, text analysis, multimodal plumbing, streaming accumulators).

Public surface re-exported lazily to keep `import xorfilter_net_spark`
free of a SparkSession/JVM dependency (pure-kernel users only pay for
what they touch).
"""

__version__ = "0.1.0"

_EXPORTS = {
    "build_filter": "xorfilter_net_spark.filters.spark_build",
    "build_sharded_filter": "xorfilter_net_spark.filters.spark_build",
    "is_member": "xorfilter_net_spark.filters.spark_build",
    "probe": "xorfilter_net_spark.filters.spark_build",
    "probe_sql": "xorfilter_net_spark.filters.spark_build",
    "build_xor_filter_checkpointed": "xorfilter_net_spark.pipeline.checkpoint",
    "aggregate": "xorfilter_net_spark.sketches.base",
    "aggregate_by_group": "xorfilter_net_spark.sketches.base",
    "exact_dedup": "xorfilter_net_spark.dedup.exact",
    "near_duplicate_pairs": "xorfilter_net_spark.dedup.minhash",
    "simhash_near_pairs": "xorfilter_net_spark.dedup.simhash",
    "topk_cosine": "xorfilter_net_spark.ann.brute",
    "lsh_topk_cosine": "xorfilter_net_spark.ann.lsh",
    "lsh_near_dup_pairs": "xorfilter_net_spark.ann.lsh",
    "with_text_features": "xorfilter_net_spark.text.analysis",
    "doc_fingerprints": "xorfilter_net_spark.text.fingerprint",
    "run_incremental_sketch": "xorfilter_net_spark.streaming.incremental",
    "editdist_join": "xorfilter_net_spark.dedup.editdist",
    "funnel_counts": "xorfilter_net_spark.relational.funnel",
    "cohort_retention": "xorfilter_net_spark.relational.cohort",
    "scd2_history": "xorfilter_net_spark.relational.scd",
    "temporal_join": "xorfilter_net_spark.relational.scd",
    "frequent_pairs": "xorfilter_net_spark.relational.assoc",
    "triangle_counts": "xorfilter_net_spark.relational.graph",
    "bfs_distances": "xorfilter_net_spark.relational.graph",
    "kcore_subgraph": "xorfilter_net_spark.relational.graph",
    "resample_ohlc": "xorfilter_net_spark.relational.timeseries",
    "gapfill_forward": "xorfilter_net_spark.relational.timeseries",
    "validate": "xorfilter_net_spark.pipeline.validate",
    "suggest_checks": "xorfilter_net_spark.pipeline.validate",
    "profile_columns": "xorfilter_net_spark.pipeline.profile",
    "agg_view": "xorfilter_net_spark.pipeline.ivm",
    "apply_changes": "xorfilter_net_spark.pipeline.ivm",
    "build_skip_index": "xorfilter_net_spark.sources.skipping",
    "scan_with_skip_index": "xorfilter_net_spark.sources.skipping",
    "rolling_distinct_exact": "xorfilter_net_spark.sketches.rolling",
    "phash_near_pairs": "xorfilter_net_spark.multimodal.phash",
    "rolling_topk_mg": "xorfilter_net_spark.sketches.rolling",
    "rolling_moment_anomalies": "xorfilter_net_spark.relational.timeseries",
    "grouped_trend": "xorfilter_net_spark.relational.timeseries",
    "kmeans_fit": "xorfilter_net_spark.ann.kmeans",
    "kmeans_assign": "xorfilter_net_spark.ann.kmeans",
    "train_wordpiece": "xorfilter_net_spark.text.wordpiece",
    "encode_wordpiece": "xorfilter_net_spark.text.wordpiece",
    "stream_heavy_hitters": "xorfilter_net_spark.streaming.topk",
    "roundtrip_dataset": "xorfilter_net_spark.sources.formats",
    "read_dataset": "xorfilter_net_spark.sources.formats",
    "hits": "xorfilter_net_spark.relational.pagerank",
    "pagerank": "xorfilter_net_spark.relational.pagerank",
    "MomentSketch": "xorfilter_net_spark.sketches.moments",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name in _EXPORTS:
        import importlib

        return getattr(importlib.import_module(_EXPORTS[name]), name)
    raise AttributeError(f"module 'xorfilter_net_spark' has no attribute {name!r}")
