"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``xorfilter_net_spark.entrypoints`` — the driver runs
``entry(spark)`` as a smoke check, each ``queries()[name]`` at sf=0.01,
and compares against ``oracle_sql()[name]`` via DuckDB (row-count +
schema + order-insensitive value-hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xorfilter_net_spark import entrypoints  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return entrypoints.entry(spark)


def _already_green() -> tuple[set[str], set[str]]:
    """(green in ANY round, green in a round NEWER than the r03 oracle
    changes) from the CORRECTNESS files."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    green: set[str] = set()
    recent: set[str] = set()
    for p in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rounds = json.load(open(p))
        except Exception:
            continue
        if not isinstance(rounds, dict):
            continue
        m = re.search(r"_r(\d+)", os.path.basename(p))
        rnum = int(m.group(1)) if m else 0
        for name, row in rounds.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            rows_only = name not in entrypoints.ORACLES
            if (
                row.get("rows_match", True) is not False
                and row.get("schema_match", True) is not False
                # rows-only queries have no value hash to match, so a
                # missing/None hash field still counts as verified for
                # them; value-checkable queries need hash_match=True —
                # a row written before the oracle existed (or by a
                # format without the hash field) must NOT deprioritize
                # an unverified query in the rotation
                and (row.get("hash_match") is True or rows_only)
            ):
                green.add(name)
                if rnum > _RECHECK_AS_OF_ROUND:
                    recent.add(name)
    return green, recent


# Names with a GREEN prior row whose oracle SQL or query code changed
# this round: forced back into the unverified block so the driver
# re-certifies the CURRENT contract (a stale green row must not let a
# changed oracle ride unverified). A green row in any round NEWER than
# _RECHECK_AS_OF_ROUND (the round whose oracles these changes postdate)
# clears the recheck — once the driver has certified the new contract
# these names fall back to the verified block, so the set does not
# permanently occupy front slots in later rounds.
_RECHECK_AS_OF_ROUND = 5
_RECHECK = {
    # sharded static filters: one shard kernel and probe layer, the shard
    # exchange, and one JVM digest lane for every sharded build
    "fuse_sharded_zero_false_negatives",
    "fuse_sql_probe_zero_false_negatives",
    "xor_sharded_zero_false_negatives",
    "xor_jvm_digest_zero_false_negatives",
    "xor_sql_probe_zero_false_negatives",
    "xor_table_cogroup_zero_false_negatives",
    "q_filter_pruned_join",
    "contamination_xor_pruned_documents",
    # global filters: one build_filter / is_member for every family
    "xor16_zero_false_negatives",
    "xor8_fpr_within_bound",
    "xor32_membership_semijoin",
    "fuse16_zero_false_negatives",
    "fuse8_space_fpr_ok",
    "ribbon16_zero_false_negatives",
    "ribbon_space_fpr_ok",
    # checkpointed build and incremental update (JVM lane, shard rows)
    "xor_incremental_update_ok",
    "incremental_update_ok",
    "checkpoint_resume_ok",
    # other code changed by the sharded-layer refactor
    "synthetic_source_role_stats",
    "fork_points_transcripts",
    "centroid_pairs_embeddings",
    # the mergeable-state layer: one period fold, window merge and
    # versioned store for the rolling, decayed and streaming operators
    "rolling_distinct_users",
    "rolling_distinct_by_type",
    "rolling_distinct_hll_ok",
    "rolling_topk_event_types",
    "rolling_quantile_event_values",
    "decayed_topk_event_types",
    "streaming_rolling_distinct",
    "streaming_rolling_anomaly",
    "streaming_decayed_topk",
    "streaming_ivm_view",
    "ivm_agg_view_documents",
    "hll_rollup_events_ok",
    "ddsketch_rollup_events_ok",
    "unigram_invariants_ok",
    # shared two-phase aggregate / state-column merge users
    "bloom_zero_false_negatives",
    "cbf_delete_semantics_ok",
    "cms_event_type_counts",
    "countsketch_event_type_counts",
    "countsketch_f2_users_ok",
    "countsketch_join_size_ok",
    "fd_embeddings_ok",
    "mg_heavy_hitters_event_types",
    "bitmap_set_ops_users",
    "hash_embed_ann_ok",
    "streaming_sessionize_events",
    # the sketch accumulator's single meta commit
    "streaming_incremental_sketch_ok",
    "streaming_topk_tools",
    # the time-travel table's atomic pointer commit
    "streaming_merge_versions",
    "table_changes_v0_v2",
    "timetravel_version_states",
    "gdpr_purge_ok",
    "dv_delete_semantics_ok",
    # writers moved onto the one commit protocol (commit.py); the ones
    # above that use it are listed already
    "merge_upsert_documents",
    "skip_index_point_lookup",
    "streaming_drift_monitor_ok",
    "span_index_incremental",
    # two-phase sketch aggregates now merge on the driver from one Arrow
    # collect (sketches/base.py); the users of aggregate not listed above
    "bottomk_sample_users",
    "bottomk_weighted_docs",
    "ddsketch_event_value_quantiles_ok",
    "drift_report_ok",
    "fd_projection_ok",
    "kll_event_value_quantiles_ok",
    "q_skew_aware_join",
    "quantile_bins_documents_ok",
    "tdigest_event_value_quantiles_ok",
}

# r05 ordering: close the registry. The 30 never-sampled names (every
# one locally green vs tools/check_contract.py this round), the newly
# registered incremental-update gate, then the three changed-contract
# rechecks and any new r05 operators — all comfortably inside one
# 50-query round. Names already green in a prior round drop out
# naturally.
_FRONT_R05 = [
    # never-sampled: the validation/rolling families the verdict ranked
    # highest, then the relational/graph tail
    "data_validation_report",
    "data_validation_suggested",
    "rolling_distinct_users",
    "rolling_distinct_by_type",
    "rolling_distinct_hll_ok",
    "rolling_topk_event_types",
    "rolling_anomaly_event_values",
    "q_trend_event_values",
    "ivm_agg_view_documents",
    "q_profile_events",
    "skip_index_point_lookup",
    "q_skew_aware_join",
    "q_filter_pruned_join",
    "simhash_separation_gates",
    "span_index_incremental",
    "q_assoc_rules_copurchase",
    "q_bfs_recursive_cte",
    "q_attribution_last_touch",
    "bitmap_set_ops_users",
    "synthetic_source_role_stats",
    "quantile_bins_documents_ok",
    "q15_top_supplier",
    "q19_disjunctive_revenue",
    "q_cube_events",
    "q_datetime_daily_activity",
    "q_topk_events",
    "q_orders_priority_exists",
    "q_scalar_subquery_big_orders",
    # newly registered r05 gate (the last gate-less component)
    "incremental_update_ok",
    # r05 new operators (template mining, fork detection, vocabulary
    # coverage, centroid drift), all value-exact
    "template_mining_transcripts",
    "template_strip_transcripts",
    "fork_points_transcripts",
    "vocab_coverage_documents",
    "centroid_pairs_embeddings",
    "q_rank_blend_documents",
    # changed-contract rechecks (ADVICE fixes + gate conversions)
    "conversation_lint_report",
    "q_merge_consecutive_turns",
    "reconcile_tables_documents",
    "ann_lsh_recall_ok",
    "ann_ivf_recall_ok",
    "ann_pq_recall_ok",
    "checkpoint_resume_ok",
]

# r04 burn-down order, kept as the fallback tail so anything the r05
# list misses still sorts ahead of long-verified names.
_FRONT = _FRONT_R05 + [
    # changed oracle/code, green r03 — re-certify first (cheap)
    "dv_delete_semantics_ok",
    "countsketch_f2_users_ok",
    "media_png_codec_ok",
    "media_wav_codec_ok",
    "media_avi_codec_ok",
    "wordpiece_encode_stats",
    "q_ntile_doc_length_buckets",
    # gates registered in r04 (previously gate-less components)
    "maintenance_compaction_ok",
    "streaming_incremental_sketch_ok",
    "scan_pushdown_ok",
    "unigram_invariants_ok",
    # r04 new operators (transcript hygiene + cleaning + search)
    "conversation_lint_report",
    "q_merge_consecutive_turns",
    "decayed_topk_event_types",
    "q_attribution_linear",
    "streaming_decayed_topk",
    "rolling_quantile_event_values",
    "reconcile_tables_documents",
    "q_context_budget_turns",
    "c4_line_clean_documents",
    "substring_search_documents",
    # text-curation family
    "text_features",
    "q_tfidf_topk_terms",
    "q_token_cooccurrence",
    "lm_coverage_documents",
    "contamination_report_documents",
    "q_pack_sequences_documents",
    "q_mixture_interleave_documents",
    "cdc_chunks_documents",
    "q_token_bucket_counts",
    "hash_embed_ann_ok",
    "quality_classifier_ok",
    "dsir_selection_ok",
    "contamination_xor_pruned_documents",
    "q_assemble_conversations",
    "q_token_spans_stats",
    "bpe_encode_distinct_parity",
    # streaming-state family
    "streaming_drift_monitor_ok",
    "streaming_merge_versions",
    "streaming_rolling_distinct",
    "streaming_topk_tools",
    "streaming_rolling_anomaly",
    "streaming_ivm_view",
    "streaming_transcript_pairs",
    # compliance / PCA / media surfaces certified by pytest only
    "gdpr_purge_ok",
    "fd_projection_ok",
    "phash_near_dup_media",
    "media_resize_stats",
    "drift_report_ok",
    # dedup stragglers
    "editdist_near_dup_pairs",
    "simhash_separation_gates",
    "span_index_incremental",
    # validation / profiling / IVM
    "data_validation_report",
    "data_validation_suggested",
    "ivm_agg_view_documents",
    "skip_index_point_lookup",
    "q_profile_events",
    # graph / relational tail
    "q_assoc_rules_copurchase",
    "q_bfs_recursive_cte",
    "q_attribution_last_touch",
    "q_trend_event_values",
    "q_filter_pruned_join",
    "q_skew_aware_join",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry, ordered for maximal cumulative driver-oracle coverage:
    queries WITHOUT a green row in a prior round's CORRECTNESS file come
    first (user-visible/changed-oracle names in ``_FRONT`` before the
    rest, then cheapest first per the measured sf0.01 wall costs in
    tools/query_costs.json), already-verified ones after. A driver that
    samples a prefix — by count or by time budget — therefore always
    spends its budget on unverified queries; semantics of each entry are
    unchanged."""
    import json

    qs = dict(entrypoints.QUERIES)
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        costs = json.load(open(os.path.join(here, "tools/query_costs.json")))
    except Exception:
        costs = {}
    green_all, green_recent = _already_green()
    green = (green_all - _RECHECK) | (green_recent & _RECHECK)
    # first occurrence wins: names appear in both the r05 list and the
    # r04 fallback tail, and the r05 position must take priority. The
    # sentinel for UNLISTED names is len(_FRONT) (the raw list length,
    # duplicates included) — first-occurrence indices can exceed the
    # number of UNIQUE names, so a unique-count sentinel would let
    # unlisted queries sort ahead of the listed tail.
    front: dict[str, int] = {}
    for i, n in enumerate(_FRONT):
        front.setdefault(n, i)
    unlisted = len(_FRONT)
    order = sorted(
        qs,
        key=lambda n: (
            n in green,
            front.get(n, unlisted),
            costs.get(n, 3.0),
            n,
        ),
    )
    return {n: qs[n] for n in order}


def oracle_sql() -> dict[str, str]:
    return dict(entrypoints.ORACLES)
