#!/usr/bin/env python
"""Dump physical plans for the headline operators into docs/PLANS.md.

Evidence for the scale-design claims (SURVEY.md §4, D7-D9): the probe is
one WholeStageCodegen span with three broadcast hash joins and no Python
node; construction's only exchange is the 16-byte/row shard shuffle; the
parquet scans show pruned ReadSchema.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def captured_explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from bench import make_spark
    from xorfilter_net_spark.filters.spark_build import (
        build_sharded_filter,
        key_digests_jvm,
        probe_sql,
    )
    from xorfilter_net_spark.sources.transcripts import (
        load_transcripts,
        with_membership_key,
    )

    spark = make_spark(8)
    spark.sparkContext.setLogLevel("ERROR")

    t = with_membership_key(load_transcripts(spark, SF_DIR))
    sections: list[tuple[str, str, str]] = []

    # 1. construction input: digest + shard (pre-applyInPandas plan)
    dig = key_digests_jvm(t, "key").withColumn(
        "shard", F.pmod(F.col("d0"), F.lit(32)).cast("int")
    )
    sections.append(
        (
            "Construction digest stage (key_digests_jvm)",
            "xxhash64 digests in WholeStageCodegen directly over the scan; "
            "the only data that ever shuffles is (d0, d1, shard) = 20 "
            "bytes/row. No Python node before the per-shard peel kernel.",
            captured_explain(dig),
        )
    )

    sxf = build_sharded_filter(t, "key", num_shards=32, width=16, seed=7)

    # 2. zero-Python SQL probe
    probed = probe_sql(sxf, t.select("key").distinct(), "key")
    sections.append(
        (
            "SQL probe (probe_sql, sqlhash addressing)",
            "The whole probe is JVM codegen: slot indexes from literal "
            "parameter arrays + three BroadcastHashJoins against the "
            "flattened slot table. No ArrowEvalPython / BatchEvalPython "
            "operator anywhere in the plan.",
            captured_explain(probed),
        )
    )

    # 3. sketch-column rollup: partials are map-only; re-merge moves states
    from xorfilter_net_spark.sketches.columns import merge_states, partial_states
    from xorfilter_net_spark.sketches.hll import HllSketch

    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter("event_type is not null and user_id is not null")
        .withColumn("day", F.to_date("ts"))
    )
    h = HllSketch(p=12, key_col="user_id")
    daily = partial_states(ev, ["event_type", "day"], ["user_id"], h)
    sections.append(
        (
            "Sketch-column partials (partial_states)",
            "MapInPandas sits on a Coalesce of the scan (one wave of "
            "task slots, about one file split per task at most) with NO "
            "Exchange below it: the raw corpus never shuffles; only one "
            "serialized state per (task x group) leaves the stage.",
            captured_explain(daily),
        )
    )
    sections.append(
        (
            "Sketch-column rollup re-merge (merge_states)",
            "The only Exchange in the rollup carries state rows (group "
            "keys + one binary state each), never raw data — at 100 TB the "
            "re-merge cost is a function of group count, not corpus size.",
            captured_explain(merge_states(daily, ["event_type"], h)),
        )
    )

    # 4. column pruning evidence on the raw scan
    pruned = load_transcripts(spark, SF_DIR).select("conv_id", "turn_idx")
    sections.append(
        (
            "Transcript scan with column pruning",
            "ReadSchema carries only the selected columns.",
            captured_explain(pruned),
        )
    )

    # 5. per-group top-k: WindowGroupLimit pre-pass before the shuffle
    from xorfilter_net_spark import entrypoints as ep

    sections.append(
        (
            "Per-group top-k (q_topk_per_group_events)",
            "A Partial WindowGroupLimit runs per map task BEFORE the "
            "exchange, so at most k rows per (group, task) ever shuffle — "
            "the window itself only re-ranks the survivors.",
            captured_explain(
                ep.QUERIES["q_topk_per_group_events"](spark, SF_DIR)
            ),
        )
    )

    # 6. multi-DISTINCT aggregate: single scan + Expand, no self-joins
    sections.append(
        (
            "Multi-DISTINCT aggregate (q_multi_distinct_agg)",
            "One parquet scan feeds an Expand (one replica per distinct "
            "set) + two-level HashAggregate with map-side partial dedup; "
            "N DISTINCT columns never become N scans.",
            captured_explain(ep.QUERIES["q_multi_distinct_agg"](spark, SF_DIR)),
        )
    )

    # 7. z-order key derivation: pure codegen, no Python node
    from xorfilter_net_spark.sources.layout import zorder_column

    ev2 = spark.read.parquet(f"{SF_DIR}/events.parquet")
    zdf = ev2.withColumn(
        "z", zorder_column(ev2, ["user_id", "event_id"])
    ).select("z")
    sections.append(
        (
            "Z-order key derivation (sources/layout.py)",
            "The Morton key is a WholeStageCodegen shift/mask chain over "
            "the scan — layout rewrites cost one pass and zero Python.",
            captured_explain(zdf),
        )
    )

    # 8. Q18 shape: HAVING-filtered aggregate broadcasts into the joins
    sections.append(
        (
            "HAVING-over-agg semi join (q18_large_volume_customers)",
            "The having-filtered per-order aggregate (tiny output) sits "
            "under BroadcastExchange on both joins — orders and customer "
            "are probed map-side; no fact-side shuffle for the join.",
            captured_explain(
                ep.QUERIES["q18_large_volume_customers"](spark, SF_DIR)
            ),
        )
    )

    # 9. explicit GROUPING SETS: one scan, one Expand
    sections.append(
        (
            "Explicit GROUPING SETS (q_grouping_sets_events)",
            "Three grouping sets = one parquet scan + one Expand (3 "
            "replicas) + a two-level HashAggregate — never three scans.",
            captured_explain(ep.QUERIES["q_grouping_sets_events"](spark, SF_DIR)),
        )
    )

    # 10. higher-order array lambdas stay JVM-side
    sections.append(
        (
            "Higher-order array lambdas (q_higher_order_word_stats)",
            "filter/transform/aggregate/exists lambdas evaluate inside "
            "the codegen stage — no ArrowEvalPython/BatchEvalPython node.",
            captured_explain(
                ep.QUERIES["q_higher_order_word_stats"](spark, SF_DIR)
            ),
        )
    )

    # 11. MERGE INTO: base read is partition-pruned to touched buckets
    import tempfile

    from xorfilter_net_spark.sources.upsert import BUCKET_COL, write_snapshot

    snap = tempfile.mkdtemp(prefix="xfns_plan_merge_") + "/snap"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write_snapshot(docs, snap, "doc_id", n_buckets=16)
    base_pruned = spark.read.parquet(snap).filter(
        F.col(BUCKET_COL).isin([1, 5, 9])
    )
    sections.append(
        (
            "MERGE INTO base read (sources/upsert.py)",
            "The merge reads the snapshot with the touched-bucket set as "
            "a PartitionFilter: untouched bucket dirs are pruned at "
            "planning time and never opened — merge cost is O(delta + "
            "touched buckets), not O(snapshot).",
            captured_explain(base_pruned),
        )
    )

    # 12. Q6: every predicate reaches the scan; no join, no shuffle
    sections.append(
        (
            "Pushdown scan-aggregate (q6_forecast_revenue)",
            "All four predicates appear in PushedFilters; the plan is "
            "scan -> filter -> partial agg -> single 1-row exchange — "
            "throughput at 100 TB is scan bandwidth.",
            captured_explain(ep.QUERIES["q6_forecast_revenue"](spark, SF_DIR)),
        )
    )

    # 13. Q8: 7-table star — dims broadcast, one fact-fact shuffle
    sections.append(
        (
            "7-table star join (q8_market_share)",
            "Every dimension (region, nation x2, customer, supplier, "
            "part) is under a BroadcastExchange; the only shuffled join "
            "is lineitem x orders on orderkey.",
            captured_explain(ep.QUERIES["q8_market_share"](spark, SF_DIR)),
        )
    )

    # 14. Q19: manually-derived superset predicates on both scans
    sections.append(
        (
            "Disjunctive join predicate (q19_disjunctive_revenue)",
            "The OR-of-ANDs mixes columns of both tables, so neither "
            "side's scan could prune from the residual alone; the "
            "manually-derived hulls (brand set + size cap; quantity "
            "range) show in both PushedFilters lists.",
            captured_explain(ep.QUERIES["q19_disjunctive_revenue"](spark, SF_DIR)),
        )
    )

    # 15. PII redaction: regexp chain fully inside codegen
    sections.append(
        (
            "PII redaction (redact_documents)",
            "Six regexp_replace rules + six match counters evaluate in "
            "one WholeStageCodegen projection over the scan — map-only, "
            "no Python node, no shuffle.",
            captured_explain(ep.QUERIES["redact_documents"](spark, SF_DIR)),
        )
    )

    # 16. NOT IN: null-aware anti join, not a nested loop
    sections.append(
        (
            "NOT IN subquery (q_not_in_null_semantics)",
            "Spark plans `x NOT IN (subquery)` over a nullable subquery "
            "as a single-key BroadcastHashJoin LeftAnti in null-aware "
            "mode (NAAJ) — NOT a BroadcastNestedLoopJoin, which would be "
            "O(n x m) at scale.",
            captured_explain(
                ep.QUERIES["q_not_in_null_semantics"](spark, SF_DIR)
            ),
        )
    )

    # 17. token co-occurrence: vocabulary prune is broadcast; the only
    # exchange of corpus-derived data is the doc_id self-join
    sections.append(
        (
            "Token co-occurrence (q_token_cooccurrence)",
            "The top-V vocabulary prune and both df_a/df_b enrichments "
            "are BroadcastHashJoins (vocabulary-sized dims); only the "
            "(doc_id, token) pair set shuffles for the self-join, and "
            "the output aggregate is vocabulary-bounded.",
            captured_explain(
                ep.QUERIES["q_token_cooccurrence"](spark, SF_DIR)
            ),
        )
    )

    # 18. fuse SQL probe: zero Python, power-of-two masks (no mod math)
    sff = build_sharded_filter(
        t, "key", num_shards=32, width=16, seed=7, kind="fuse3"
    )
    fuse_probed = probe_sql(sff, t.select("key").distinct(), "key")
    sections.append(
        (
            "Fuse SQL probe (probe_sql, sqlhash addressing)",
            "Same zero-Python shape as the XOR probe — per-shard params "
            "broadcast + three BroadcastHashJoins against the flattened "
            "slot table — but the index math is simpler: fastrange "
            "segment selection and power-of-two offset masks, so no "
            "unsigned-mod correction branches appear in the projection.",
            captured_explain(fuse_probed),
        )
    )

    # 19. contamination: eval shingles broadcast; the corpus never shuffles
    sections.append(
        (
            "Benchmark decontamination (contamination_report_documents)",
            "Shingling is codegen over the scan; the eval shingle set and "
            "the per-doc hit counts both enter via BroadcastExchange — "
            "the only hash exchanges in the plan carry matched (doc_id, "
            "shingle) pairs and the tiny eval side, never the training "
            "corpus.",
            captured_explain(
                ep.QUERIES["contamination_report_documents"](spark, SF_DIR)
            ),
        )
    )

    # 20. prefix-filtering exact similarity join: candidate buckets keyed
    # on rare-first prefix tokens; no Python node anywhere
    sections.append(
        (
            "Exact prefix-filtering similarity join (prefix_join_near_dup_pairs)",
            "The candidate join is a hash join on prefix tokens only "
            "(rarest-first global order, per-doc window prefix cut) with "
            "an all-integer size-ratio residual; shingling, ranking and "
            "the exact-Jaccard verify are all JVM-side — zero Python "
            "nodes in the whole plan.",
            captured_explain(
                ep.QUERIES["prefix_join_near_dup_pairs"](spark, SF_DIR)
            ),
        )
    )

    # 21. curation capstone: one lazy plan across four stages; the only
    # corpus-sized exchange is the dedup group
    sections.append(
        (
            "End-to-end curation pipeline (curate_corpus_documents)",
            "Dedup's hash aggregate is the single corpus-sized exchange; "
            "the quality/language gate is codegen projections over its "
            "output, decontamination enters via BroadcastExchange (eval "
            "shingles + contaminated-id anti-join), and the split label "
            "is a map-only md5 projection — Catalyst fuses the stages "
            "with no materialization boundary.",
            captured_explain(
                ep.QUERIES["curate_corpus_documents"](spark, SF_DIR)
            ),
        )
    )

    # 22. sequence packing: distributed prefix sum, no global sort
    sections.append(
        (
            "Sequence-packing manifest (q_pack_sequences_documents)",
            "The corpus-sized window partitions by the md5 bucket (an "
            "Exchange hashpartitioning on __bucket) — there is no range "
            "partitioning anywhere, i.e. no global sort. The only "
            "single-partition stage is the ≤256-row bucket-subtotal "
            "window, which re-enters the big side via BroadcastExchange. "
            "Token counting is codegen; no Python node.",
            captured_explain(
                ep.QUERIES["q_pack_sequences_documents"](spark, SF_DIR)
            ),
        )
    )

    # 23. mixture interleave: same prefix-sum shape, per-source ranks
    sections.append(
        (
            "Weighted mixture interleave (q_mixture_interleave_documents)",
            "Per-source ranks come from a (source, bucket)-partitioned "
            "window plus broadcast bucket offsets — a dominant source "
            "never funnels through one sorted partition and no range "
            "partitioning exists in the plan.",
            captured_explain(
                ep.QUERIES["q_mixture_interleave_documents"](spark, SF_DIR)
            ),
        )
    )

    sections.append(
        (
            "Duplicated-span detection (dup_span_report)",
            "The gram stream is a codegen Generate over the scan (no "
            "Python); the only corpus-sized exchanges are the gram-keyed "
            "aggregate/join and the per-doc window — interval union is "
            "window arithmetic, not a UDF.",
            captured_explain(ep.QUERIES["dup_span_report"](spark, SF_DIR)),
        )
    )
    sections.append(
        (
            "Corpus-LM coverage signals (lm_coverage_documents)",
            "Bigram streams are Generate nodes in codegen; the count "
            "tables are vocab-sized and join back broadcast (AQE) or "
            "hash — zero Python end to end.",
            captured_explain(
                ep.QUERIES["lm_coverage_documents"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Sharded inverted index (inverted_index_postings)",
            "Two-phase: map-side-combinable (term, doc) tf aggregate "
            "first, then the (term, shard) posting-list aggregate — the "
            "Zipf-skew bound; sorted postings via array_sort/transform "
            "in codegen, no Python.",
            captured_explain(
                ep.QUERIES["inverted_index_postings"](spark, SF_DIR)
            ),
        )
    )

    import tempfile

    from xorfilter_net_spark.sources.timetravel import (
        create_table,
        merge_into as tt_merge,
        read_table,
    )

    tt_path = tempfile.mkdtemp(prefix="xfns_plans_tt_") + "/t"
    tt_base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    create_table(tt_base, tt_path, "k", n_buckets=8)
    tt_merge(
        spark, tt_path, tt_base.filter("k % 40 = 0").withColumn("v", F.lit(0))
    )
    sections.append(
        (
            "Time-travel read after partial commit (sources/timetravel.py)",
            "Version 1 reads as a union of two partition-PRUNED scans: "
            "the parent commit's untouched buckets and the new commit's "
            "touched buckets — PartitionFilters on the bucket dir, no "
            "full-table listing of either commit.",
            captured_explain(read_table(spark, tt_path, version=1)),
        )
    )

    from xorfilter_net_spark.sources.timetravel import table_changes

    tt_base2 = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    tt_merge(
        spark, tt_path, tt_base2.filter("k % 60 = 1").withColumn("v", F.lit(1))
    )
    sections.append(
        (
            "Change data feed (sources/timetravel.py::table_changes)",
            "The v0->v2 diff reads ONLY owner-changed buckets: every scan "
            "in the plan carries a bucket PartitionFilter; same-owner "
            "buckets (byte-identical by construction) appear in no scan.",
            captured_explain(table_changes(spark, tt_path, 0, 2)),
        )
    )

    sections.append(
        (
            "Transcript curation capstone (curate_transcript_pairs)",
            "Both corpus-sized exchanges hash-partition on conv_id (the "
            "digest+profile aggregate and the pair window); the "
            "survivor-digest window moves only conversation-count rows "
            "and the survivors re-enter via BroadcastExchange. Zero "
            "Python nodes; no range partitioning (no global sort).",
            captured_explain(
                ep.QUERIES["curate_transcript_pairs"](spark, SF_DIR)
            ),
        )
    )

    from xorfilter_net_spark.text.dsir import dsir_scores

    docs_raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dsir_df = dsir_scores(
        docs_raw, docs_raw.filter("doc_id % 7 = 1"), "doc_id", "text"
    )
    sections.append(
        (
            "DSIR importance scoring (text/dsir.py)",
            "The gram stream is a codegen Generate over the scan; the "
            "bucket log-ratio table (<=4096 rows) enters via "
            "BroadcastExchange; the only corpus-derived exchange carries "
            "(doc_id, partial_sum) rows after a map-side partial "
            "aggregate — text and grams never shuffle. Zero Python.",
            captured_explain(dsir_df),
        )
    )

    # 25+. validation suite: all row-local + uniqueness checks in ONE
    # scan/aggregate; RI checks are counted anti-joins
    from xorfilter_net_spark.pipeline.validate import (
        complete,
        in_range,
        unique,
        validate,
    )

    evv = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sections.append(
        (
            "Declarative validation suite (pipeline/validate.py)",
            "Four constraints compile to ONE parquet scan feeding one "
            "Expand + HashAggregate (uniqueness = count-distinct "
            "branches of the same aggregate); the report explodes from "
            "a single aggregate row. The Deequ one-job-per-check "
            "anti-pattern never appears.",
            captured_explain(
                validate(
                    evv,
                    [
                        complete("event_type"),
                        unique("event_id"),
                        unique("user_id"),
                        in_range("value", 0, 250),
                    ],
                )
            ),
        )
    )

    # editdist PassJoin: segment equi-join + JVM levenshtein verify
    sections.append(
        (
            "Exact edit-distance join (editdist_near_dup_pairs)",
            "Candidate generation is codegen Generates (segment/substring "
            "arithmetic) on both sides of a hash equi-join keyed on "
            "(i, l, segment); verification is the JVM levenshtein in a "
            "codegen filter; the prepared string table is persisted so "
            "the four consuming subtrees share one source scan. No "
            "Python node; the only non-equi joins are the degenerate "
            "<=2d-char pools (empty here — every key is 48 chars).",
            captured_explain(
                ep.QUERIES["editdist_near_dup_pairs"](spark, SF_DIR)
            ),
        )
    )

    # funnel: every stage keyed on user_id — exchanges reused, not re-keyed
    sections.append(
        (
            "Conversion funnel (q_funnel_view_click_purchase)",
            "All three cascaded conditional-min aggregates and both "
            "step joins key on user_id: after the first exchange the "
            "plan shows ReusedExchange / aligned hashpartitioning, never "
            "a re-key of the event stream.",
            captured_explain(
                ep.QUERIES["q_funnel_view_click_purchase"](spark, SF_DIR)
            ),
        )
    )

    # rolling distinct: one corpus aggregate, then state-row algebra only
    sections.append(
        (
            "Rolling-window distinct (rolling_distinct_users)",
            "The raw events feed exactly one groupBy-applyInPandas "
            "(per-period bitmap states); everything after — the "
            "window fan-out Generate, the anchor semi-join, the "
            "per-window merge — exchanges only (period, state) rows. "
            "The corpus is read once.",
            captured_explain(
                ep.QUERIES["rolling_distinct_users"](spark, SF_DIR)
            ),
        )
    )

    # exact anomaly flags: one corpus aggregate, then periods-sized
    # codegen arithmetic — no Python operator anywhere
    sections.append(
        (
            "Rolling 3-sigma anomaly flags (rolling_anomaly_event_values)",
            "Entirely whole-stage codegen: one map-side-combined corpus "
            "aggregate to per-period moments, a periods-sized Generate "
            "fan-out + aggregate for the prior windows, and the "
            "cross-multiplied decimal(38,0) sigma comparison as a "
            "Project. No ArrowEvalPython / BatchEvalPython node.",
            captured_explain(
                ep.QUERIES["rolling_anomaly_event_values"](spark, SF_DIR)
            ),
        )
    )

    # grouped OLS trend: ONE hash aggregate for all five moments
    sections.append(
        (
            "Per-group OLS trend (q_trend_event_values)",
            "Five integer moments (n, Σx, Σy, Σxx, Σxy) in ONE "
            "map-side-combined HashAggregate over the corpus; the "
            "rational slope/intercept numerators are a Project in "
            "decimal(38,0). Zero Python, zero extra shuffles.",
            captured_explain(
                ep.QUERIES["q_trend_event_values"](spark, SF_DIR)
            ),
        )
    )

    # exact ntile: one data-keyed exchange, all driver state as literals
    from xorfilter_net_spark.relational.binning import exact_ntile

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "n_chars", "doc_id"
    )
    sections.append(
        (
            "Exact distributed ntile (relational/binning.py::exact_ntile)",
            "The r3 rewrite: range-boundary literals live IN the plan "
            "(seeded-sample collect), the bucket id is an O(log p) "
            "codegen CASE tree over those literals, and the single "
            "corpus Exchange hashes on that data-derived bucket — so "
            "the driver-collected rank offsets stay valid under ANY "
            "recomputation, with no persist or localCheckpoint for "
            "correctness (replayable on executor loss, no doubled peak "
            "memory). One MapInPandas applies offsets + the exact "
            "ntile split.",
            captured_explain(exact_ntile(docs, ["n_chars", "doc_id"], 8)),
        )
    )

    # r04 transcript-curation operators
    sections.append(
        (
            "C4 line cleaning (c4_line_clean_documents)",
            "Map-only: every rule is a higher-order lambda in ONE "
            "Project over the scan — zero Exchange nodes, zero Python. "
            "Fuses below any downstream consumer.",
            captured_explain(
                ep.QUERIES["c4_line_clean_documents"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Conversation lint (conversation_lint_report)",
            "ONE Exchange on conv_id: the lag() window and the "
            "per-conversation aggregate (incl. the count-distinct "
            "contiguity check) share the same hash partitioning — the "
            "distinct pre-aggregate runs partition-local above the "
            "window with no second shuffle. Zero Python.",
            captured_explain(
                ep.QUERIES["conversation_lint_report"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Context-budget truncation (q_context_budget_turns)",
            "ONE Exchange on conv_id; reverse running-sum window with "
            "O(1) frame state; token counting is codegen "
            "size(filter(split)) in the pre-shuffle Project.",
            captured_explain(
                ep.QUERIES["q_context_budget_turns"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Merge consecutive turns (q_merge_consecutive_turns)",
            "ONE Exchange on conv_id shared by the lag/cumsum window "
            "pair and the run aggregate; run texts join inside the "
            "aggregate (state bounded by the output row itself).",
            captured_explain(
                ep.QUERIES["q_merge_consecutive_turns"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Gram-pruned substring search (substring_search_documents)",
            "The corpus never shuffles: doc grams stream into a "
            "BroadcastHashJoin against the query-gram set, the only "
            "corpus-sized Exchange keys the (query, doc) candidate "
            "aggregate (bounded by gram hits), and the verify joins "
            "stream the corpus against the BROADCAST candidate set — "
            "pinned so small-SF stats cannot flip the build side. "
            "Needle-side scans show pushed IN filters and 2-column "
            "ReadSchema.",
            captured_explain(
                ep.QUERIES["substring_search_documents"](spark, SF_DIR)
            ),
        )
    )

    # r05 operators
    sections.append(
        (
            "Template mining (template_mining_transcripts)",
            "Normalization (lower / digit-fold / whitespace-collapse) is "
            "codegen in the pre-shuffle Project; the ONE Exchange keys "
            "the (role, template) aggregate, map-side combined to one "
            "row per distinct template per task. Zero Python.",
            captured_explain(
                ep.QUERIES["template_mining_transcripts"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Conversation fork detection (fork_points_transcripts)",
            "Turns reduce to 32-hex md5 fingerprints in the pre-shuffle "
            "Project, so RAW TEXT NEVER CROSSES an Exchange: the conv_id "
            "assembly shuffle carries (conv_id, idx, fp) and the fork "
            "aggregate shuffle carries (depth, prefix digest, "
            "continuation digest). Zero Python.",
            captured_explain(
                ep.QUERIES["fork_points_transcripts"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Vocabulary coverage (vocab_coverage_documents)",
            "Tokenize is codegen explode(split) over the scan; the "
            "frequency Exchange is vocabulary-width after map-side "
            "combine; the top-V rank's SinglePartition exchange is over "
            "the VOCABULARY aggregate (bounded), never the corpus; the "
            "top-V set comes back as a BroadcastHashJoin. Zero Python.",
            captured_explain(
                ep.QUERIES["vocab_coverage_documents"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Centroid pair geometry (centroid_pairs_embeddings)",
            "posexplode fans out in codegen; the ONE corpus Exchange "
            "keys (group, dim) and map-side combines to g x d rows; "
            "everything after operates on centroids only. Zero Python.",
            captured_explain(
                ep.QUERIES["centroid_pairs_embeddings"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Template stripping (template_strip_transcripts)",
            "The mined template set (vocabulary-width) returns as a "
            "BroadcastHashJoin LeftAnti against the map-side normalized "
            "stream; the corpus's only Exchange is the conv_id re-index "
            "window. Zero Python.",
            captured_explain(
                ep.QUERIES["template_strip_transcripts"](spark, SF_DIR)
            ),
        )
    )
    sections.append(
        (
            "Borda rank blend (q_rank_blend_documents)",
            "Signals are map-only codegen; all three signal ranks and "
            "the consensus rank are windows PARTITIONED BY lang sharing "
            "one exchange — no global sort anywhere. Zero Python.",
            captured_explain(
                ep.QUERIES["q_rank_blend_documents"](spark, SF_DIR)
            ),
        )
    )

    out = [
        "# Physical-plan evidence\n",
        f"Generated by `python tools/explain_plans.py` at sf dir `{SF_DIR}`.",
        "Claims these plans substantiate are in SURVEY.md §4 and §7 (D7-D9).\n",
    ]
    for title, claim, plan in sections:
        out.append(f"## {title}\n")
        out.append(claim + "\n")
        out.append("```\n" + plan.strip() + "\n```\n")

    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")
    # hard assertions the doc relies on
    probe_plan = sections[1][2]
    assert "ArrowEvalPython" not in probe_plan and "BatchEvalPython" not in probe_plan
    assert probe_plan.count("BroadcastHashJoin") >= 3
    print("probe plan: zero Python nodes, >=3 broadcast hash joins — OK")
    topk_plan = sections[5][2]
    assert "WindowGroupLimit" in topk_plan
    distinct_plan = sections[6][2]
    assert "Expand" in distinct_plan
    assert distinct_plan.count("Scan parquet  (") == 1  # single leaf scan
    z_plan = sections[7][2]
    assert "Python" not in z_plan
    q18_plan = sections[8][2]
    assert q18_plan.count("BroadcastHashJoin") >= 2
    gs_plan = sections[9][2]
    assert "Expand" in gs_plan and gs_plan.count("Scan parquet  (") == 1
    hof_plan = sections[10][2]
    assert "ArrowEvalPython" not in hof_plan and "BatchEvalPython" not in hof_plan
    merge_plan = sections[11][2]
    assert "PartitionFilters: [bucket" in merge_plan
    q6_plan = sections[12][2]
    assert "l_shipdate" in q6_plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "Join" not in q6_plan
    q8_plan = sections[13][2]
    assert q8_plan.count("BroadcastHashJoin Inner") >= 5
    # exactly one shuffled fact-fact join ("formatted" repeats each
    # operator in the detail section, so count tree lines only)
    assert (
        q8_plan.count("SortMergeJoin Inner")
        + q8_plan.count("ShuffledHashJoin Inner")
        <= 1
    )
    q19_plan = sections[14][2]
    assert "In(p_brand" in q19_plan and "l_quantity,30.0" in q19_plan
    redact_plan = sections[15][2]
    assert "Python" not in redact_plan and "Exchange" not in redact_plan
    nin_plan = sections[16][2]
    assert "BroadcastNestedLoopJoin" not in nin_plan
    assert "BroadcastHashJoin LeftAnti" in nin_plan
    cooc_plan = sections[17][2]
    assert cooc_plan.count("BroadcastHashJoin") >= 3
    fuse_plan = sections[18][2]
    assert "ArrowEvalPython" not in fuse_plan and "BatchEvalPython" not in fuse_plan
    assert fuse_plan.count("BroadcastHashJoin") >= 3
    contam_plan = sections[19][2]
    assert "Python" not in contam_plan
    assert contam_plan.count("BroadcastHashJoin") >= 2
    # no sort-merge/shuffled-hash join anywhere: the corpus never joins
    # through an exchange
    assert "SortMergeJoin" not in contam_plan
    assert "ShuffledHashJoin" not in contam_plan
    pj_plan = sections[20][2]
    assert "ArrowEvalPython" not in pj_plan and "BatchEvalPython" not in pj_plan
    curate_plan = sections[21][2]
    # broadcast anti-join for decontamination; the corpus-sized exchanges
    # are aggregates/windows, never a shuffled corpus-vs-corpus join
    assert "BroadcastHashJoin LeftAnti" in curate_plan
    pack_plan = sections[22][2]
    assert "Python" not in pack_plan
    assert "rangepartitioning" not in pack_plan  # no global sort
    assert "hashpartitioning(__bucket" in pack_plan
    mix_plan = sections[23][2]
    assert "Python" not in mix_plan
    assert "rangepartitioning" not in mix_plan
    assert "hashpartitioning(source" in mix_plan
    span_plan = sections[24][2]
    assert "Python" not in span_plan and "Generate" in span_plan
    lm_plan = sections[25][2]
    assert "Python" not in lm_plan
    inv_plan = sections[26][2]
    assert "Python" not in inv_plan
    tt_plan = sections[27][2]
    assert "PartitionFilters: [bucket" in tt_plan
    assert tt_plan.count("Scan parquet  (") == 2  # parent + new commit
    cdf_plan = sections[28][2]
    # every data scan in the diff is bucket-pruned
    n_scans = cdf_plan.count("Scan parquet  (")
    assert n_scans >= 2
    assert cdf_plan.count("PartitionFilters: [bucket") == n_scans
    ct_plan = sections[29][2]
    assert "ArrowEvalPython" not in ct_plan and "BatchEvalPython" not in ct_plan
    assert "rangepartitioning" not in ct_plan
    assert ct_plan.count("hashpartitioning(conv_id") >= 2
    dsir_plan = sections[30][2]
    assert "ArrowEvalPython" not in dsir_plan and "BatchEvalPython" not in dsir_plan
    assert "BroadcastHashJoin" in dsir_plan and "Generate" in dsir_plan
    assert "SortMergeJoin" not in dsir_plan
    anom_plan = sections[-14][2]
    assert "ArrowEvalPython" not in anom_plan and "BatchEvalPython" not in anom_plan
    assert "Generate" in anom_plan  # the periods-sized window fan-out
    trend_plan = sections[-13][2]
    assert "ArrowEvalPython" not in trend_plan and "BatchEvalPython" not in trend_plan
    assert "HashAggregate" in trend_plan and "Join" not in trend_plan
    ntile_plan = sections[-12][2]
    # one data-keyed hash exchange; no global sort; no checkpoint RDD
    assert "hashpartitioning(__bkt" in ntile_plan
    assert "rangepartitioning" not in ntile_plan
    assert "Scan ExistingRDD" not in ntile_plan  # no localCheckpoint leaf
    assert "MapInPandas" in ntile_plan
    # r04 transcript-curation sections
    c4_plan = sections[-11][2]
    assert "Exchange" not in c4_plan  # map-only
    assert "Python" not in c4_plan
    import re as _re_lint

    for s_idx in (-10, -9, -8):  # lint, budget, merge: conv_id-only shuffles
        p = sections[s_idx][2]
        assert "hashpartitioning(conv_id" in p
        n_all = p.count("hashpartitioning(")
        # full-key match: the partitioning's key LIST must be exactly
        # [conv_id] — a composite hashpartitioning(conv_id, turn_idx)
        # is a second data-keyed exchange and must FAIL this check,
        # not be counted as a conv_id shuffle via prefix matching
        n_conv = len(_re_lint.findall(r"hashpartitioning\(conv_id#\d+, \d+\)", p))
        assert n_all == n_conv, p  # no shuffle on any other/extra key
    ss_plan = sections[-7][2]
    assert "BroadcastHashJoin" in ss_plan
    # every corpus-sized exchange keys the (query, doc) candidate
    # aggregate or the tiny query-gram aggregate — never raw docs
    import re as _re

    for m in _re.finditer(r"hashpartitioning\(([a-z_]+)", ss_plan):
        assert m.group(1) == "query_id", ss_plan[m.start() : m.start() + 80]
    # r05 sections
    tpl_plan = sections[-6][2]
    assert "Python" not in tpl_plan
    assert "rangepartitioning" not in tpl_plan
    # the only data-keyed exchanges key the (role, template) aggregate
    for m in _re.finditer(r"hashpartitioning\(([a-z_]+)", tpl_plan):
        assert m.group(1) == "role", tpl_plan[m.start() : m.start() + 80]
    fork_plan = sections[-5][2]
    assert "Python" not in fork_plan
    assert "rangepartitioning" not in fork_plan
    # raw text never crosses an exchange: every shuffle keys conv_id
    # (assembly) or depth (fork aggregate)
    for m in _re.finditer(r"hashpartitioning\(([a-z_]+)", fork_plan):
        assert m.group(1) in ("conv_id", "depth"), (
            fork_plan[m.start() : m.start() + 80]
        )
    vc_plan = sections[-4][2]
    assert "Python" not in vc_plan
    assert "BroadcastHashJoin" in vc_plan  # top-V set broadcasts back
    assert "rangepartitioning" not in vc_plan  # rank = SinglePartition
    cd_plan = sections[-3][2]
    assert "Python" not in cd_plan
    assert "rangepartitioning" not in cd_plan
    strip_plan = sections[-2][2]
    assert "Python" not in strip_plan
    assert "BroadcastHashJoin LeftAnti" in strip_plan
    assert "rangepartitioning" not in strip_plan
    rb_plan = sections[-1][2]
    assert "Python" not in rb_plan
    assert "rangepartitioning" not in rb_plan  # partition-bounded sorts only
    for m in _re.finditer(r"hashpartitioning\(([a-z_]+)", rb_plan):
        assert m.group(1) == "grp", rb_plan[m.start() : m.start() + 80]
    print(
        "topk/multi-distinct/z-order/q18/grouping-sets/hof/merge/"
        "q6/q8/q19/redact/not-in/cooccur/fuse-sql/contamination/"
        "prefix-join/curate/spans/lm/postings/timetravel/"
        "curate-transcripts/dsir/anomaly/trend/c4/lint/budget/"
        "turn-merge/substring/templates/forks/vocab/centroid/strip/rank-blend plans — OK"
    )
    spark.stop()


if __name__ == "__main__":
    main()
