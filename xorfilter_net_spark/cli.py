"""spark-submit entry point.

Usage (cluster) — submit the ``tools/submit_cli.py`` shim (a primary
file runs as ``__main__`` with no parent package, so the package itself
must arrive via ``--py-files``)::

    zip -r xorfilter_net_spark.zip xorfilter_net_spark -x '*__pycache__*'
    spark-submit --py-files xorfilter_net_spark.zip tools/submit_cli.py \
        build-xor \
        --input /data/transcripts --key-expr "concat_ws(':', conv_id, cast(xxhash64(text) as string))" \
        --run-dir /ckpt/run42 --width 16 --seed 12345 --num-shards 4096

    spark-submit --py-files xorfilter_net_spark.zip tools/submit_cli.py \
        probe --filter /ckpt/run42/filter.json \
        --input /data/candidates --key-expr key --output /out/probed

A ``build-xor``/``update-xor`` run dir is a filter table
(``filters/table.py``: ``filter.json`` meta over ``shards/`` parquet);
``probe`` loads the table whose ``filter.json`` it is given and probes
it with the zero-Python ``probe_sql``.

Local smoke (this sandbox)::

    python -m xorfilter_net_spark.cli build-xor \
        --input /root/testdata/sf0.001/documents.parquet \
        --key-expr "cast(doc_id as string)" --run-dir /tmp/xf_run

Every command prints a single JSON metrics line on success (machine
readable — the same shape bench.py uses).
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_spark(app: str):
    from .sources.session import get_spark

    return get_spark(app_name=app)


def cmd_build_xor(args: argparse.Namespace) -> dict:
    from pyspark.sql import functions as F

    from .pipeline.checkpoint import build_xor_filter_checkpointed

    spark = _get_spark("xorfilter-build")
    df = spark.read.parquet(args.input).select(
        F.expr(args.key_expr).alias("key")
    )
    sxf, metrics = build_xor_filter_checkpointed(
        df,
        "key",
        args.run_dir,
        num_shards=args.num_shards,
        width=args.width,
        seed=args.seed,
        input_token=args.input,
    )
    m = sxf.metrics
    return {
        "command": "build-xor",
        "run_dir": args.run_dir,
        "filter": f"{args.run_dir}/filter.json",
        "n_keys": m["n_keys"],
        "table_size": m["table_size"],
        "num_shards": m["num_shards"],
        "stages": {
            k: {kk: v[kk] for kk in ("wall_sec", "resumed") if kk in v}
            for k, v in metrics.items()
        },
    }


def cmd_update_xor(args: argparse.Namespace) -> dict:
    from pyspark.sql import functions as F

    from .pipeline.checkpoint import update_xor_filter_checkpointed

    spark = _get_spark("xorfilter-update")
    delta = spark.read.parquet(args.input).select(
        F.expr(args.key_expr).alias("key")
    )
    sxf, metrics = update_xor_filter_checkpointed(
        delta,
        "key",
        args.base_run_dir,
        args.run_dir,
        input_token=args.input,
    )
    m = sxf.metrics
    return {
        "command": "update-xor",
        "base_run_dir": args.base_run_dir,
        "run_dir": args.run_dir,
        "filter": f"{args.run_dir}/filter.json",
        "n_keys": m["n_keys"],
        "table_size": m["table_size"],
        "shards_rebuilt": metrics["update"]["shards_rebuilt"],
        "num_shards": m["num_shards"],
        "stages": {
            k: {kk: v[kk] for kk in ("wall_sec", "resumed") if kk in v}
            for k, v in metrics.items()
            if isinstance(v, dict) and k != "update"
        },
    }


def cmd_probe(args: argparse.Namespace) -> dict:
    import os

    from pyspark.sql import functions as F

    from .filters.spark_build import probe_sql
    from .filters.table import XorFilterTable

    spark = _get_spark("xorfilter-probe")
    tab = XorFilterTable.load(spark, os.path.dirname(os.path.abspath(args.filter)))
    df = spark.read.parquet(args.input).withColumn(
        "key", F.expr(args.key_expr)
    )
    probed = probe_sql(tab.to_sharded(), df, "key")  # zero-Python codegen path
    probed.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    return {"command": "probe", "output": args.output, "rows": n}


def cmd_sketch(args: argparse.Namespace) -> dict:
    from .sketches.base import aggregate, aggregate_checkpointed

    spark = _get_spark("sketch-aggregate")
    df = spark.read.parquet(args.input)
    if args.kind == "hll":
        from .sketches.hll import HllSketch

        sk = HllSketch(p=args.precision, key_col=args.column)
        if args.run_dir:
            # resumable: partial states persisted with lineage; a rerun
            # with the same run-dir skips completed stages
            st, metrics = aggregate_checkpointed(
                df, [args.column], sk, args.run_dir,
                params={"p": args.precision, "input": args.input},
            )
            return {
                "command": "sketch",
                "kind": "hll",
                "estimate": sk.estimate(st),
                "stages": {
                    k: {"resumed": v["resumed"], "wall_sec": v.get("wall_sec")}
                    for k, v in metrics.items()
                },
            }
        st = aggregate(df, [args.column], sk)
        return {
            "command": "sketch",
            "kind": "hll",
            "estimate": sk.estimate(st),
        }
    if args.kind == "bloom":
        from .commit import publish
        from .sketches.bloom import BloomSketch

        n = df.select(args.column).distinct().count()
        sk = BloomSketch.for_capacity(n, fpp=args.fpp, key_col=args.column)
        st = aggregate(df, [args.column], sk)
        out = args.output or (args.input.rstrip("/") + ".bloom.json")
        publish(
            out,
            json.dumps({"m": sk.m, "k": sk.k, "state": sk.serialize(st).hex()}),
        )
        return {"command": "sketch", "kind": "bloom", "artifact": out, "m": sk.m}
    raise SystemExit(f"unknown sketch kind: {args.kind}")


def cmd_kmeans(args: argparse.Namespace) -> dict:
    from .ann.kmeans import kmeans_assign, kmeans_fit

    spark = _get_spark("kmeans")
    df = spark.read.parquet(args.input)
    fit = kmeans_fit(
        df, args.id_col, args.vec_col,
        k=args.k, iters=args.iters, seed=args.seed,
    )
    assigned = kmeans_assign(
        df, args.id_col, args.vec_col, fit["centroids"]
    ).persist()
    if args.output:
        assigned.write.mode("overwrite").parquet(args.output)
    # report sizes from the FINAL-centroid assignment actually written,
    # not kmeans_fit's last-iteration bookkeeping (which reflects the
    # penultimate centroids) — keeps the CLI output self-consistent
    # with the assignment parquet
    k = int(fit["centroids"].shape[0])
    sizes = {c: 0 for c in range(k)}
    for r in assigned.groupBy("cell").count().collect():
        sizes[int(r["cell"])] = int(r["count"])
    assigned.unpersist()
    return {
        "command": "kmeans",
        "k": k,
        "sizes": {str(c): n for c, n in sorted(sizes.items())},
        "inertia_e6": fit["inertia_e6"],
        "output": args.output,
    }


def cmd_wordpiece(args: argparse.Namespace) -> dict:
    from .text.wordpiece import (
        encode_wordpiece,
        train_wordpiece,
        vocab_pieces,
        wordpiece_vocab_set,
    )

    spark = _get_spark("wordpiece")
    df = spark.read.parquet(args.input)
    merges, vocab = train_wordpiece(
        df, text_col=args.text_col, num_merges=args.num_merges
    )
    pieces_df = vocab_pieces(vocab)
    if args.pieces_output:
        pieces_df.write.mode("overwrite").parquet(args.pieces_output)
    out = {
        "command": "wordpiece",
        "n_merges": len(merges),
        "n_pieces": pieces_df.count(),
        "merges": [[m.left, m.right, m.pair_count] for m in merges[:20]],
    }
    if args.encode_output:
        enc = encode_wordpiece(
            df, wordpiece_vocab_set(vocab), args.id_col, args.text_col
        )
        enc.write.mode("overwrite").parquet(args.encode_output)
        out["encode_output"] = args.encode_output
    vocab.unpersist()
    return out


def cmd_anomaly(args: argparse.Namespace) -> dict:
    from .relational.timeseries import rolling_moment_anomalies

    spark = _get_spark("anomaly")
    df = spark.read.parquet(args.input)
    rep = rolling_moment_anomalies(
        df, args.value_col, args.ts_col,
        window=args.window, sigmas=args.sigmas,
    )
    if args.output:
        rep.write.mode("overwrite").parquet(args.output)
    flagged = rep.filter("is_anomaly").count()
    return {
        "command": "anomaly",
        "periods": rep.count(),
        "flagged": flagged,
        "output": args.output,
    }


def cmd_profile(args: argparse.Namespace) -> dict:
    """One-scan column profile (pipeline/profile.py); optionally runs
    the suggested checks back through the validator (Deequ loop)."""
    from .pipeline.profile import profile_columns

    spark = _get_spark("profile")
    df = spark.read.parquet(args.input)
    cols = args.columns.split(",") if args.columns else None
    prof = profile_columns(df, cols, exact_ndv=not args.no_exact_ndv)
    rows = [r.asDict() for r in prof.collect()]
    out = {"command": "profile", "input": args.input, "columns": rows}
    if args.suggest:
        from .pipeline.validate import suggest_checks, validate

        checks = suggest_checks(prof)
        rep = validate(df, checks)
        out["suggested_checks"] = [c.name for c in checks]
        out["suggested_report"] = [r.asDict() for r in rep.collect()]
    return out


def cmd_skip_index(args: argparse.Namespace) -> dict:
    """Filter-backed file-skipping index (sources/skipping.py)."""
    from .sources.skipping import build_skip_index, prune_files

    spark = _get_spark("skip-index")
    if args.action == "build":
        meta = build_skip_index(
            spark, args.data, args.key_col, args.index, width=args.width
        )
        return {"command": "skip-index", "action": "build", **meta}
    values = args.values.split(",")
    kept, total = prune_files(spark, args.index, values)
    return {
        "command": "skip-index",
        "action": "prune",
        "n_files_total": total,
        "n_files_kept": len(kept),
        "files": kept,
    }


def cmd_dedup(args: argparse.Namespace) -> dict:
    """End-to-end dedup job: write the surviving rows of a corpus.

    ``--mode exact``: content-equality dedup (min-id survivor per group).
    ``--mode near``: MinHash/LSH candidate pairs -> exact-Jaccard verify
    at ``--tau`` -> connected components -> min-id survivor per cluster.
    """
    from .dedup.exact import exact_dedup

    spark = _get_spark("dedup")
    df = spark.read.parquet(args.input)
    n_in = df.count()
    if args.mode == "exact":
        kept = exact_dedup(df, args.id_col, [args.text_col])
        n_pairs = None
    else:
        from .dedup.clusters import near_dup_survivors
        from .dedup.minhash import near_duplicate_pairs

        pairs = near_duplicate_pairs(
            df, args.id_col, args.text_col, tau=args.tau
        )
        kept = near_dup_survivors(df, pairs, args.id_col)
        n_pairs = pairs.count()
    kept.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    out = {
        "command": "dedup",
        "mode": args.mode,
        "rows_in": n_in,
        "rows_out": n_out,
        "removed": n_in - n_out,
        "output": args.output,
    }
    if n_pairs is not None:
        out["near_dup_pairs"] = n_pairs
    return out


def cmd_curate(args: argparse.Namespace) -> dict:
    """End-to-end curation job (pipeline/curate.py): exact dedup ->
    quality/language gate -> benchmark decontamination (against
    ``--eval-input``, skipped when absent) -> deterministic train/val
    split; writes the curated label table
    ``(id, lang_pred, quality_score, split)``."""
    from .pipeline.curate import curate_corpus

    spark = _get_spark("curate")
    df = spark.read.parquet(args.input)
    n_in = df.count()
    if args.eval_input:
        ev = spark.read.parquet(args.eval_input).select(args.text_col)
    else:
        ev = df.limit(0).select(args.text_col)
    curated = curate_corpus(
        df,
        ev,
        args.id_col,
        args.text_col,
        min_quality=args.min_quality,
        val_fraction=args.val_fraction,
        prune=args.prune,
        max_dup_line_frac_e6=args.max_dup_line_frac_e6,
        max_top_bigram_frac_e6=args.max_top_bigram_frac_e6,
    )
    curated.write.mode("overwrite").parquet(args.output)
    from pyspark.sql import functions as F

    splits = {
        r["split"]: r["n"]
        for r in spark.read.parquet(args.output)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_out = sum(splits.values())
    return {
        "command": "curate",
        "rows_in": n_in,
        "rows_out": n_out,
        "removed": n_in - n_out,
        "splits": splits,
        "output": args.output,
    }


def cmd_curate_pairs(args: argparse.Namespace) -> dict:
    """Transcript curation capstone (pipeline/curate_transcripts.py):
    conversation dedup -> quality gate -> (context, target) pair
    emission -> deterministic split; writes the pair table."""
    from .pipeline.curate_transcripts import curate_transcript_pairs

    spark = _get_spark("curate-pairs")
    turns = spark.read.parquet(args.input)
    n_turns = turns.count()
    pairs = curate_transcript_pairs(
        turns,
        min_turns=args.min_turns,
        min_total_chars=args.min_total_chars,
        context_turns=args.context_turns,
        val_fraction=args.val_fraction,
    )
    pairs.write.mode("overwrite").parquet(args.output)
    from pyspark.sql import functions as F

    out = spark.read.parquet(args.output)
    splits = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "command": "curate-pairs",
        "turns_in": n_turns,
        "pairs_out": sum(splits.values()),
        "conversations_out": out.select("conv_id").distinct().count(),
        "splits": splits,
        "output": args.output,
    }


def cmd_lint(args: argparse.Namespace) -> dict:
    """Conversation integrity lint (pipeline/conv_lint.py): per-
    conversation sequence-aware validation report; writes the report
    and summarizes the failure mix."""
    from pyspark.sql import functions as F

    from .pipeline.conv_lint import conversation_lint

    spark = _get_spark("lint")
    turns = spark.read.parquet(args.input)
    rep = conversation_lint(turns)
    rep.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    agg = out.agg(
        F.count(F.lit(1)).alias("n_conversations"),
        F.sum((~F.col("is_clean")).cast("long")).alias("n_dirty"),
        F.sum((~F.col("idx_contiguous")).cast("long")).alias("n_idx_gaps"),
        F.sum("n_ts_violations").alias("ts_violations"),
        F.sum("n_role_mismatch").alias("role_mismatches"),
        F.sum("n_empty_turns").alias("empty_turns"),
        F.sum("n_tool_dangling").alias("tool_dangling"),
    ).collect()[0]
    return {
        "command": "lint",
        **{k: int(agg[k] or 0) for k in agg.asDict()},
        "output": args.output,
    }


def cmd_merge_turns(args: argparse.Namespace) -> dict:
    """Merge consecutive same-role turns (pipeline/turn_merge.py) —
    the chat-template normalization; writes the collapsed turn table."""
    from pyspark.sql import functions as F

    from .pipeline.turn_merge import merge_consecutive_turns

    spark = _get_spark("merge-turns")
    turns = spark.read.parquet(args.input)
    n_in = turns.count()
    out = merge_consecutive_turns(turns, sep=args.sep)
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    n_out = written.count()
    n_collapsed = written.filter("n_merged > 1").count()
    return {
        "command": "merge-turns",
        "turns_in": n_in,
        "turns_out": n_out,
        "runs_collapsed": n_collapsed,
        "output": args.output,
    }


def cmd_templates(args: argparse.Namespace) -> dict:
    """Template/boilerplate mining (text/templates.py): normalized turn
    texts recurring across >= min-convs distinct conversations; writes
    the template table and summarizes the worst offenders."""
    from pyspark.sql import functions as F

    from .text.templates import mine_templates

    spark = _get_spark("templates")
    turns = spark.read.parquet(args.input)
    rep = mine_templates(turns, min_convs=args.min_convs)
    rep.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    top = [
        r.asDict()
        for r in written.orderBy(
            F.col("n_convs").desc(), "template"
        ).limit(args.top).collect()
    ]
    return {
        "command": "templates",
        "n_templates": written.count(),
        "top": top,
        "output": args.output,
    }


def cmd_forks(args: argparse.Namespace) -> dict:
    """Conversation fork detection (pipeline/forks.py): shared turn
    prefixes with divergent continuations; writes the fork-point table."""
    from .pipeline.forks import fork_points

    spark = _get_spark("forks")
    turns = spark.read.parquet(args.input)
    rep = fork_points(turns, max_depth=args.max_depth)
    rep.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    by_depth = {
        int(r["depth"]): int(r["n"])
        for r in written.groupBy("depth").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    return {
        "command": "forks",
        "n_fork_points": written.count(),
        "by_depth": by_depth,
        "output": args.output,
    }


def cmd_vocab_coverage(args: argparse.Namespace) -> dict:
    """Vocabulary coverage / OOV-rate report (text/vocab_coverage.py):
    per-document OOV share against the corpus top-V vocabulary."""
    from pyspark.sql import functions as F

    from .text.vocab_coverage import vocab_coverage

    spark = _get_spark("vocab-coverage")
    docs = spark.read.parquet(args.input)
    rep = vocab_coverage(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        vocab_size=args.vocab_size,
    )
    rep.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    agg = written.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_oov").alias("oov_tokens"),
    ).collect()[0]
    tok, oov = int(agg["tokens"] or 0), int(agg["oov_tokens"] or 0)
    return {
        "command": "vocab-coverage",
        "vocab_size": args.vocab_size,
        "n_docs": int(agg["n_docs"]),
        "tokens": tok,
        "oov_tokens": oov,
        "corpus_oov_e6": (1000000 * oov) // tok if tok else 0,
        "output": args.output,
    }


def cmd_centroids(args: argparse.Namespace) -> dict:
    """Per-group embedding centroid cosine (ann/centroid_drift.py):
    the pairwise drift/separation report."""
    from .ann.centroid_drift import centroid_pairs

    spark = _get_spark("centroids")
    emb = spark.read.parquet(args.input)
    rows = [
        r.asDict()
        for r in centroid_pairs(
            emb, group_col=args.group_col, vec_col=args.vec_col
        ).collect()
    ]
    return {
        "command": "centroids",
        "n_pairs": len(rows),
        "pairs": sorted(
            rows, key=lambda r: (r["group_a"], r["group_b"])
        ),
    }


def cmd_trending(args: argparse.Namespace) -> dict:
    """Exponentially-decayed heavy hitters (sketches/decay.py): the
    trending-now key table with half-life-per-period integer decay."""
    from .sketches.decay import decayed_topk_mg

    spark = _get_spark("trending")
    events = spark.read.parquet(args.input)
    out = decayed_topk_mg(
        events,
        args.key_col,
        args.ts_col,
        k=args.k,
        window=args.window,
        period_seconds=args.period_seconds,
        top=args.top,
    )
    rows = [r.asDict() for r in out.collect()]
    return {
        "command": "trending",
        "window": args.window,
        "top": rows,
    }


def cmd_reconcile(args: argparse.Namespace) -> dict:
    """Order-independent table reconciliation (relational/reconcile.py):
    per-bucket count + XOR digest comparison of two parquet tables;
    prints the mismatching buckets."""
    from .relational.reconcile import reconcile_tables

    spark = _get_spark("reconcile")
    a = spark.read.parquet(args.left)
    b = spark.read.parquet(args.right)
    cols = args.cols.split(",") if args.cols else a.columns
    rep = reconcile_tables(a, b, cols, args.key_col, args.buckets)
    rows = rep.collect()
    bad = sorted(r["bucket"] for r in rows if not r["rows_match"])
    return {
        "command": "reconcile",
        "buckets": args.buckets,
        "buckets_matching": sum(1 for r in rows if r["rows_match"]),
        "buckets_differing": bad,
        "rows_left": sum(r["n_a"] for r in rows),
        "rows_right": sum(r["n_b"] for r in rows),
        "identical": not bad,
    }


def cmd_dsir(args: argparse.Namespace) -> dict:
    """DSIR data selection (text/dsir.py): score the raw corpus against
    a target sample by hashed n-gram log likelihood ratio; writes either
    the full score table or the selected top-k rows."""
    from .text.dsir import dsir_scores, dsir_select

    spark = _get_spark("dsir")
    raw = spark.read.parquet(args.input)
    target = spark.read.parquet(args.target_input)
    if args.k:
        out = dsir_select(
            raw, target, args.id_col, args.text_col, k=args.k
        )
    else:
        out = dsir_scores(raw, target, args.id_col, args.text_col)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    return {
        "command": "dsir",
        "rows_in": raw.count(),
        "rows_out": n,
        "mode": "select" if args.k else "scores",
        "output": args.output,
    }


def cmd_gen_transcripts(args: argparse.Namespace) -> dict:
    """Materialize a deterministic synthetic transcript corpus (custom
    Python Data Source, sources/synthetic.py) as a partitioned parquet
    dataset — the no-external-data path to an arbitrarily large test
    corpus: same (conversations, seed) => same rows on any cluster."""
    from .sources.sinks import write_dataset
    from .sources.synthetic import register

    spark = _get_spark("gen-transcripts")
    register(spark)
    df = (
        spark.read.format("synthetic_transcripts")
        .option("conversations", args.conversations)
        .option("seed", args.seed)
        .option("max_turns", args.max_turns)
        .option("partitions", args.partitions)
        .load()
    )
    write_dataset(df, args.output, files_per_partition=args.partitions)
    n = spark.read.parquet(args.output).count()
    return {
        "command": "gen-transcripts",
        "conversations": args.conversations,
        "seed": args.seed,
        "rows": n,
        "output": args.output,
    }


def cmd_table(args: argparse.Namespace) -> dict:
    """Versioned keyed table (sources/timetravel.py): Iceberg-style
    snapshots on bare parquet. ``create`` commits v0; ``merge`` commits
    a new version touching only the delta's buckets; ``read`` writes a
    version (default latest) to parquet; ``compact`` collapses owners;
    ``expire`` GCs history."""
    from .sources import timetravel as tt

    spark = _get_spark("table")
    out: dict = {"command": "table", "action": args.action, "path": args.path}
    if args.action == "create":
        df = spark.read.parquet(args.input)
        tt.create_table(df, args.path, args.key_col, args.buckets)
        out["version"] = 0
    elif args.action == "merge":
        delta = spark.read.parquet(args.input)
        out.update(
            tt.merge_into(spark, args.path, delta, deleted_col=args.deleted_col)
        )
    elif args.action == "read":
        df = tt.read_table(spark, args.path, version=args.version)
        df.write.mode("overwrite").parquet(args.output)
        out["rows"] = spark.read.parquet(args.output).count()
        out["version"] = (
            args.version
            if args.version is not None
            else tt.current_version(args.path)
        )
    elif args.action == "delete":
        keys = spark.read.parquet(args.input)
        out.update(tt.delete_where(spark, args.path, keys))
    elif args.action == "compact":
        out["version"] = tt.compact(spark, args.path)
    elif args.action == "fsck":
        out.update(tt.fsck(args.path, repair=args.repair))
    elif args.action == "changes":
        df = tt.table_changes(
            spark, args.path, args.from_version, args.version
            if args.version is not None
            else tt.current_version(args.path),
        )
        df.write.mode("overwrite").parquet(args.output)
        counts = {
            r["change_type"]: r["count"]
            for r in df.groupBy("change_type").count().collect()
        }
        out["changes"] = counts
    else:  # expire
        out.update(tt.expire_versions(args.path, keep_latest=args.keep_latest))
    out["versions"] = tt.list_versions(args.path)
    return out


def cmd_spans(args: argparse.Namespace) -> dict:
    """Duplicated n-gram span dedup (dedup/spans.py): ``report`` writes
    the maximal duplicated spans; ``strip`` writes the cleaned corpus."""
    from .dedup.spans import duplicated_spans, strip_duplicated_spans

    spark = _get_spark("spans")
    df = spark.read.parquet(args.input)
    if args.action == "report":
        out_df = duplicated_spans(
            df, args.id_col, args.text_col, k=args.k,
            min_count=args.min_count, carry=args.carry,
        )
    else:
        out_df = strip_duplicated_spans(
            df, args.id_col, args.text_col, k=args.k,
            min_count=args.min_count, carry=args.carry,
        )
    out_df.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    return {
        "command": "spans",
        "action": args.action,
        "k": args.k,
        "rows": n,
        "output": args.output,
    }


def cmd_drift(args: argparse.Namespace) -> dict:
    """Sketch-based drift report between two parquet snapshots
    (sketches/drift.py): one pass per side, all comparisons at the
    state level — distinct/Jaccard (theta), KS distance (KLL),
    total-variation (Misra-Gries)."""
    from .sketches.drift import drift_report

    spark = _get_spark("drift")
    a = spark.read.parquet(args.a)
    b = spark.read.parquet(args.b)
    rep = drift_report(
        a, b, key_col=args.key_col, num_col=args.num_col,
        cat_col=args.cat_col,
    )
    return {"command": "drift", "a": args.a, "b": args.b, **{
        k: round(v, 6) for k, v in rep.items()
    }}


def cmd_merge(args: argparse.Namespace) -> dict:
    """MERGE INTO a keyed snapshot (sources/upsert.py): ``init`` writes
    the bucket-partitioned snapshot; ``apply`` folds a delta parquet
    (optionally with a boolean delete-marker column) into it, rewriting
    only the touched bucket dirs."""
    from .sources.upsert import merge_into, read_snapshot, write_snapshot

    spark = _get_spark("merge")
    if args.action == "init":
        df = spark.read.parquet(args.input)
        write_snapshot(df, args.snapshot, args.key_col, args.buckets)
        stats = {"buckets_touched": args.buckets, "n_buckets": args.buckets}
    else:
        delta = spark.read.parquet(args.input)
        stats = merge_into(
            spark, args.snapshot, delta, deleted_col=args.deleted_col
        )
    return {
        "command": "merge",
        "action": args.action,
        "snapshot": args.snapshot,
        "rows": read_snapshot(spark, args.snapshot).count(),
        **stats,
    }


def cmd_compact(args: argparse.Namespace) -> dict:
    """Small-file compaction (sources/maintenance.py): metadata-planned,
    rewrites only flagged partition dirs; ``--dry-run`` prints the plan
    without touching data."""
    from .sources.maintenance import compact_dataset, plan_compaction

    if args.dry_run:
        plans = plan_compaction(args.path, args.target_file_bytes)
    else:
        spark = _get_spark("compact")
        plans = compact_dataset(spark, args.path, args.target_file_bytes)
    return {
        "command": "compact",
        "path": args.path,
        "dry_run": args.dry_run,
        "directories": [
            {
                "dir": p.directory,
                "n_files": p.n_files,
                "total_bytes": p.total_bytes,
                "target_files": p.target_files,
            }
            for p in plans
        ],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="xorfilter_net_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build-xor", help="checkpointed sharded XOR build")
    b.add_argument("--input", required=True)
    b.add_argument("--key-expr", required=True)
    b.add_argument("--run-dir", required=True)
    b.add_argument("--width", type=int, default=16, choices=(8, 16, 32))
    b.add_argument("--seed", type=int, default=0)
    b.add_argument("--num-shards", type=int, default=64)
    b.set_defaults(fn=cmd_build_xor)

    u = sub.add_parser(
        "update-xor",
        help="fold a delta into an existing build (re-peels only affected "
        "shards; O(delta), never O(corpus))",
    )
    u.add_argument("--input", required=True, help="delta parquet")
    u.add_argument("--key-expr", required=True)
    u.add_argument("--base-run-dir", required=True)
    u.add_argument("--run-dir", required=True)
    u.set_defaults(fn=cmd_update_xor)

    pr = sub.add_parser("probe", help="probe a built filter")
    pr.add_argument(
        "--filter", required=True,
        help="filter.json of a build-xor/update-xor run dir or filter table",
    )
    pr.add_argument("--input", required=True)
    pr.add_argument("--key-expr", required=True)
    pr.add_argument("--output", required=True)
    pr.set_defaults(fn=cmd_probe)

    s = sub.add_parser("sketch", help="one-shot sketch aggregate")
    s.add_argument("kind", choices=("hll", "bloom"))
    s.add_argument("--input", required=True)
    s.add_argument("--column", required=True)
    s.add_argument("--precision", type=int, default=14)
    s.add_argument("--fpp", type=float, default=0.01)
    s.add_argument("--output")
    s.add_argument(
        "--run-dir",
        help="checkpoint directory: persists per-partition partial states "
        "+ manifests; reruns resume (hll only)",
    )
    s.set_defaults(fn=cmd_sketch)

    d = sub.add_parser(
        "dedup", help="write corpus survivors (exact or near-dup clusters)"
    )
    d.add_argument("--input", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--mode", choices=("exact", "near"), default="exact")
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--text-col", default="text")
    d.add_argument(
        "--tau", type=float, default=0.5, help="near mode: Jaccard threshold"
    )
    d.set_defaults(fn=cmd_dedup)

    cu = sub.add_parser(
        "curate",
        help="end-to-end corpus curation (dedup -> gate -> decontaminate -> split)",
    )
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--eval-input", default=None)
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--min-quality", type=int, default=60)
    cu.add_argument("--val-fraction", type=float, default=0.1)
    cu.add_argument("--prune", choices=["broadcast", "xor"], default="broadcast")
    cu.add_argument("--max-dup-line-frac-e6", type=int, default=None)
    cu.add_argument("--max-top-bigram-frac-e6", type=int, default=None)
    cu.set_defaults(fn=cmd_curate)

    cpairs = sub.add_parser(
        "curate-pairs",
        help="transcript curation (conv dedup -> gate -> SFT pairs -> split)",
    )
    cpairs.add_argument("--input", required=True, help="turns parquet")
    cpairs.add_argument("--output", required=True)
    cpairs.add_argument("--min-turns", type=int, default=3)
    cpairs.add_argument("--min-total-chars", type=int, default=40)
    cpairs.add_argument("--context-turns", type=int, default=3)
    cpairs.add_argument("--val-fraction", type=float, default=0.1)
    cpairs.set_defaults(fn=cmd_curate_pairs)

    lint = sub.add_parser(
        "lint",
        help="conversation integrity lint (sequence-aware validation)",
    )
    lint.add_argument("--input", required=True, help="turns parquet")
    lint.add_argument("--output", required=True)
    lint.set_defaults(fn=cmd_lint)

    mt = sub.add_parser(
        "merge-turns",
        help="merge consecutive same-role turns (chat normalization)",
    )
    mt.add_argument("--input", required=True, help="turns parquet")
    mt.add_argument("--output", required=True)
    mt.add_argument("--sep", default="\n")
    mt.set_defaults(fn=cmd_merge_turns)

    tp = sub.add_parser(
        "templates",
        help="mine cross-conversation boilerplate templates",
    )
    tp.add_argument("--input", required=True, help="turns parquet")
    tp.add_argument("--output", required=True)
    tp.add_argument("--min-convs", type=int, default=2)
    tp.add_argument("--top", type=int, default=10)
    tp.set_defaults(fn=cmd_templates)

    fk = sub.add_parser(
        "forks",
        help="detect conversation forks (shared prefix, divergent next turn)",
    )
    fk.add_argument("--input", required=True, help="turns parquet")
    fk.add_argument("--output", required=True)
    fk.add_argument("--max-depth", type=int, default=8)
    fk.set_defaults(fn=cmd_forks)

    vc = sub.add_parser(
        "vocab-coverage",
        help="per-document OOV rate vs the corpus top-V vocabulary",
    )
    vc.add_argument("--input", required=True, help="documents parquet")
    vc.add_argument("--output", required=True)
    vc.add_argument("--id-col", default="doc_id")
    vc.add_argument("--text-col", default="text")
    vc.add_argument("--vocab-size", type=int, default=256)
    vc.set_defaults(fn=cmd_vocab_coverage)

    ce = sub.add_parser(
        "centroids",
        help="per-group embedding centroid cosine (drift/separation)",
    )
    ce.add_argument("--input", required=True, help="embeddings parquet")
    ce.add_argument("--group-col", default="label")
    ce.add_argument("--vec-col", default="embedding")
    ce.set_defaults(fn=cmd_centroids)

    tr = sub.add_parser(
        "trending",
        help="decayed heavy hitters (half-life-per-period trending keys)",
    )
    tr.add_argument("--input", required=True, help="events parquet")
    tr.add_argument("--key-col", default="event_type")
    tr.add_argument("--ts-col", default="ts")
    tr.add_argument("--k", type=int, default=256)
    tr.add_argument("--window", type=int, default=14)
    tr.add_argument("--period-seconds", type=int, default=86400)
    tr.add_argument("--top", type=int, default=10)
    tr.set_defaults(fn=cmd_trending)

    rc = sub.add_parser(
        "reconcile",
        help="order-independent replica diff (per-bucket XOR digests)",
    )
    rc.add_argument("--left", required=True, help="parquet table A")
    rc.add_argument("--right", required=True, help="parquet table B")
    rc.add_argument("--key-col", required=True)
    rc.add_argument(
        "--cols", default=None, help="comma-separated compared columns"
    )
    rc.add_argument("--buckets", type=int, default=64)
    rc.set_defaults(fn=cmd_reconcile)

    ds = sub.add_parser(
        "dsir",
        help="DSIR data selection (hashed n-gram log likelihood ratio)",
    )
    ds.add_argument("--input", required=True, help="raw corpus parquet")
    ds.add_argument("--target-input", required=True, help="target sample parquet")
    ds.add_argument("--output", required=True)
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--k", type=int, default=None, help="select top-k (else write scores)")
    ds.set_defaults(fn=cmd_dsir)

    m = sub.add_parser(
        "merge", help="MERGE INTO a keyed snapshot (bucket-pruned rewrite)"
    )
    m.add_argument("action", choices=["init", "apply"])
    m.add_argument("--snapshot", required=True)
    m.add_argument("--input", required=True, help="source/delta parquet")
    m.add_argument("--key-col", default="doc_id")
    m.add_argument("--buckets", type=int, default=64)
    m.add_argument("--deleted-col", default=None)
    m.set_defaults(fn=cmd_merge)

    cp = sub.add_parser(
        "compact",
        help="compact small files (rewrites only fragmented partition dirs)",
    )
    cp.add_argument("path")
    cp.add_argument(
        "--target-file-bytes", type=int, default=128 * 1024 * 1024
    )
    cp.add_argument("--dry-run", action="store_true")
    cp.set_defaults(fn=cmd_compact)

    g = sub.add_parser(
        "gen-transcripts",
        help="materialize the deterministic synthetic transcript corpus",
    )
    g.add_argument("--output", required=True)
    g.add_argument("--conversations", type=int, default=1000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--max-turns", type=int, default=8)
    g.add_argument("--partitions", type=int, default=8)
    g.set_defaults(fn=cmd_gen_transcripts)

    t = sub.add_parser(
        "table", help="versioned keyed table (snapshots + time travel)"
    )
    t.add_argument(
        "action",
        choices=[
            "create", "merge", "delete", "read", "compact", "expire", "changes",
            "fsck",
        ],
    )
    t.add_argument("--from-version", type=int, default=0)
    t.add_argument("--path", required=True)
    t.add_argument("--input", help="parquet input (create/merge)")
    t.add_argument("--key-col", default="doc_id")
    t.add_argument("--buckets", type=int, default=64)
    t.add_argument("--deleted-col", default=None)
    t.add_argument("--version", type=int, default=None)
    t.add_argument("--output", help="parquet output (read)")
    t.add_argument("--keep-latest", type=int, default=1)
    t.add_argument("--repair", action="store_true", help="fsck: remove orphans")
    t.set_defaults(fn=cmd_table)

    sp = sub.add_parser(
        "spans", help="duplicated n-gram span report / strip"
    )
    sp.add_argument("action", choices=["report", "strip"])
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--min-count", type=int, default=2)
    sp.add_argument("--carry", choices=["gram", "hash"], default="gram")
    sp.set_defaults(fn=cmd_spans)

    dr = sub.add_parser(
        "drift", help="sketch-based drift report between two snapshots"
    )
    dr.add_argument("--a", required=True, help="reference parquet")
    dr.add_argument("--b", required=True, help="candidate parquet")
    dr.add_argument("--key-col", required=True)
    dr.add_argument("--num-col", required=True)
    dr.add_argument("--cat-col", required=True)
    dr.set_defaults(fn=cmd_drift)

    pr2 = sub.add_parser(
        "profile", help="one-scan column profile (+ optional Deequ loop)"
    )
    pr2.add_argument("--input", required=True, help="parquet path")
    pr2.add_argument("--columns", default=None, help="comma list (default all)")
    pr2.add_argument("--no-exact-ndv", action="store_true")
    pr2.add_argument(
        "--suggest", action="store_true",
        help="run suggested checks back through the validator",
    )
    pr2.set_defaults(fn=cmd_profile)

    si = sub.add_parser(
        "skip-index", help="per-file filter index: build / prune"
    )
    si.add_argument("action", choices=["build", "prune"])
    si.add_argument("--data", default=None, help="dataset dir (build)")
    si.add_argument("--index", required=True, help="index dir")
    si.add_argument("--key-col", default="doc_id")
    si.add_argument("--width", type=int, default=8)
    si.add_argument("--values", default="", help="comma list (prune)")
    si.set_defaults(fn=cmd_skip_index)

    km = sub.add_parser(
        "kmeans", help="distributed Lloyd k-means over an embedding column"
    )
    km.add_argument("--input", required=True, help="parquet path")
    km.add_argument("--id-col", default="vec_id")
    km.add_argument("--vec-col", default="embedding")
    km.add_argument("-k", type=int, default=16)
    km.add_argument("--iters", type=int, default=8)
    km.add_argument("--seed", type=int, default=11)
    km.add_argument("--output", default=None, help="assignment parquet")
    km.set_defaults(fn=cmd_kmeans)

    wp = sub.add_parser(
        "wordpiece", help="train a WordPiece vocab; optionally encode"
    )
    wp.add_argument("--input", required=True, help="parquet path")
    wp.add_argument("--id-col", default="doc_id")
    wp.add_argument("--text-col", default="text")
    wp.add_argument("--num-merges", type=int, default=20)
    wp.add_argument("--pieces-output", default=None)
    wp.add_argument("--encode-output", default=None)
    wp.set_defaults(fn=cmd_wordpiece)

    an = sub.add_parser(
        "anomaly", help="exact rolling 3-sigma anomaly report"
    )
    an.add_argument("--input", required=True, help="parquet path")
    an.add_argument("--value-col", default="value")
    an.add_argument("--ts-col", default="ts")
    an.add_argument("--window", type=int, default=7)
    an.add_argument("--sigmas", type=int, default=3)
    an.add_argument("--output", default=None)
    an.set_defaults(fn=cmd_anomaly)

    args = p.parse_args(argv)
    out = args.fn(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
