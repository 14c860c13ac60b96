"""End-to-end CLI smoke: build-xor -> probe -> sketch via cli.main().

Runs in-process (cli's _get_spark -> getOrCreate reuses the session
fixture's JVM) but goes through the real argparse surface, checkpoint
pipeline, artifact JSON, and parquet probe output — the same path
`spark-submit --py-files` drives in production.
"""

from __future__ import annotations

import json
import os

import pytest


@pytest.fixture()
def cli_out(capsys):
    def run(argv: list[str]) -> dict:
        from xorfilter_net_spark.cli import main

        assert main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    return run


def test_cli_build_probe_sketch_roundtrip(spark, sf_tiny, tmp_path, cli_out):
    docs = f"{sf_tiny}/documents.parquet"
    run_dir = str(tmp_path / "run1")

    built = cli_out(
        [
            "build-xor",
            "--input", docs,
            "--key-expr", "cast(doc_id as string)",
            "--run-dir", run_dir,
            "--width", "16",
            "--seed", "12345",
            "--num-shards", "4",
        ]
    )
    n_docs = spark.read.parquet(docs).count()
    assert built["n_keys"] == n_docs  # doc_id is unique
    assert built["table_size"] >= 1.23 * n_docs * 0.99

    probed = cli_out(
        [
            "probe",
            "--filter", f"{run_dir}/filter.json",
            "--input", docs,
            "--key-expr", "cast(doc_id as string)",
            "--output", str(tmp_path / "probed"),
        ]
    )
    assert probed["rows"] == n_docs
    out = spark.read.parquet(str(tmp_path / "probed"))
    assert out.filter("is_member").count() == n_docs  # zero false negatives

    # resume: same run_dir + input token -> every stage skipped
    resumed = cli_out(
        [
            "build-xor",
            "--input", docs,
            "--key-expr", "cast(doc_id as string)",
            "--run-dir", run_dir,
            "--width", "16",
            "--seed", "12345",
            "--num-shards", "4",
        ]
    )
    assert resumed["n_keys"] == n_docs
    assert all(st.get("resumed") for st in resumed["stages"].values())

    # update-xor: fold a 3-key delta into the build; only the shards
    # holding new keys re-peel, probe still sees every key
    delta = str(tmp_path / "delta")
    spark.createDataFrame(
        [("upd_a",), ("upd_b",), ("upd_c",)], "key string"
    ).write.parquet(delta)
    upd = cli_out(
        [
            "update-xor",
            "--input", delta,
            "--key-expr", "key",
            "--base-run-dir", run_dir,
            "--run-dir", str(tmp_path / "run1_upd"),
        ]
    )
    assert upd["n_keys"] == n_docs + 3
    assert 1 <= upd["shards_rebuilt"] <= 3
    probed_u = cli_out(
        [
            "probe",
            "--filter", f"{tmp_path / 'run1_upd'}/filter.json",
            "--input", delta,
            "--key-expr", "key",
            "--output", str(tmp_path / "probed_upd"),
        ]
    )
    assert probed_u["rows"] == 3
    assert (
        spark.read.parquet(str(tmp_path / "probed_upd"))
        .filter("is_member")
        .count()
        == 3
    )

    hll = cli_out(
        ["sketch", "hll", "--input", docs, "--column", "doc_id"]
    )
    assert abs(hll["estimate"] - n_docs) / n_docs < 0.05

    bloom = cli_out(
        [
            "sketch", "bloom",
            "--input", docs,
            "--column", "doc_id",
            "--output", str(tmp_path / "docs.bloom.json"),
        ]
    )
    assert (tmp_path / "docs.bloom.json").exists()
    assert bloom["m"] > 0


def test_spark_submit_pyfiles_zip(sf_tiny, tmp_path):
    """The production launch path, for real: zip the package, run a
    fresh `spark-submit --py-files` subprocess from a foreign cwd, and
    check the build completes with a loadable artifact. This is the
    north-star deployment contract, not an in-process simulation."""
    import json as _json
    import shutil
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")

    zpath = tmp_path / "xorfilter_net_spark.zip"
    pkg = os.path.join(repo, "xorfilter_net_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, repo))

    run_dir = tmp_path / "submit_run"
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--py-files", str(zpath),
            os.path.join(repo, "tools", "submit_cli.py"),
            "build-xor",
            "--input", f"{sf_tiny}/documents.parquet",
            "--key-expr", "cast(doc_id as string)",
            "--run-dir", str(run_dir),
            "--width", "16", "--seed", "7", "--num-shards", "4",
        ],
        cwd=str(tmp_path),  # foreign cwd: only the zip provides the package
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["command"] == "build-xor" and out["n_keys"] > 0
    with open(run_dir / "filter.json") as f:
        art = _json.load(f)
    assert art["num_shards"] == 4


def test_cli_dedup_exact_and_near(spark, tmp_path, cli_out):
    base = "the quick brown fox jumps over the lazy dog and keeps running onward"
    rows = (
        # 0/1 exact copies; 2 a near-copy (one word changed); 3/4 unrelated
        [(0, base), (1, base), (2, base.replace("lazy", "hazy"))]
        + [(3, "completely different text about spark aggregation pipelines")]
        + [(4, "yet another unrelated document mentioning xor filters")]
        + [
            (
                i,
                " ".join(
                    f"w{(i * 131 + j * 17) % 9973}" for j in range(12)
                ),
            )
            for i in range(5, 30)
        ]
    )
    src = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    ex = cli_out(
        ["dedup", "--input", src, "--output", str(tmp_path / "out_exact")]
    )
    assert ex["rows_in"] == 30 and ex["removed"] == 1  # only the exact copy
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out_exact")).collect()
    }
    assert 0 in kept and 1 not in kept  # min-id survivor

    nr = cli_out(
        [
            "dedup", "--mode", "near",
            "--input", src, "--output", str(tmp_path / "out_near"),
            "--tau", "0.5",
        ]
    )
    assert nr["rows_in"] == 30
    kept_near = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out_near")).collect()
    }
    # {0,1,2} chain into one cluster; 0 survives as the minimum
    assert 0 in kept_near and not {1, 2} & kept_near
    assert {3, 4}.issubset(kept_near)
    assert nr["removed"] == 2 and nr["near_dup_pairs"] >= 2


def test_cli_gen_transcripts(spark, tmp_path, cli_out):
    out = cli_out(
        [
            "gen-transcripts",
            "--output", str(tmp_path / "corpus"),
            "--conversations", "150",
            "--seed", "7",
            "--partitions", "3",
        ]
    )
    assert out["command"] == "gen-transcripts"
    df = spark.read.parquet(str(tmp_path / "corpus"))
    assert df.count() == out["rows"] > 150  # >1 turn per conversation
    assert df.select("conv_id").distinct().count() == 150
    # deterministic: regenerating with the same seed matches exactly
    from xorfilter_net_spark.sources.synthetic import generate_batch

    assert out["rows"] == generate_batch(0, 150, 7, 8).num_rows


def test_cli_merge_init_and_apply(spark, sf_tiny, tmp_path, cli_out):
    docs = f"{sf_tiny}/documents.parquet"
    snap = str(tmp_path / "snap")
    out = cli_out(
        ["merge", "init", "--snapshot", snap, "--input", docs,
         "--key-col", "doc_id", "--buckets", "8"]
    )
    n0 = out["rows"]
    assert n0 > 0

    delta_path = str(tmp_path / "delta")
    from pyspark.sql import functions as F

    d = (
        spark.read.parquet(docs)
        .filter("doc_id % 7 = 0")
        .withColumn("text", F.lit("updated"))
    )
    d.write.parquet(delta_path)
    out = cli_out(
        ["merge", "apply", "--snapshot", snap, "--input", delta_path,
         "--key-col", "doc_id"]
    )
    assert out["rows"] == n0  # pure update: no inserts/deletes
    assert 0 < out["buckets_touched"] <= 8
    got = spark.read.parquet(snap)
    assert got.filter("text = 'updated'").count() == d.count()


def test_cli_compact_dry_run_then_execute(spark, tmp_path, cli_out):
    root = str(tmp_path / "frag")
    spark.range(5000).selectExpr("id", "'x' as lang").repartition(
        12
    ).write.partitionBy("lang").parquet(root)

    out = cli_out(["compact", root, "--dry-run"])
    assert out["dry_run"] and len(out["directories"]) == 1
    assert out["directories"][0]["n_files"] == 12

    out = cli_out(["compact", root])
    assert not out["dry_run"] and len(out["directories"]) == 1
    got = sorted(r["id"] for r in spark.read.parquet(root).collect())
    assert got == list(range(5000))
    # second run is a no-op
    assert cli_out(["compact", root])["directories"] == []


def test_cli_curate(spark, tmp_path, cli_out):
    from tests.test_curate import EVAL, GOOD1, GOOD2

    rows = [(1, GOOD1), (2, GOOD2), (3, GOOD1), (4, "12345 67890"), (5, EVAL)]
    src = str(tmp_path / "raw")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    ev = str(tmp_path / "eval")
    spark.createDataFrame([(EVAL,)], "text string").write.parquet(ev)

    out = cli_out(
        [
            "curate", "--input", src, "--eval-input", ev,
            "--output", str(tmp_path / "curated"),
        ]
    )
    assert out["rows_in"] == 5 and out["rows_out"] == 2
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "curated")).collect()
    }
    assert kept == {1, 2}  # 3 deduped, 4 gated, 5 decontaminated

    # without an eval set, decontamination is a no-op
    out2 = cli_out(
        ["curate", "--input", src, "--output", str(tmp_path / "curated2")]
    )
    assert out2["rows_out"] == 3


def test_cli_table_lifecycle(spark, sf_tiny, tmp_path, cli_out):
    docs = f"{sf_tiny}/documents.parquet"
    table = str(tmp_path / "vt")
    created = cli_out(
        ["table", "create", "--path", table, "--input", docs,
         "--key-col", "doc_id", "--buckets", "8"]
    )
    assert created["version"] == 0 and created["versions"] == [0]

    delta = str(tmp_path / "delta")
    cols = spark.read.parquet(docs).columns
    spark.read.parquet(docs).filter("doc_id % 9 = 0").selectExpr(
        *[c if c != "n_chars" else "n_chars + 1 as n_chars" for c in cols]
    ).write.parquet(delta)
    merged = cli_out(
        ["table", "merge", "--path", table, "--input", delta]
    )
    assert merged["version"] == 1 and merged["buckets_touched"] > 0

    out0 = str(tmp_path / "v0_out")
    read0 = cli_out(
        ["table", "read", "--path", table, "--version", "0",
         "--output", out0]
    )
    n_docs = spark.read.parquet(docs).count()
    assert read0["rows"] == n_docs and read0["version"] == 0

    compacted = cli_out(["table", "compact", "--path", table])
    assert compacted["version"] == 2
    expired = cli_out(
        ["table", "expire", "--path", table, "--keep-latest", "1"]
    )
    assert expired["versions"] == [2]
    assert expired["removed_commit_dirs"] == [0, 1]


def test_cli_spans_report_and_strip(spark, tmp_path, cli_out):
    text = " ".join(f"w{i}" for i in range(20))
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, text), (2, text), (3, "unique " + " ".join(f"u{i}" for i in range(9)))],
        "doc_id long, text string",
    ).write.parquet(corpus)

    rep = cli_out(
        ["spans", "report", "--input", corpus,
         "--output", str(tmp_path / "rep"), "-k", "5"]
    )
    assert rep["rows"] == 2  # one full-doc span per duplicated doc

    stripped = cli_out(
        ["spans", "strip", "--input", corpus,
         "--output", str(tmp_path / "clean"), "-k", "5"]
    )
    assert stripped["rows"] == 3
    clean = {
        r.doc_id: r.clean_text
        for r in spark.read.parquet(str(tmp_path / "clean")).collect()
    }
    assert clean[1] == "" and clean[2] == ""
    assert clean[3].startswith("unique")


def test_cli_drift(spark, tmp_path, cli_out):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    base = spark.range(200).selectExpr(
        "id as k", "cast(id as double) as v",
        "case when id % 2 = 0 then 'x' else 'y' end as c",
    )
    base.write.parquet(a)
    base.selectExpr("k + 1000 as k", "v * 2 as v", "c").write.parquet(b)
    rep = cli_out(
        ["drift", "--a", a, "--b", b,
         "--key-col", "k", "--num-col", "v", "--cat-col", "c"]
    )
    assert rep["key_jaccard"] == 0.0       # disjoint key spaces
    assert rep["tv_distance"] < 1e-9       # same categorical mix
    assert rep["ks_distance"] > 0.2        # value distribution shifted
    assert abs(rep["distinct_a"] - 200) < 1e-9


def test_cli_table_changes(spark, sf_tiny, tmp_path, cli_out):
    docs = f"{sf_tiny}/documents.parquet"
    table = str(tmp_path / "vt")
    cli_out(["table", "create", "--path", table, "--input", docs,
             "--key-col", "doc_id", "--buckets", "8"])
    delta = str(tmp_path / "delta")
    cols = spark.read.parquet(docs).columns
    spark.read.parquet(docs).filter("doc_id % 11 = 0").selectExpr(
        *[c if c != "n_chars" else "n_chars + 5 as n_chars" for c in cols]
    ).write.parquet(delta)
    cli_out(["table", "merge", "--path", table, "--input", delta])
    out = cli_out(
        ["table", "changes", "--path", table, "--from-version", "0",
         "--output", str(tmp_path / "cdf")]
    )
    n_upd = spark.read.parquet(docs).filter("doc_id % 11 = 0").count()
    assert out["changes"] == {"update": n_upd}
    cdf = spark.read.parquet(str(tmp_path / "cdf"))
    assert cdf.filter("change_type = 'update'").count() == n_upd


def test_cli_curate_pairs(spark, tmp_path, cli_out):
    from tests.test_curate_transcripts import _turns

    rows = (
        _turns("c-a", ["hi there", "hello back friend", "ran tool ok",
                       "thanks a lot"])
        + _turns("c-b", ["hi there", "hello back friend", "ran tool ok",
                         "thanks a lot"])
        + _turns("c-f", ["please check the table", "checking the table now",
                         "tool scan done fine", "the table looks healthy",
                         "great thanks so much"])
    )
    src = str(tmp_path / "turns")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    ).write.parquet(src)

    out = cli_out(
        ["curate-pairs", "--input", src, "--output", str(tmp_path / "pairs")]
    )
    assert out["turns_in"] == 13
    assert out["conversations_out"] == 2  # c-b deduped away
    assert out["pairs_out"] == 3  # 1 assistant turn in c-a, 2 in c-f
    got = spark.read.parquet(str(tmp_path / "pairs"))
    assert set(got.columns) == {"conv_id", "turn_idx", "context", "target", "split"}


def test_cli_dsir(spark, tmp_path, cli_out):
    from tests.test_dsir import RAW, TARGET

    src, tgt = str(tmp_path / "raw"), str(tmp_path / "tgt")
    spark.createDataFrame(RAW, "doc_id long, text string").write.parquet(src)
    spark.createDataFrame(TARGET, "doc_id long, text string").write.parquet(tgt)

    sel = cli_out(
        ["dsir", "--input", src, "--target-input", tgt,
         "--output", str(tmp_path / "sel"), "--k", "2"]
    )
    assert sel["mode"] == "select" and sel["rows_out"] == 2
    top = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "sel")).collect()}
    assert top == {2, 6}  # the target-vocabulary docs

    sc = cli_out(
        ["dsir", "--input", src, "--target-input", tgt,
         "--output", str(tmp_path / "scores")]
    )
    assert sc["mode"] == "scores" and sc["rows_out"] == len(RAW)


def test_cli_profile_and_suggest(spark, sf_tiny, cli_out):
    out = cli_out(
        [
            "profile",
            "--input", f"{sf_tiny}/events.parquet",
            "--columns", "event_id,event_type,value",
            "--suggest",
        ]
    )
    cols = {c["col_name"]: c for c in out["columns"]}
    assert set(cols) == {"event_id", "event_type", "value"}
    assert cols["event_id"]["n_nulls"] == 0
    assert cols["event_id"]["ndv"] == cols["event_id"]["n_rows"]
    assert "unique(event_id)" in out["suggested_checks"]
    assert all(r["passed"] for r in out["suggested_report"])


def test_cli_skip_index_build_and_prune(spark, sf_tiny, tmp_path, cli_out):
    data = str(tmp_path / "docs")
    idx = str(tmp_path / "idx")
    (
        spark.read.parquet(f"{sf_tiny}/documents.parquet")
        .repartitionByRange(4, "doc_id")
        .write.mode("overwrite")
        .parquet(data)
    )
    built = cli_out(
        [
            "skip-index", "build",
            "--data", data, "--index", idx, "--key-col", "doc_id",
        ]
    )
    assert built["key_col"] == "doc_id"
    pruned = cli_out(
        ["skip-index", "prune", "--index", idx, "--values", "3"]
    )
    assert pruned["n_files_total"] == 4
    assert 1 <= pruned["n_files_kept"] <= 2


def test_cli_table_fsck(spark, tmp_path, cli_out):
    import os

    base = str(tmp_path / "in")
    spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").write.parquet(base)
    path = str(tmp_path / "vt")
    cli_out(
        ["table", "create", "--path", path, "--input", base, "--key-col", "k",
         "--buckets", "4"]
    )
    os.makedirs(os.path.join(path, "v7"))
    rep = cli_out(["table", "fsck", "--path", path])
    assert rep["orphan_dirs"] == [7] and rep["removed_dirs"] == []
    rep = cli_out(["table", "fsck", "--path", path, "--repair"])
    assert rep["removed_dirs"] == [7]
    assert not os.path.exists(os.path.join(path, "v7"))


def test_cli_kmeans(spark, sf_tiny, tmp_path, cli_out):
    out = cli_out(
        [
            "kmeans",
            "--input", f"{sf_tiny}/embeddings.parquet",
            "-k", "4", "--iters", "3",
            "--output", str(tmp_path / "cells"),
        ]
    )
    assert out["k"] == 4
    assert sum(out["sizes"].values()) == 500
    assert len(out["inertia_e6"]) == 3
    got = spark.read.parquet(str(tmp_path / "cells"))
    assert got.count() == 500
    assert set(got.columns) == {"id", "cell", "cos_e6"}


def test_cli_wordpiece(spark, sf_tiny, tmp_path, cli_out):
    out = cli_out(
        [
            "wordpiece",
            "--input", f"{sf_tiny}/documents.parquet",
            "--num-merges", "5",
            "--pieces-output", str(tmp_path / "pieces"),
            "--encode-output", str(tmp_path / "enc"),
        ]
    )
    assert out["n_merges"] == 5
    assert out["n_pieces"] > 0
    enc = spark.read.parquet(str(tmp_path / "enc"))
    assert "wp_tokens" in enc.columns
    assert enc.count() == spark.read.parquet(
        f"{sf_tiny}/documents.parquet"
    ).count()


def test_cli_anomaly(spark, sf_tiny, tmp_path, cli_out):
    out = cli_out(
        [
            "anomaly",
            "--input", f"{sf_tiny}/events.parquet",
            "--output", str(tmp_path / "anom"),
        ]
    )
    assert out["periods"] > 0
    rep = spark.read.parquet(str(tmp_path / "anom"))
    assert "is_anomaly" in rep.columns
    assert rep.count() == out["periods"]


def test_cli_table_delete(spark, sf_tiny, tmp_path, cli_out):
    docs = f"{sf_tiny}/documents.parquet"
    path = str(tmp_path / "vt")
    cli_out(["table", "create", "--path", path, "--input", docs,
             "--key-col", "doc_id", "--buckets", "8"])
    keys = str(tmp_path / "dead")
    spark.read.parquet(docs).filter("doc_id % 7 = 0").select(
        "doc_id"
    ).write.parquet(keys)
    out = cli_out(["table", "delete", "--path", path, "--input", keys])
    assert out["merge_on_read"] is True
    n_total = spark.read.parquet(docs).count()
    n_dead = spark.read.parquet(keys).count()
    read_out = str(tmp_path / "rd")
    got = cli_out(["table", "read", "--path", path, "--output", read_out])
    assert got["rows"] == n_total - n_dead


def test_cli_lint_merge_turns_trending(spark, tmp_path, cli_out):
    import datetime as dt

    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", "hi there", None, 100),
            ("c1", 1, "user", "still me", None, 101),
            ("c1", 2, "assistant", "hello", None, 99),  # ts regression
            ("c2", 0, "user", "", None, 100),  # empty turn
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts_epoch long",
    )
    tpath = str(tmp_path / "turns")
    turns.write.parquet(tpath)

    out = cli_out(["lint", "--input", tpath, "--output", str(tmp_path / "rep")])
    assert out["command"] == "lint" and out["n_conversations"] == 2
    assert out["n_dirty"] == 2 and out["ts_violations"] == 1
    assert out["empty_turns"] == 1

    out = cli_out(
        ["merge-turns", "--input", tpath, "--output", str(tmp_path / "m")]
    )
    assert out["turns_in"] == 4 and out["turns_out"] == 3
    assert out["runs_collapsed"] == 1

    ev = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 2))] * 3
        + [("b", dt.datetime(2024, 1, 1))] * 4,
        "event_type string, ts timestamp",
    )
    epath = str(tmp_path / "ev")
    ev.write.parquet(epath)
    out = cli_out(
        ["trending", "--input", epath, "--window", "3", "--top", "5"]
    )
    # a: 3 * 2^2 = 12 beats b: 4 * 2^1 = 8
    assert [r["key"] for r in out["top"]] == ["a", "b"]
    assert [r["decayed_score"] for r in out["top"]] == [12, 8]


def test_cli_reconcile(spark, tmp_path, cli_out):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(1, "x"), (2, "DIFF")], "id long, v string")
    ap, bp = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.parquet(ap)
    b.write.parquet(bp)
    out = cli_out(
        ["reconcile", "--left", ap, "--right", ap, "--key-col", "id"]
    )
    assert out["identical"] and out["rows_left"] == out["rows_right"] == 2
    out = cli_out(
        ["reconcile", "--left", ap, "--right", bp, "--key-col", "id"]
    )
    assert not out["identical"] and len(out["buckets_differing"]) == 1


def test_cli_templates_forks(spark, tmp_path, cli_out):
    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", "hi", None, 100),
            ("c1", 1, "assistant", "Attempt 3 failed", None, 101),
            ("c1", 2, "tool", "X", "t", 102),
            ("c2", 0, "user", "hi", None, 100),
            ("c2", 1, "assistant", "attempt  9 FAILED", None, 101),
            ("c2", 2, "tool", "Y", "t", 102),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts_epoch long",
    )
    tpath = str(tmp_path / "turns")
    turns.write.parquet(tpath)

    out = cli_out(
        ["templates", "--input", tpath, "--output", str(tmp_path / "tpl")]
    )
    assert out["command"] == "templates"
    tpls = {(r["role"], r["template"]) for r in out["top"]}
    assert ("user", "hi") in tpls
    assert ("assistant", "attempt # failed") in tpls

    out = cli_out(
        ["forks", "--input", tpath, "--output", str(tmp_path / "fk")]
    )
    # c1/c2 share depth-2 prefix (hi + normalized-different attempt
    # texts differ, so actually they diverge at depth 1)
    assert out["command"] == "forks" and out["n_fork_points"] == 1
    assert out["by_depth"] == {"1": 1}  # JSON round-trip stringifies keys


def test_cli_vocab_coverage_centroids(spark, tmp_path, cli_out):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a rare")], "doc_id long, text string"
    )
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = cli_out(
        [
            "vocab-coverage", "--input", dpath,
            "--output", str(tmp_path / "vc"), "--vocab-size", "1",
        ]
    )
    # vocab = {a}; OOV = b, rare -> 2 of 5 tokens
    assert out["tokens"] == 5 and out["oov_tokens"] == 2
    assert out["corpus_oov_e6"] == 400000

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    epath = str(tmp_path / "emb")
    emb.write.parquet(epath)
    out = cli_out(["centroids", "--input", epath])
    assert out["n_pairs"] == 1
    assert out["pairs"][0]["cos_e6"] == 0
