"""Versioned keyed table (sources/timetravel.py) — snapshot semantics.

Pins the Iceberg-style contracts: time travel exactness, bucket-level
copy-on-write (a commit dir contains ONLY its touched buckets; parent
files stay byte-identical), commit-pointer atomicity ordering, compact,
and refcounted expiry.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xorfilter_net_spark.sources.timetravel import (
    compact,
    create_table,
    current_version,
    expire_versions,
    list_versions,
    merge_into,
    read_manifest,
    read_table,
)


def _docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("txt"), F.col("id")).alias("text"),
        (F.col("id") % 5).alias("grp"),
    )


def _rows(df):
    return sorted((r.k, r.text, r.grp) for r in df.collect())


def test_create_and_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _docs(spark)
    assert create_table(df, path, "k", n_buckets=8) == 0
    assert _rows(read_table(spark, path)) == _rows(df)
    assert current_version(path) == 0


def test_torn_pointer_write_keeps_previous_version(spark, tmp_path, monkeypatch):
    """A failure while the ``_current`` pointer is being written (after its
    file is opened for writing) leaves the previous version readable."""
    from xorfilter_net_spark import commit

    class _Crash(RuntimeError):
        pass

    class _TornFile:
        def __init__(self, f):
            self.f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, text):
            raise _Crash("crash while writing the pointer")

    def torn_open(file, mode="r", *args, **kwargs):
        f = open(file, mode, *args, **kwargs)
        if "w" in mode and os.path.basename(str(file)).startswith("_current"):
            return _TornFile(f)
        return f

    path = str(tmp_path / "t")
    df = _docs(spark)
    create_table(df, path, "k", n_buckets=8)
    monkeypatch.setattr(commit, "open", torn_open, raising=False)
    with pytest.raises(_Crash):
        merge_into(spark, path, df.filter("k < 5").withColumn("text", F.lit("x")))
    monkeypatch.undo()
    assert current_version(path) == 0
    assert _rows(read_table(spark, path)) == _rows(df)


def test_merge_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _docs(spark)
    create_table(df, path, "k", n_buckets=8)
    before = _rows(read_table(spark, path))

    delta = (
        df.filter("k % 10 = 0")
        .withColumn("text", F.upper("text"))
        .withColumn("__del", F.col("k") == 50)
    )
    info = merge_into(spark, path, delta, deleted_col="__del")
    assert info["version"] == 1
    assert 0 < info["buckets_touched"] <= 8

    now = dict.fromkeys([])
    now = {r.k: r.text for r in read_table(spark, path).collect()}
    assert 50 not in now
    assert now[10] == "TXT10" and now[11] == "txt11"
    # v0 is untouched history
    assert _rows(read_table(spark, path, version=0)) == before


def test_commit_dir_contains_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=8)
    delta = _docs(spark).filter("k = 7").withColumn("text", F.lit("x"))
    info = merge_into(spark, path, delta)
    m = read_manifest(path)
    v1_buckets = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(path, "v1"))
        if d.startswith("bucket=")
    }
    assert len(v1_buckets) == info["buckets_touched"] == 1
    owners = m["owners"]
    assert {b for b, c in owners.items() if c == 1} == v1_buckets
    # parent data files byte-identical (COW: v0 never rewritten)
    assert sorted(owners.values()) == [0] * 7 + [1]


def test_noop_merge_bumps_version_without_dirs(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=4)
    empty = _docs(spark).filter("k < 0")
    info = merge_into(spark, path, empty)
    assert info == {"version": 1, "buckets_touched": 0, "n_buckets": 4}
    assert not os.path.exists(os.path.join(path, "v1"))
    assert _rows(read_table(spark, path)) == _rows(
        read_table(spark, path, version=0)
    )


def test_compact_collapses_owners(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=8)
    merge_into(
        spark, path, _docs(spark).filter("k % 3 = 0").withColumn(
            "text", F.lit("u")
        )
    )
    pre = _rows(read_table(spark, path))
    v = compact(spark, path)
    assert v == 2
    assert set(read_manifest(path)["owners"].values()) == {2}
    assert _rows(read_table(spark, path)) == pre


def test_expire_refcounted_gc(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=8)
    merge_into(
        spark, path,
        _docs(spark).filter("k % 2 = 0").withColumn("text", F.lit("a")),
    )
    compact(spark, path)  # v2 owns everything
    latest = _rows(read_table(spark, path))
    out = expire_versions(path, keep_latest=1)
    assert out["kept_versions"] == [2]
    # v0/v1 dirs unreferenced by v2 -> gone; v2 still reads
    assert out["removed_commit_dirs"] == [0, 1]
    assert list_versions(path) == [2]
    assert _rows(read_table(spark, path)) == latest
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=0)


def test_expire_keeps_referenced_parent_dirs(spark, tmp_path):
    """keep_latest=1 after a partial merge: v1's manifest still points
    at v0 for untouched buckets, so v0's DATA DIR must survive even
    though v0's manifest is expired."""
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=8)
    merge_into(
        spark, path, _docs(spark).filter("k = 7").withColumn(
            "text", F.lit("x")
        )
    )
    latest = _rows(read_table(spark, path))
    out = expire_versions(path, keep_latest=1)
    assert out["expired_versions"] == [0]
    assert out["removed_commit_dirs"] == []  # v0 dir still referenced
    assert _rows(read_table(spark, path)) == latest


def test_schema_evolution_additive(spark, tmp_path):
    """A later commit adds a column: new rows carry it, surviving old
    rows surface NULL, pre-evolution versions keep the old schema."""
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=4)
    delta = (
        _docs(spark)
        .filter("k % 10 = 0")
        .withColumn("score", (F.col("k") * 2).cast("long"))
    )
    merge_into(spark, path, delta)
    cur = read_table(spark, path)
    assert "score" in cur.columns
    got = {r.k: r.score for r in cur.collect()}
    assert got[10] == 20 and got[20] == 40
    # rows untouched by the evolving commit read NULL — including rows
    # that share a bucket with evolved rows (rewritten with typed null)
    assert all(v is None for k, v in got.items() if k % 10 != 0)
    # time travel: v0 predates the column entirely
    assert "score" not in read_table(spark, path, version=0).columns


def test_commit_lineage_column(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=8)
    merge_into(
        spark, path,
        _docs(spark).filter("k = 3").withColumn("text", F.lit("x")),
    )
    rows = {
        r.k: r._commit
        for r in read_table(spark, path, with_commit=True).collect()
    }
    assert rows[3] == 1
    # every key sharing k=3's bucket was rewritten into commit 1;
    # keys in other buckets still carry commit 0
    assert set(rows.values()) == {0, 1}
    assert sum(1 for v in rows.values() if v == 0) > 0


def test_change_data_feed_basic(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=8)
    delta = (
        _docs(spark)
        .filter("k in (3, 5)")
        .withColumn("text", F.when(F.col("k") == 3, "upd3").otherwise("x"))
        .withColumn("__del", F.col("k") == 5)
        .unionByName(
            spark.createDataFrame([(100, "new", 0, False)],
                                  "k long, text string, grp long, __del boolean")
        )
    )
    merge_into(spark, path, delta, deleted_col="__del")

    from xorfilter_net_spark.sources.timetravel import table_changes

    ch = {r.k: r for r in table_changes(spark, path, 0, 1).collect()}
    assert set(ch) == {3, 5, 100}
    assert ch[3].change_type == "update" and ch[3].text == "upd3"
    assert ch[5].change_type == "delete" and ch[5].text == "txt5"
    assert ch[100].change_type == "insert" and ch[100].text == "new"


def test_change_data_feed_across_merges_and_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=8)
    merge_into(
        spark, path,
        _docs(spark).filter("k = 2").withColumn("text", F.lit("u2")),
    )
    merge_into(
        spark, path,
        _docs(spark).filter("k = 2").withColumn("text", F.lit("u2b"))
        .withColumn("score", F.lit(9).cast("long")),
    )
    from xorfilter_net_spark.sources.timetravel import table_changes

    # composed diff v0 -> v2 sees only the final state of k=2
    ch = {r.k: r for r in table_changes(spark, path, 0, 2).collect()}
    assert set(ch) == {2}
    assert ch[2].change_type == "update"
    assert ch[2].text == "u2b" and ch[2].score == 9
    # v1 -> v2: the text change AND the evolved column
    ch12 = {r.k: r for r in table_changes(spark, path, 1, 2).collect()}
    assert ch12[2].text == "u2b"
    # same version -> empty
    assert table_changes(spark, path, 1, 1).count() == 0


def test_change_data_feed_skips_same_owner_buckets(spark, tmp_path):
    """Only buckets whose owner changed are scanned: rows sharing a
    bucket with a change but themselves unchanged never appear, and a
    noop merge produces an empty feed."""
    path = str(tmp_path / "t")
    create_table(_docs(spark), path, "k", n_buckets=4)
    merge_into(spark, path, _docs(spark).filter("k < 0"))  # noop -> v1
    from xorfilter_net_spark.sources.timetravel import table_changes

    assert table_changes(spark, path, 0, 1).count() == 0


class TestFsck:
    def test_clean_table_and_orphan_repair(self, spark, tmp_path):
        import os

        from xorfilter_net_spark.sources.timetravel import (
            create_table, fsck, merge_into, read_table,
        )

        df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
        path = str(tmp_path / "t")
        create_table(df, path, "k", n_buckets=4)
        merge_into(
            spark,
            path,
            spark.createDataFrame([(1, 11, False)], "k long, v long, __del boolean"),
            deleted_col="__del",
        )
        rep = fsck(path)
        assert rep["orphan_dirs"] == [] and rep["missing_dirs"] == []

        # simulate a crash mid-commit: data dir written, no manifest
        os.makedirs(os.path.join(path, "v99", "__bucket=0"))
        with open(os.path.join(path, "v99", "__bucket=0", "junk"), "w") as f:
            f.write("x")
        rep = fsck(path)
        assert rep["orphan_dirs"] == [99]
        before = sorted(tuple(r) for r in read_table(spark, path).collect())
        rep = fsck(path, repair=True)
        assert rep["removed_dirs"] == [99]
        assert not os.path.exists(os.path.join(path, "v99"))
        # live data untouched, every version still reads
        assert sorted(tuple(r) for r in read_table(spark, path).collect()) == before
        assert read_table(spark, path, version=0).count() == 2

    def test_missing_dir_detected(self, spark, tmp_path):
        import shutil as sh

        from xorfilter_net_spark.sources.timetravel import create_table, fsck

        df = spark.createDataFrame([(1, 10)], "k long, v long")
        path = str(tmp_path / "t2")
        create_table(df, path, "k", n_buckets=2)
        sh.rmtree(path + "/v0")
        rep = fsck(path)
        assert rep["missing_dirs"] == [0]
        assert rep["removed_dirs"] == []


class TestDeletionVectors:
    """Merge-on-read deletes: sidecar layers, materialization on
    rewrite/compact, CDF visibility, GC of sidecar dirs."""

    def _setup(self, spark, tmp_path):
        from xorfilter_net_spark.sources.timetravel import delete_where

        path = str(tmp_path / "t")
        df = _docs(spark)
        create_table(df, path, "k", n_buckets=8)
        dead = spark.range(10).select((F.col("id") * 6).alias("k"))  # 10 keys
        res = delete_where(spark, path, dead)
        return path, df, dead, res

    def test_delete_without_rewrite(self, spark, tmp_path):
        path, df, dead, res = self._setup(spark, tmp_path)
        assert res["merge_on_read"] is True
        # no data dir was written for the delete commit
        assert not os.path.exists(os.path.join(path, "v1"))
        assert os.path.exists(os.path.join(path, "dv1"))
        m = read_manifest(path)
        assert set(m["owners"].values()) == {0}  # owners untouched
        assert any(m["dvs"].values())
        dead_keys = {r.k for r in dead.collect()}
        now = _rows(read_table(spark, path))
        assert {t[0] for t in now} == {
            r.k for r in df.collect()
        } - dead_keys
        # pre-delete version reads intact
        assert _rows(read_table(spark, path, version=0)) == _rows(df)

    def test_merge_materializes_touched_bucket_dvs(self, spark, tmp_path):
        path, df, dead, _ = self._setup(spark, tmp_path)
        # re-insert ONE deleted key with new payload
        re_k = 6
        delta = spark.createDataFrame([(re_k, "resurrected", 99)],
                                      "k long, text string, grp long")
        merge_into(spark, path, delta)
        m = read_manifest(path)
        # the re-inserted key's bucket cleared its dv layer
        from xorfilter_net_spark.sources.timetravel import _bucketed

        b = _bucketed(delta, "k", 8).collect()[0]["bucket"]
        assert b not in m["dvs"] or m["dvs"][b] == []
        now = {r.k: (r.text, r.grp) for r in read_table(spark, path).collect()}
        assert now[re_k] == ("resurrected", 99)
        # other deleted keys stay gone (their buckets keep the layer,
        # or were materialized during the rewrite — either way absent)
        for r in dead.collect():
            if r.k != re_k:
                assert r.k not in now

    def test_compact_materializes_all(self, spark, tmp_path):
        path, df, dead, _ = self._setup(spark, tmp_path)
        before = _rows(read_table(spark, path))
        compact(spark, path)
        m = read_manifest(path)
        assert m["dvs"] == {}
        assert _rows(read_table(spark, path)) == before

    def test_cdf_sees_dv_deletes(self, spark, tmp_path):
        from xorfilter_net_spark.sources.timetravel import table_changes

        path, df, dead, _ = self._setup(spark, tmp_path)
        ch = table_changes(spark, path, 0, 1)
        got = {(r.k, r.change_type) for r in ch.collect()}
        assert got == {(r.k, "delete") for r in dead.collect()}

    def test_expire_gcs_dv_dirs(self, spark, tmp_path):
        path, df, dead, _ = self._setup(spark, tmp_path)
        compact(spark, path)  # v2 owns everything, dvs empty
        rep = expire_versions(path, keep_latest=1)
        assert rep["removed_dv_dirs"] == [1]
        assert not os.path.exists(os.path.join(path, "dv1"))
        assert _rows(read_table(spark, path)) == sorted(
            (r.k, r.text, r.grp)
            for r in df.join(dead, "k", "left_anti").collect()
        )

    def test_fsck_dv_awareness(self, spark, tmp_path):
        from xorfilter_net_spark.sources.timetravel import fsck

        path, df, dead, _ = self._setup(spark, tmp_path)
        rep = fsck(path)
        assert rep["orphan_dv_dirs"] == []
        assert rep["missing_dv_dirs"] == []
        # plant an orphan dv dir; repair removes it
        os.makedirs(os.path.join(path, "dv9"))
        rep = fsck(path, repair=True)
        assert rep["removed_dv_dirs"] == [9]
        assert not os.path.exists(os.path.join(path, "dv9"))
