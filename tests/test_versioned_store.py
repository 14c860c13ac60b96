"""The one commit protocol (xorfilter_net_spark/commit.py) under crashes.

Every durable writer is crashed once at each protocol step — after the
data write, during the pointer publish, and after the publish but before
pruning — through commit.py's one crash point. The batch is then
redelivered twice (a second redelivery must skip), the run goes on, and
the writer must equal a run that never crashed: same data, same ledger,
same files on disk."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest

from xorfilter_net_spark import commit


class _Crash(RuntimeError):
    pass


def _listing(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if "data_v" not in d
        and "=" not in d
        and not n.startswith((".", "part-", "_SUCCESS"))
    )


class _Store:
    """A ``VersionedStore`` writer: three batches, the second crashes."""

    n_batches, crash_batch = 3, 1
    pointer = ""

    def target(self, root: str, step: str) -> tuple[str, str]:
        p = os.path.join(root, self.pointer)
        return {
            "after_data": ("data", p),
            "during_publish": ("publish", p),
            "before_prune": ("published", p),
        }[step]


class _IvmView(_Store):
    pointer = "view.json"

    def setup(self, spark, root):
        from xorfilter_net_spark.streaming import ivm

        base = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 5)], "id long, g string, v long"
        )
        ivm.init_view(base, root, ["g"], ["v"])

    def batch(self, spark, root, i):
        from xorfilter_net_spark.streaming import ivm

        changes = [("a", 7 + i, "insert"), (f"c{i}", 1, "insert"), ("b", 5, "delete")]
        ch = spark.createDataFrame(
            changes[: i + 1], "g string, v long, change_type string"
        )
        return ivm.apply_batch(spark, root, ch, i, ["g"], ["v"])

    def snapshot(self, spark, root):
        from xorfilter_net_spark.streaming import ivm

        rows = sorted(tuple(r) for r in ivm.read_view(spark, root).collect())
        return rows, ivm.view_meta(root), _listing(root)


class _PeriodStore(_Store):
    pointer = "view.json"

    def setup(self, spark, root):
        from xorfilter_net_spark.streaming.rolling import init_period_store

        init_period_store(spark, root)

    def batch(self, spark, root, i):
        from xorfilter_net_spark.sketches.moments import MomentSketch
        from xorfilter_net_spark.streaming.rolling import apply_batch

        # moment merge is addition, so a double-applied batch would show
        rows = [
            (float(j % 7), dt.datetime(2024, 1, 1 + (i + j) % 3, 12))
            for j in range(8)
        ]
        events = spark.createDataFrame(rows, "value double, ts timestamp")
        sk = MomentSketch(quant=1000, value_col="__k")
        return apply_batch(spark, root, events, i, sk, "value", "ts", 86400)

    def snapshot(self, spark, root):
        from xorfilter_net_spark.streaming import ivm
        from xorfilter_net_spark.streaming.rolling import read_period_states

        states = sorted(
            (r["period"], bytes(r["state"]))
            for r in read_period_states(spark, root).collect()
        )
        return states, ivm.view_meta(root), _listing(root)


class _Accumulator(_Store):
    pointer = "meta.json"

    def _acc(self, root):
        from xorfilter_net_spark.sketches.cms import CmsSketch
        from xorfilter_net_spark.streaming.incremental import SketchAccumulator

        # CMS merge is addition, so a double-applied batch would show
        return SketchAccumulator(CmsSketch(d=3, w=64, key_col="k"), root)

    def setup(self, spark, root):
        self._acc(root)

    def batch(self, spark, root, i):
        df = spark.range(10 * i, 10 * i + 12).selectExpr(
            "cast(id % 5 as string) as k"
        )
        return self._acc(root).merge_batch(df, i, ["k"])

    def snapshot(self, spark, root):
        acc = self._acc(root)
        state, meta = acc.load()
        return acc.sketch.serialize(state), meta, _listing(root)


class _DriftMonitor(_Store):
    pointer = "monitor.json"
    _ref = None

    def _mon(self, spark, root):
        from xorfilter_net_spark.sketches.drift import snapshot_states
        from xorfilter_net_spark.streaming.drift_monitor import DriftMonitor

        mon = DriftMonitor(
            None, "k", "v", "c", root, theta_k=64, kll_k=16, mg_k=8
        )
        if _DriftMonitor._ref is None:
            _DriftMonitor._ref = snapshot_states(
                _events(spark, 0), "k", "v", "c", mon.theta, mon.kll, mon.mg
            )
        mon.ref = _DriftMonitor._ref
        return mon

    def setup(self, spark, root):
        self._mon(spark, root)

    def batch(self, spark, root, i):
        return self._mon(spark, root).merge_batch(_events(spark, i + 1), i)

    def snapshot(self, spark, root):
        mon = self._mon(spark, root)
        return mon.metrics(), sorted(mon.load()[1]), _listing(root)


def _events(spark, i):
    from pyspark.sql import functions as F

    return spark.range(12).select(
        (F.col("id") + 5 * i).alias("k"),
        (F.col("id").cast("double") * (i + 1)).alias("v"),
        F.when(F.col("id") % 3 == i % 3, "a").otherwise("b").alias("c"),
    )


class _TableSink:
    """The streaming MERGE sink on the time-travel table: two batches,
    the second crashes while committing version 2."""

    n_batches, crash_batch = 2, 1

    def target(self, root, step):
        return {
            "after_data": ("publish", os.path.join(root, "_versions", "v2.json")),
            "during_publish": ("publish", os.path.join(root, "_current")),
            "before_prune": ("published", os.path.join(root, "_current")),
        }[step]

    def setup(self, spark, root):
        from xorfilter_net_spark.sources.timetravel import create_table

        base = spark.createDataFrame(
            [(k, f"b{k}") for k in range(6)], "k long, v string"
        )
        create_table(base, root, "k", n_buckets=2)

    def batch(self, spark, root, i):
        from xorfilter_net_spark.streaming.table_sink import _merge_batch

        d = spark.createDataFrame(
            [(i, f"u{i}"), (10 + i, "new")], "k long, v string"
        )
        return _merge_batch(spark, root, d, i, None)

    def snapshot(self, spark, root):
        from xorfilter_net_spark.sources import timetravel
        from xorfilter_net_spark.streaming.table_sink import applied_batches

        rows = sorted(
            tuple(r) for r in timetravel.read_table(spark, root).collect()
        )
        fsck = timetravel.fsck(root)
        return rows, sorted(applied_batches(root)), fsck, _listing(root)


class _CheckpointStages:
    """A checkpointed run (``BuildRun`` stages via the resumable sketch
    aggregate): the crash hits the final JSON stage; the rerun is the
    redelivery."""

    n_batches, crash_batch = 1, 0

    def target(self, root, step):
        return {
            "after_data": ("published", os.path.join(root, "merged.json")),
            "during_publish": ("publish", os.path.join(root, "merged.manifest.json")),
            "before_prune": ("published", os.path.join(root, "merged.manifest.json")),
        }[step]

    def setup(self, spark, root):
        os.makedirs(root)

    def batch(self, spark, root, i):
        from xorfilter_net_spark.sketches.base import aggregate_checkpointed
        from xorfilter_net_spark.sketches.hll import HllSketch

        df = spark.range(40).selectExpr("cast(id % 17 as string) as k")
        sk = HllSketch(p=8, key_col="k")
        st, _ = aggregate_checkpointed(df, ["k"], sk, root, params={"p": 8})
        return sk.serialize(st)

    def snapshot(self, spark, root):
        import json

        fps = {}
        for stage in ("partials", "merged"):
            with open(os.path.join(root, f"{stage}.manifest.json")) as f:
                m = json.load(f)
            fps[stage] = (m["fingerprint"], m.get("rows"))
        return self.batch(spark, root, 0), fps, _listing(root)


WRITERS = {
    "ivm_view": _IvmView(),
    "period_store": _PeriodStore(),
    "accumulator": _Accumulator(),
    "drift_monitor": _DriftMonitor(),
    "table_sink": _TableSink(),
    "checkpoint_stages": _CheckpointStages(),
}
STEPS = ["after_data", "during_publish", "before_prune"]
_BEFORE_CRASH: dict[str, str] = {}
_CLEAN: dict[str, object] = {}


def _before_crash(spark, tmp_path_factory, name: str, root: str) -> None:
    """Copy the writer's dir as it stands before the crashing batch (built
    once per writer) to ``root``."""
    w = WRITERS[name]
    if name not in _BEFORE_CRASH:
        pre = str(tmp_path_factory.mktemp(f"pre_{name}") / "d")
        w.setup(spark, pre)
        for i in range(w.crash_batch):
            w.batch(spark, pre, i)
        _BEFORE_CRASH[name] = pre
    shutil.copytree(_BEFORE_CRASH[name], root)


def _clean_snapshot(spark, tmp_path_factory, name):
    if name not in _CLEAN:
        w, root = WRITERS[name], str(tmp_path_factory.mktemp(f"clean_{name}") / "d")
        _before_crash(spark, tmp_path_factory, name, root)
        for i in range(w.crash_batch, w.n_batches):
            w.batch(spark, root, i)
        _CLEAN[name] = w.snapshot(spark, root)
    return _CLEAN[name]


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("writer", list(WRITERS))
def test_crash_then_redelivery_equals_clean_run(
    spark, tmp_path, tmp_path_factory, monkeypatch, writer, step
):
    w, root = WRITERS[writer], str(tmp_path / "crashed")
    _before_crash(spark, tmp_path_factory, writer, root)
    at = w.target(root, step)
    fired = []

    def crash_point(s: str, path: str) -> None:
        if (s, path) == at and not fired:
            fired.append(True)
            raise _Crash(f"crash at {s} {path}")

    monkeypatch.setattr(commit, "_crash_point", crash_point)
    with pytest.raises(_Crash):
        w.batch(spark, root, w.crash_batch)
    monkeypatch.undo()

    w.batch(spark, root, w.crash_batch)  # redelivery
    w.batch(spark, root, w.crash_batch)  # a second one changes nothing
    for i in range(w.crash_batch + 1, w.n_batches):
        w.batch(spark, root, i)
    clean = _clean_snapshot(spark, tmp_path_factory, writer)
    assert w.snapshot(spark, root) == clean


def test_sketch_accumulator_reads_single_state_file_dir(tmp_path):
    """A state dir written by the two-rename store (``state.bin`` plus a
    meta.json that does not name it) still loads, and the next store
    moves it to the versioned layout."""
    import json

    import numpy as np

    from xorfilter_net_spark.sketches.cms import CmsSketch
    from xorfilter_net_spark.streaming.incremental import SketchAccumulator

    sk = CmsSketch(d=3, w=64, key_col="k")
    state = sk.zero()
    state[0, 1] = 5
    (tmp_path / "state.bin").write_bytes(sk.serialize(state))
    meta = {"batches": [{"id": 0, "rows": 5}], "rows": 5}
    (tmp_path / "meta.json").write_text(json.dumps(meta))
    acc = SketchAccumulator(sk, str(tmp_path))
    got, got_meta = acc.load()
    assert np.array_equal(got, state) and got_meta == meta
    acc.store(got, got_meta)
    assert sorted(os.listdir(tmp_path)) == ["meta.json", "state_v1.bin"]
    assert np.array_equal(acc.load()[0], state)


def test_sketch_accumulator_reads_version_named_meta_dir(tmp_path):
    """A state dir whose meta.json names its version and state file
    (``version``/``state``) loads, and the next store prunes that file."""
    import json

    import numpy as np

    from xorfilter_net_spark.sketches.cms import CmsSketch
    from xorfilter_net_spark.streaming.incremental import SketchAccumulator

    sk = CmsSketch(d=3, w=64, key_col="k")
    state = sk.zero()
    state[1, 2] = 7
    (tmp_path / "state_v4.bin").write_bytes(sk.serialize(state))
    meta = {"batches": [{"id": 3, "rows": 7}], "rows": 7, "version": 4,
            "state": "state_v4.bin"}
    (tmp_path / "meta.json").write_text(json.dumps(meta))
    acc = SketchAccumulator(sk, str(tmp_path))
    got, got_meta = acc.load()
    assert np.array_equal(got, state) and got_meta["batches"] == meta["batches"]
    acc.store(got, got_meta)
    assert sorted(os.listdir(tmp_path)) == ["meta.json", "state_v5.bin"]
    got, got_meta = acc.load()
    assert np.array_equal(got, state)
    assert (got_meta["batches"], got_meta["rows"]) == (meta["batches"], 7)
