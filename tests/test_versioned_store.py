"""The versioned store shared by the IVM view (streaming/ivm.py) and the
streaming period store (streaming/rolling.py): a crash between writing
``data_v{n+1}`` and committing the pointer leaves the batch unapplied,
and redelivering the same batch id applies it exactly once — the store
ends equal to a run that never crashed. The streaming sketch accumulator
(streaming/incremental.py) keeps the same contract with one meta commit."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest

from xorfilter_net_spark.streaming import ivm


class _Crash(RuntimeError):
    pass


def _crash_commit_once(monkeypatch, version: int) -> None:
    """Make the pointer commit of ``version`` raise once, after checking
    that the version's data dir is already written."""
    real = ivm._commit
    fired = []

    def commit(store_dir: str, meta: dict) -> None:
        if meta["current"] == version and not fired:
            fired.append(True)
            assert os.path.isdir(ivm._data_dir(store_dir, version))
            raise _Crash("crash before the pointer commit")
        real(store_dir, meta)

    monkeypatch.setattr(ivm, "_commit", commit)


def _view_rows(spark, view_dir):
    return sorted(tuple(r) for r in ivm.read_view(spark, view_dir).collect())


def test_ivm_view_crash_before_commit_applies_once(spark, monkeypatch):
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 5)], "id long, g string, v long"
    )
    batches = [
        spark.createDataFrame(
            [("a", 7, "insert"), ("c", 1, "insert")],
            "g string, v long, change_type string",
        ),
        spark.createDataFrame(
            [("a", 3, "insert"), ("b", 5, "delete")],
            "g string, v long, change_type string",
        ),
    ]
    clean, crashed = (
        os.path.join(tempfile.mkdtemp(prefix="vstore_"), "v") for _ in range(2)
    )
    for view in (clean, crashed):
        ivm.init_view(base, view, ["g"], ["v"])
    for i, ch in enumerate(batches):
        ivm.apply_batch(spark, clean, ch, i, ["g"], ["v"])

    ivm.apply_batch(spark, crashed, batches[0], 0, ["g"], ["v"])
    _crash_commit_once(monkeypatch, version=2)
    with pytest.raises(_Crash):
        ivm.apply_batch(spark, crashed, batches[1], 1, ["g"], ["v"])
    assert ivm.view_meta(crashed) == {"current": 1, "applied_batches": [0]}

    # redelivery after the crash applies the batch; a second one skips
    assert ivm.apply_batch(spark, crashed, batches[1], 1, ["g"], ["v"]) == {
        "batch_id": 1,
        "version": 2,
    }
    assert ivm.apply_batch(spark, crashed, batches[1], 1, ["g"], ["v"])[
        "skipped_replay"
    ]
    assert ivm.view_meta(crashed) == ivm.view_meta(clean)
    assert _view_rows(spark, crashed) == _view_rows(spark, clean)
    assert dict(
        (g, (n, s)) for g, n, s in _view_rows(spark, crashed)
    ) == {"a": (3, 20), "c": (1, 1)}


def test_period_store_crash_before_commit_applies_once(spark, monkeypatch):
    from xorfilter_net_spark.sketches.moments import MomentSketch
    from xorfilter_net_spark.streaming.rolling import (
        apply_batch,
        init_period_store,
        read_period_states,
    )

    # moment merge is addition, so a double-applied batch would show
    sk = MomentSketch(quant=1000, value_col="__k")
    rows = [
        (float(i % 7), dt.datetime(2024, 1, 1 + i % 4, 12)) for i in range(40)
    ]
    batches = [
        spark.createDataFrame(part, "value double, ts timestamp")
        for part in (rows[:15], rows[15:])
    ]
    clean, crashed = (tempfile.mkdtemp(prefix="pstore_") for _ in range(2))

    def apply(store, i):
        return apply_batch(
            spark, store, batches[i], i, sk, "value", "ts", 86400
        )

    for store in (clean, crashed):
        init_period_store(spark, store)
    apply(clean, 0)
    apply(clean, 1)

    apply(crashed, 0)
    _crash_commit_once(monkeypatch, version=2)
    with pytest.raises(_Crash):
        apply(crashed, 1)
    assert ivm.view_meta(crashed) == {"current": 1, "applied_batches": [0]}
    assert apply(crashed, 1) == {"batch_id": 1, "version": 2}
    assert apply(crashed, 1)["skipped_replay"]

    def states(store):
        return sorted(
            (r["period"], bytes(r["state"]))
            for r in read_period_states(spark, store).collect()
        )

    assert ivm.view_meta(crashed) == ivm.view_meta(clean)
    assert states(crashed) == states(clean)
    assert sum(sk.deserialize(b)[0] for _, b in states(crashed)) == len(rows)


def test_sketch_accumulator_crash_before_meta_commit_applies_once(
    spark, monkeypatch, tmp_path
):
    """The accumulator's meta.json replace raises once, after the new
    state file is written; the redelivered batch merges once, so CMS
    counts (a non-idempotent merge) equal a run that never crashed."""
    import numpy as np

    from xorfilter_net_spark.sketches.cms import CmsSketch
    from xorfilter_net_spark.streaming.incremental import SketchAccumulator

    sk = CmsSketch(d=3, w=256, key_col="k")
    batches = [
        spark.range(lo, lo + 60).selectExpr("cast(id % 7 as string) as k")
        for lo in (0, 60)
    ]
    clean = SketchAccumulator(sk, str(tmp_path / "clean"))
    crashed = SketchAccumulator(sk, str(tmp_path / "crashed"))
    for i, b in enumerate(batches):
        clean.merge_batch(b, i, ["k"])

    crashed.merge_batch(batches[0], 0, ["k"])
    real_replace, fired = os.replace, []

    def replace(src, dst):
        if dst == crashed._meta_path and not fired:
            fired.append(True)
            raise _Crash("crash before the meta commit")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(_Crash):
        crashed.merge_batch(batches[1], 1, ["k"])
    monkeypatch.undo()
    assert crashed.load()[1]["rows"] == 60

    crashed.merge_batch(batches[1], 1, ["k"])  # redelivery
    crashed.merge_batch(batches[1], 1, ["k"])  # a second one skips
    (got, got_meta), (want, want_meta) = crashed.load(), clean.load()
    assert np.array_equal(got, want)
    assert got_meta == want_meta
    assert int(got.sum()) == 3 * 120
    assert [f for f in os.listdir(crashed.state_dir) if f.endswith(".bin")] == [
        got_meta["state"]
    ]


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
