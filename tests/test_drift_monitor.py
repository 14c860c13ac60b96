"""Streaming drift monitor (streaming/drift_monitor.py)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from xorfilter_net_spark.sketches.drift import drift_report
from xorfilter_net_spark.streaming.drift_monitor import (
    DriftMonitor,
    run_drift_monitor,
)

SCHEMA = "k long, v double, c string"


def _snap(spark, n, key_off=0, val_scale=1.0, types=("a", "b")):
    return spark.range(n).select(
        (F.col("id") + key_off).alias("k"),
        (F.col("id").cast("double") * val_scale).alias("v"),
        F.when(F.col("id") % 2 == 0, types[0]).otherwise(types[1]).alias("c"),
    )


def _write_slice(df, path: str, mtime: float) -> None:
    df.repartition(1).write.mode("overwrite").parquet(path)
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


def test_stream_matches_batch_drift(spark, tmp_path):
    ref = _snap(spark, 300)
    s0 = _snap(spark, 150, key_off=500, val_scale=2.0)
    s1 = _snap(spark, 150, key_off=650, val_scale=2.0, types=("a", "c"))
    t0 = time.time() - 3600
    _write_slice(s0, str(tmp_path / "in/s0"), t0)
    _write_slice(s1, str(tmp_path / "in/s1"), t0 + 10)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in/s*"))
    )
    q, mon = run_drift_monitor(
        stream, ref, "k", "v", "c",
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    rows = mon.metrics()
    assert [r["batch_id"] for r in rows] == [0, 1]
    final = rows[-1]
    batch = drift_report(s0.unionByName(s1), ref, "k", "v", "c")
    # theta and MG are in their exact regimes at this scale
    assert abs(final["distinct_a"] - batch["distinct_a"]) < 1e-9
    assert abs(final["key_jaccard"] - batch["key_jaccard"]) < 1e-9
    assert abs(final["tv_distance"] - batch["tv_distance"]) < 1e-9
    assert abs(final["ks_distance"] - batch["ks_distance"]) <= 0.05
    # disjoint keys vs the reference
    assert final["key_jaccard"] == 0.0


def test_replayed_batch_skipped_and_monotone_log(spark, tmp_path):
    ref = _snap(spark, 100)
    mon = DriftMonitor(
        ref_states=None, key_col="k", num_col="v", cat_col="c",
        state_dir=str(tmp_path / "state"),
    )
    from xorfilter_net_spark.sketches.drift import snapshot_states

    mon.ref = snapshot_states(ref, "k", "v", "c", mon.theta, mon.kll, mon.mg)
    b = _snap(spark, 50, key_off=100)
    first = mon.merge_batch(b, 0)
    assert first is not None and first["batch_id"] == 0
    replay = mon.merge_batch(_snap(spark, 999, key_off=9999), 0)
    assert replay is None  # replay of batch 0: state untouched
    second = mon.merge_batch(b, 1)
    assert second["batch_id"] == 1
    # re-merging the SAME rows leaves distinct estimate unchanged
    assert abs(second["distinct_a"] - first["distinct_a"]) < 1e-9
    assert len(mon.metrics()) == 2


def _monitor(spark, state_dir):
    from xorfilter_net_spark.sketches.drift import snapshot_states

    mon = DriftMonitor(
        ref_states=None, key_col="k", num_col="v", cat_col="c",
        state_dir=state_dir,
    )
    mon.ref = snapshot_states(
        _snap(spark, 40), "k", "v", "c", mon.theta, mon.kll, mon.mg
    )
    return mon


def test_crash_after_state_commit_keeps_drift_row(spark, tmp_path, monkeypatch):
    """A crash right after the rename that ledgers the batch, then the
    batch redelivered: the drift log still holds the batch's row, as in a
    run that never crashed."""
    batches = [_snap(spark, 30, key_off=100 * i, val_scale=i + 1.0) for i in (1, 2)]
    clean = _monitor(spark, str(tmp_path / "clean"))
    for i, b in enumerate(batches):
        clean.merge_batch(b, i)

    mon = _monitor(spark, str(tmp_path / "crashed"))
    mon.merge_batch(batches[0], 0)
    real_replace, fired = os.replace, []

    def replace(src, dst):
        real_replace(src, dst)
        if not fired and 1 in mon.load()[1]:
            fired.append(True)
            raise RuntimeError("crash after the state commit")

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(RuntimeError, match="after the state commit"):
        mon.merge_batch(batches[1], 1)
    monkeypatch.undo()

    assert mon.merge_batch(batches[1], 1) is None  # redelivery skips
    assert mon.metrics() == clean.metrics()
    assert [r["batch_id"] for r in mon.metrics()] == [0, 1]
    assert mon.load()[1] == clean.load()[1] == {0, 1}


def test_reads_single_states_file_dir(spark, tmp_path):
    """A state dir holding one ``states.pkl`` (states + ledger) and a
    ``metrics.jsonl`` drift log still loads; the next batch moves it to
    the versioned layout and keeps the old rows."""
    import json
    import pickle

    mon = _monitor(spark, str(tmp_path))
    states = {"theta": mon.theta.zero(), "kll": mon.kll.zero(), "mg": mon.mg.zero()}
    (tmp_path / "states.pkl").write_bytes(
        pickle.dumps({"states": states, "applied": [0]})
    )
    row = {"batch_id": 0, "distinct_a": 0.0}
    (tmp_path / "metrics.jsonl").write_text(json.dumps(row) + "\n")

    assert mon.metrics() == [row]
    assert mon.load()[1] == {0}
    assert mon.merge_batch(_snap(spark, 10), 0) is None
    second = mon.merge_batch(_snap(spark, 10), 1)
    assert mon.metrics() == [row, second]
    assert "states.pkl" not in os.listdir(tmp_path)
