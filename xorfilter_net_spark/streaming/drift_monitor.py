"""Streaming drift monitor — per-micro-batch drift vs a frozen reference.

The production use of the sketch-drift machinery: freeze a reference
snapshot's three states once, then fold every arriving micro-batch into
RUNNING states and emit the drift numbers after each batch — data-drift
alerting over an unbounded stream with O(sketch) state, no corpus
retention, no re-reads.

Mechanics (commit.py's ``VersionedStore``, as the sketch accumulator):
- each micro-batch is aggregated DISTRIBUTED (the same two-phase
  mergeable aggregate as batch mode) and merged into the stored states;
- the states go to ``states_v{n}.pkl``, then one ``monitor.json`` pointer
  publish commits them together with the applied-batch ledger and the
  batch's drift row, so a crash at any step leaves states, ledger and
  drift log agreeing, and a replayed ``batch_id`` is skipped — the
  running states are exactly-once;
- ``metrics()`` returns the drift rows, one per applied batch — the
  alerting surface.

Batch==stream parity (tested): after consuming slices s0..sn, the
running states equal ``snapshot_states(union(s0..sn))`` up to each
sketch's merge contract, so the final drift row matches the batch
``drift_report`` within the same bounds (theta/MG exactly in their
exact regimes; KLL within rank error).
"""

from __future__ import annotations

import json
import os
import pickle

from pyspark.sql import DataFrame

from ..commit import VersionedStore, ledgered, publish, replayed, run_batches
from ..sketches.drift import drift_from_states
from ..sketches.kll import KllSketch
from ..sketches.misra_gries import MisraGriesSketch
from ..sketches.theta import ThetaSketch

__all__ = ["DriftMonitor", "run_drift_monitor"]


class DriftMonitor:
    def __init__(
        self,
        ref_states: dict,
        key_col: str,
        num_col: str,
        cat_col: str,
        state_dir: str,
        theta_k: int = 4096,
        kll_k: int = 200,
        mg_k: int = 256,
    ):
        self.theta = ThetaSketch(k=theta_k, key_col=key_col)
        self.kll = KllSketch(k=kll_k, value_col=num_col)
        self.mg = MisraGriesSketch(k=mg_k, key_col=cat_col)
        self.cols = (key_col, num_col, cat_col)
        self.ref = ref_states
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        # before the shared store a monitor kept one states.pkl (read as
        # version 0) with its ledger inside and its rows in metrics.jsonl
        self._store = VersionedStore(
            state_dir,
            "monitor.json",
            lambda n: f"states_v{n}.pkl" if n else "states.pkl",
            keep=1,
        )

    # -- persistence ------------------------------------------------------
    def _meta(self) -> dict:
        m = self._store.meta()
        if m is not None:
            return m
        m = {"current": 0, "applied_batches": [], "metrics": []}
        if os.path.exists(self._store.path(0)):
            with open(self._store.path(0), "rb") as f:
                m["applied_batches"] = pickle.load(f)["applied"]
        rows = os.path.join(self.state_dir, "metrics.jsonl")
        if os.path.exists(rows):
            with open(rows) as f:
                m["metrics"] = [json.loads(line) for line in f if line.strip()]
        return m

    def _states(self, m: dict) -> dict:
        path = self._store.path(m["current"])
        if not os.path.exists(path):
            return {
                "theta": self.theta.zero(),
                "kll": self.kll.zero(),
                "mg": self.mg.zero(),
            }
        with open(path, "rb") as f:
            return pickle.load(f)["states"]

    def load(self) -> tuple[dict, set]:
        m = self._meta()
        return self._states(m), set(m["applied_batches"])

    # -- per-batch --------------------------------------------------------
    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> dict | None:
        from ..sketches.drift import snapshot_states

        m = self._meta()
        if replayed(m["applied_batches"], batch_id):
            return None  # exactly-once on replay
        states = self._states(m)
        part = snapshot_states(
            batch_df, *self.cols, self.theta, self.kll, self.mg
        )
        states = {
            "theta": self.theta.merge(states["theta"], part["theta"]),
            "kll": self.kll.merge(states["kll"], part["kll"]),
            "mg": self.mg.merge(states["mg"], part["mg"]),
        }
        drift = drift_from_states(
            self.theta, self.kll, self.mg, states, self.ref
        )
        drift["batch_id"] = batch_id
        blob = pickle.dumps({"states": states})
        self._store.commit(
            m,
            lambda path: publish(path, blob),
            applied_batches=ledgered(m["applied_batches"], batch_id),
            metrics=m["metrics"] + [drift],
        )
        return drift

    def metrics(self) -> list[dict]:
        return self._meta()["metrics"]


def run_drift_monitor(
    stream_df: DataFrame,
    reference_df: DataFrame,
    key_col: str,
    num_col: str,
    cat_col: str,
    state_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Start the monitor: reference states are frozen from
    ``reference_df`` (one pass), then each micro-batch updates the
    running states and appends a drift row. Returns (query, monitor)."""
    from ..sketches.drift import snapshot_states

    mon = DriftMonitor(
        ref_states=None, key_col=key_col, num_col=num_col, cat_col=cat_col,
        state_dir=state_dir,
    )
    mon.ref = snapshot_states(
        reference_df, key_col, num_col, cat_col, mon.theta, mon.kll, mon.mg
    )

    q = run_batches(stream_df, checkpoint_dir, mon.merge_batch, trigger_once)
    return q, mon
