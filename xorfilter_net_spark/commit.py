"""The one commit protocol every durable writer in the package builds on.

- ``publish(path, data)`` writes a tmp file and renames it over
  ``path``: readers see the old content or the new, never a torn file.
- ``VersionedStore`` writes data version n+1 under a fresh name, then
  publishes a JSON pointer naming it (with the writer's applied-batch
  ledger), then prunes older versions. A crash before the pointer moves
  leaves version n current and the batch unledgered, so its redelivery
  rewrites n+1 and commits once; a crash after it leaves only debris
  the next commit prunes.
- ``replayed(ledger, batch_id)`` is the one decision whether a
  delivered batch id was already applied.
- ``retract(path)`` unpublishes a meta file before a writer overwrites
  the data it describes in place (checkpoint stages, filter tables,
  skip indexes).

A commit survives a process crash. Nothing is fsynced, so a power cut
is not covered.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable


def _crash_point(step: str, path: str) -> None:
    """No-op hook called at each protocol step; crash tests replace it
    with one that raises. Steps: "data" (store version written, pointer
    not yet published), "publish" (tmp written, not renamed) and
    "published" (renamed)."""


def publish(path: str, data: str | bytes) -> None:
    """Atomically replace ``path`` with ``data``."""
    tmp = path + ".tmp"
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
    _crash_point("publish", path)
    os.replace(tmp, path)
    _crash_point("published", path)


def retract(path: str) -> None:
    """Remove published ``path`` before the data it describes is
    overwritten in place, so a crash before the next ``publish`` leaves
    no stale file vouching for half-written data."""
    if os.path.exists(path):
        os.remove(path)


def replayed(ledger: Iterable[int], batch_id: int | None) -> bool:
    """Whether ``batch_id`` is already in ``ledger``; a write without a
    batch id (None) is never a replay."""
    return batch_id is not None and batch_id in set(ledger)


def ledgered(ledger: Iterable[int], batch_id: int) -> list[int]:
    """``ledger`` with ``batch_id`` recorded, sorted."""
    return sorted(set(ledger) | {batch_id})


class VersionedStore:
    """Data versions ``root/data_name(n)`` and the pointer
    ``root/pointer`` = {"current": n, **writer fields}. Each commit
    keeps the newest ``keep`` versions (two let a reader still scanning
    the previous one finish)."""

    def __init__(
        self, root: str, pointer: str, data_name: Callable[[int], str], keep=2
    ):
        self.root = root
        self.pointer = os.path.join(root, pointer)
        self.data_name = data_name
        self.keep = keep

    def path(self, version: int) -> str:
        return os.path.join(self.root, self.data_name(version))

    def meta(self) -> dict | None:
        """The committed pointer; None before the first commit."""
        if not os.path.exists(self.pointer):
            return None
        with open(self.pointer) as f:
            return json.load(f)

    def commit(self, m: dict, write: Callable[[str], None], **fields) -> int:
        """Write the version after pointer ``m``'s with ``write(path)``,
        publish ``m`` updated by ``fields`` naming it, prune. Returns the
        new version."""
        n = m["current"] + 1
        write(self.path(n))
        _crash_point("data", self.pointer)
        publish(self.pointer, json.dumps({**m, **fields, "current": n}, indent=1))
        v = n - self.keep
        while v >= 0 and os.path.exists(self.path(v)):
            if os.path.isdir(self.path(v)):
                shutil.rmtree(self.path(v), ignore_errors=True)
            else:
                os.remove(self.path(v))
            v -= 1
        return n


def run_batches(stream, checkpoint_dir: str, apply, trigger_once: bool = True):
    """Start ``stream`` with ``apply(batch_df, batch_id)`` per micro-batch.
    Spark's checkpoint redelivers a batch id whose run did not finish; the
    writer's ledger (``replayed``) turns that into exactly-once."""
    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
