"""Custom Python Data Source: deterministic synthetic transcript corpus.

``spark.read.format("synthetic_transcripts")`` generates the mandated
input shape (conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp) at ANY scale without external data — the
Spark 4 Python Data Source API (SPARK-44076) drives partition planning,
filter pushdown, and streaming offsets, so the corpus behaves like a
real table, not a driver-side createDataFrame:

- **partition-parallel**: ``partitions`` option splits the conversation
  id range into independent InputPartitions; each executor generates its
  slice from pure splitmix64 counters (same row for the same (conv,
  turn, seed) on any cluster size / any retry — deterministic replay is
  what makes speculative execution and stage retries safe).
- **filter pushdown** (``pushFilters``, Spark 4.1): equality and range
  predicates on ``conv_id`` are absorbed into the conversation range
  BEFORE partition planning, so ``where conv_id = 'conv-00000007'``
  plans exactly one 1-conversation partition instead of scanning the
  generated corpus. Zero-padded ids make string order == numeric order.
- **streaming** (``readStream``): offsets are conversation counts;
  each micro-batch materializes the next ``convs_per_batch``
  conversations. Replayable from any committed offset (same rows), so
  exactly-once sinks compose.
- **Arrow batches**: ``read`` yields pyarrow RecordBatches built from
  NumPy vectors — no per-row Python anywhere (input_hint mandate).

Row recipe (pure function of (conv, turn, seed)):
  n_turns(conv)  = 1 + splitmix64(conv ^ seed) % max_turns
  role           cycles user/assistant/tool by turn % 3
  text           = 3 hex words from splitmix64(conv * max_turns + turn)
                   (empty for (conv + turn) % 97 == 0 — the reference's
                   legal empty-key edge, BaseXorFilterTests.cs:386-394)
  tool           = 'tool_<h%5>' on tool turns else null
  ts             = 2024-01-01 + conv*1000s + turn s (stable ordering)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from ..text.fingerprint import splitmix64

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 UTC
_ROLES = np.array(["user", "assistant", "tool"])


def _conv_int(conv_id: str) -> int | None:
    if isinstance(conv_id, str) and conv_id.startswith("conv-"):
        tail = conv_id[5:]
        if tail.isdigit() and len(tail) == 8:
            return int(tail)
    return None


def generate_batch(
    conv_lo: int, conv_hi: int, seed: int, max_turns: int
) -> pa.RecordBatch:
    """Vectorized rows for conversations [conv_lo, conv_hi)."""
    conv = np.arange(conv_lo, conv_hi, dtype=np.int64)
    h = splitmix64(conv.astype(np.uint64) ^ np.uint64(seed))
    n_turns = (1 + (h % np.uint64(max_turns)).astype(np.int64)).astype(
        np.int64
    )
    conv_rep = np.repeat(conv, n_turns)
    total = int(n_turns.sum())
    starts = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn = (np.arange(total, dtype=np.int64) - starts).astype(np.int32)

    th = splitmix64(
        (conv_rep * np.int64(max_turns) + turn).astype(np.uint64)
        ^ np.uint64(seed * 0x9E3779B97F4A7C15 & (2**64 - 1))
    )
    role = _ROLES[turn % 3]
    empty = (conv_rep + turn) % 97 == 0
    w1 = np.char.mod("%016x", th)
    w2 = np.char.mod("%016x", splitmix64(th + np.uint64(1)))
    w3 = np.char.mod("%016x", splitmix64(th + np.uint64(2)))
    text = np.where(
        empty,
        "",
        np.char.add(np.char.add(np.char.add(w1, " "), w2), np.char.add(" ", w3)),
    )
    tool = np.where(
        turn % 3 == 2,
        np.char.mod("tool_%d", (th % np.uint64(5)).astype(np.int64)),
        None,
    )
    ts = _EPOCH_US + conv_rep * 1_000_000_000 + turn.astype(np.int64) * 1_000_000
    return pa.record_batch(
        {
            "conv_id": pa.array(np.char.mod("conv-%08d", conv_rep)),
            "turn_idx": pa.array(turn, type=pa.int32()),
            "role": pa.array(role),
            "text": pa.array(text),
            "tool": pa.array(tool.tolist(), type=pa.string()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
        }
    )


class _Options:
    def __init__(self, options: dict):
        self.conversations = int(options.get("conversations", 1000))
        self.seed = int(options.get("seed", 42))
        self.max_turns = int(options.get("max_turns", 8))
        self.partitions = int(options.get("partitions", 8))
        self.convs_per_batch = int(options.get("convs_per_batch", 200))
        if self.conversations > 100_000_000:
            raise ValueError("conv-%08d id space caps at 1e8 conversations")


class SyntheticTranscriptsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.opts = _Options(options)
        self.lo = 0
        self.hi = self.opts.conversations

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb conv_id point/range predicates into [lo, hi).

        Eager (returns a list, not a generator): the range mutations must
        all land before Spark calls ``partitions()``.
        """
        unsupported: list[Filter] = []
        for f in filters:
            c = None
            if isinstance(
                f,
                (
                    EqualTo,
                    GreaterThan,
                    GreaterThanOrEqual,
                    LessThan,
                    LessThanOrEqual,
                ),
            ) and f.attribute == ("conv_id",):
                c = _conv_int(f.value)
            if c is None:
                # not ours — Spark keeps evaluating it post-scan
                unsupported.append(f)
            elif isinstance(f, EqualTo):
                self.lo, self.hi = max(self.lo, c), min(self.hi, c + 1)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, c + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, c)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, c)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, c + 1)
        return unsupported

    def partitions(self) -> list[InputPartition]:
        lo, hi = self.lo, max(self.lo, self.hi)
        if hi <= lo:
            return [InputPartition((lo, lo))]
        n = min(self.opts.partitions, hi - lo)
        bounds = np.linspace(lo, hi, n + 1).astype(np.int64)
        return [
            InputPartition((int(bounds[i]), int(bounds[i + 1])))
            for i in range(n)
        ]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        if hi > lo:
            yield generate_batch(lo, hi, self.opts.seed, self.opts.max_turns)


class SyntheticTranscriptsStreamReader(DataSourceStreamReader):
    """Conversation-count offsets; each trigger ingests the next
    ``convs_per_batch`` conversations until the corpus is exhausted.
    ``read`` is a pure function of the offset range, so replaying a
    committed-but-unacked batch yields identical rows (exactly-once
    sinks compose)."""

    def __init__(self, options: dict):
        self.opts = _Options(options)
        self._latest = 0

    def initialOffset(self) -> dict:
        return {"conv": 0}

    def latestOffset(self) -> dict:
        self._latest = min(
            self.opts.conversations, self._latest + self.opts.convs_per_batch
        )
        return {"conv": self._latest}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [InputPartition((int(start["conv"]), int(end["conv"])))]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        if hi > lo:
            yield generate_batch(lo, hi, self.opts.seed, self.opts.max_turns)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class SyntheticTranscriptsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_transcripts"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SyntheticTranscriptsReader:
        return SyntheticTranscriptsReader(self.options)

    def streamReader(self, schema) -> SyntheticTranscriptsStreamReader:
        return SyntheticTranscriptsStreamReader(self.options)


class _NoPushdownReader(SyntheticTranscriptsReader):
    # the base class's pushFilters: Spark leaves every filter to itself
    pushFilters = DataSourceReader.pushFilters


class _NoPushdownDataSource(SyntheticTranscriptsDataSource):
    def reader(self, schema) -> SyntheticTranscriptsReader:
        return _NoPushdownReader(self.options)


def register(spark) -> None:
    """Register ``synthetic_transcripts`` for the session's current conf.

    Spark 4 rejects a reader that implements ``pushFilters()`` while
    ``spark.sql.python.filterPushdown.enabled`` is false, so under that
    conf the registered reader has none: same rows, conv_id predicates
    evaluated after the scan. Call it again after changing the conf."""
    conf = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    pushdown = conf.strip().lower() == "true"
    spark.dataSource.register(
        SyntheticTranscriptsDataSource if pushdown else _NoPushdownDataSource
    )
