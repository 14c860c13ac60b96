"""Seeded workload inputs.

Everything a workload feeds the library is a pure function of the seed:

- ``documents(seed)``: a documents table shaped like the testdata one
  (``doc_id``, ``text`` of 44-577 characters drawn from a small
  vocabulary), which ``sources.transcripts.load_transcripts`` turns into
  multi-turn transcripts (1-8 turns per document, short documents give
  empty turns and hence duplicate keys);
- replica ``r`` of the transcripts gets the key
  ``conv_id:r:md5(text)``, as ``bench.scaled_corpus`` builds it, so
  replicas ``[0, R)`` are the members and replicas ``[R, 2R)`` are keys
  that were never inserted;
- ``delta_replicas(seed, R)``: the replicas the checkpoint-update delta
  (``delta``) draws from, one already inserted (picked by the seed) and
  one new.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

N_DOCS = 5000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "string table value vector window"
).split()


def documents(seed: int, n_docs: int = N_DOCS) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_words = rng.integers(8, 100, n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    text = [" ".join(words[e - k : e]) for e, k in zip(ends, n_words)]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": text})


def write_documents(seed: int, root: str) -> str:
    """Write the seeded documents table as ``<root>/documents.parquet``
    (the layout ``load_transcripts`` reads); returns ``root``."""
    os.makedirs(root, exist_ok=True)
    documents(seed).to_parquet(os.path.join(root, "documents.parquet"), index=False)
    return root


def replicated(spark, docs_dir: str, first: int, count: int, partitions: int):
    """Transcripts replicated ``count`` times starting at replica ``first``:
    the ``key`` column of ``bench.scaled_corpus``, its replica ``rep``, and
    the columns the sketch workload needs (``role``, ``tool`` and a numeric
    ``value``)."""
    from pyspark.sql import functions as F

    from xorfilter_net_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, docs_dir)
    # replicas drive the partitioning and the transcripts broadcast, so the
    # key hashing runs on every core without a shuffle
    rep = spark.range(first, first + count, 1, partitions).withColumnRenamed("id", "rep")
    key = F.concat_ws(
        ":", "conv_id", F.col("rep").cast("string"), F.md5(F.coalesce("text", F.lit("")))
    )
    return rep.crossJoin(F.broadcast(t)).select(
        key.alias("key"),
        "rep",
        "role",
        F.coalesce("tool", F.lit("-")).alias("tool"),
        # skewed, nearly tie-free numeric column for KLL / t-digest
        F.log1p(F.pmod(F.xxhash64(key), F.lit(1_000_003)).cast("double")).alias("value"),
    )


def delta_replicas(seed: int, replicas: int) -> tuple[int, int]:
    """(already-inserted replica, new replica) for the update delta."""
    rng = np.random.default_rng([seed, 1])
    return int(rng.integers(0, replicas)), replicas


DELTA_SHARE = 0.03


def delta(spark, docs_dir: str, seed: int, replicas: int, partitions: int):
    """The checkpoint-update delta over a base of ``replicas`` replicas:
    about ``DELTA_SHARE`` of the base, half of it keys of one inserted
    replica and half keys of one new replica."""
    from pyspark.sql import functions as F

    old, new = delta_replicas(seed, replicas)
    parts = max(1, round(2 / (DELTA_SHARE * replicas)))
    # murmur3, not xxhash64: the filters shard by xxhash64, and a part
    # picked by it would land in a fraction of the shards
    part = F.pmod(F.hash("key"), F.lit(parts))
    return (
        replicated(spark, docs_dir, old, 1, partitions)
        .filter(part == 0)
        .unionByName(replicated(spark, docs_dir, new, 1, partitions).filter(part == 1))
        .select("key")
    )


def key_batch(seed: int, n: int = 65_536) -> pd.Series:
    """A fixed in-process key batch for the kernel and sketch layer timings:
    the same key shape as the corpus, from the same seeded documents."""
    docs = documents(seed)
    turns = docs.loc[docs.index.repeat(1 + docs["doc_id"] % 8)]
    rng = np.random.default_rng([seed, 2])
    pick = rng.integers(0, len(turns), n)
    doc = turns["doc_id"].to_numpy()[pick]
    rep = rng.integers(0, 1 << 20, n)
    text = turns["text"].to_numpy()[pick]
    return pd.Series(
        [f"conv-{d:08d}:{r}:{hash_text(t)}" for d, r, t in zip(doc, rep, text)]
    )


def hash_text(text: str) -> str:
    import hashlib

    return hashlib.md5(text[:96].encode()).hexdigest()
