#!/usr/bin/env python
"""Stage-level breakdown of the distributed XOR build at one local[N].

Times, with a fresh JVM per invocation (run via subprocess once per
parallelism level):
  digest   — corpus scan + JVM xxhash64 digests, map-only noop sink
  shuffle  — digests + the library's shard exchange
             (``spark_build._shard_exchange``), noop sink
  build    — the full build_xor_filter_table (adds per-shard Arrow
             dedup+peel+fill and the parquet artifact write)

Usage: python tools/profile_build.py [cpus] [replicas]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 8
REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 512
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SHARDS = 128


def main() -> None:
    import shutil
    import tempfile

    from bench import make_spark, scaled_corpus
    from xorfilter_net_spark.filters.spark_build import _shard_exchange, key_digests_jvm
    from xorfilter_net_spark.filters.table import build_xor_filter_table

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # warm python workers + codegen on a small corpus
    warm = scaled_corpus(spark, SF_DIR, max(REPLICAS // 16, 1)).persist()
    warm.count()
    tmp = tempfile.mkdtemp(prefix="xorprof_")
    build_xor_filter_table(
        warm, "key", f"{tmp}/warm", num_shards=SHARDS, width=16, seed=1,
        jvm_digests=True,
    )
    warm.unpersist()

    corpus = scaled_corpus(spark, SF_DIR, REPLICAS).persist()
    n = corpus.count()

    out = {"cpus": CPUS, "n_keys": n}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for name, fn in (
        ("digest", lambda: noop(key_digests_jvm(corpus, "key"))),
        (
            "shuffle",
            lambda: noop(_shard_exchange(key_digests_jvm(corpus, "key"), SHARDS)),
        ),
        (
            "build",
            lambda: build_xor_filter_table(
                corpus, "key", f"{tmp}/full", num_shards=SHARDS, width=16,
                seed=12345, jvm_digests=True,
            ),
        ),
    ):
        best = float("inf")
        for _ in range(2):
            shutil.rmtree(f"{tmp}/full", ignore_errors=True)
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)

    out["peel_and_sink"] = round(out["build"] - out["shuffle"], 3)
    out["keys_per_sec"] = int(n / out["build"])
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
