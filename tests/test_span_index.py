"""Incremental duplicated-gram index (dedup/span_index.py)."""

from __future__ import annotations

import hashlib
import os

from xorfilter_net_spark.dedup.span_index import (
    create_gram_index,
    spans_against_index,
    update_gram_index,
)
from xorfilter_net_spark.dedup.spans import duplicated_spans

K = 5


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spans_set(df):
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in df.collect()
    )


def test_incremental_index_equals_batch_operator(spark, tmp_path):
    """After indexing slices s0, s1, s2, spans-vs-index over the union
    equals duplicated_spans over the union, row for row."""
    shared = " ".join(f"s{i}" for i in range(9))
    s0 = [(1, shared + " a0 a1"), (2, "b0 " + " ".join(f"u{i}" for i in range(8)))]
    s1 = [(3, "c0 c1 " + shared)]
    s2 = [(4, " ".join(f"v{i}" for i in range(10))), (5, shared)]
    path = str(tmp_path / "gidx")
    create_gram_index(_docs(spark, s0), path, k=K, n_buckets=8)
    update_gram_index(spark, path, _docs(spark, s1))
    update_gram_index(spark, path, _docs(spark, s2))

    union = _docs(spark, s0 + s1 + s2)
    got = _spans_set(
        spans_against_index(union, spark, path, min_count=2)
    )
    want = _spans_set(duplicated_spans(union, k=K, min_count=2))
    assert got == want and len(got) >= 3


def test_update_touches_only_delta_buckets(spark, tmp_path):
    path = str(tmp_path / "gidx")
    base = [(i, " ".join(f"d{i}w{j}" for j in range(10))) for i in range(12)]
    create_gram_index(_docs(spark, base), path, k=K, n_buckets=16)

    def _bucket_digest():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("bucket="):
                continue
            h = hashlib.md5()
            for f in sorted(os.listdir(os.path.join(path, d))):
                if f.endswith(".parquet"):
                    with open(os.path.join(path, d, f), "rb") as fh:
                        h.update(fh.read())
            out[d] = h.hexdigest()
        return out

    before = _bucket_digest()
    info = update_gram_index(
        spark, path, _docs(spark, [(100, " ".join(f"n{j}" for j in range(6)))])
    )
    after = _bucket_digest()
    assert 0 < info["buckets_touched"] < 16
    unchanged = [d for d in before if before[d] == after.get(d)]
    assert len(unchanged) >= 16 - info["buckets_touched"] - 1


def test_noop_update(spark, tmp_path):
    path = str(tmp_path / "gidx")
    create_gram_index(
        _docs(spark, [(1, " ".join(f"w{j}" for j in range(8)))]),
        path, k=K, n_buckets=4,
    )
    info = update_gram_index(spark, path, _docs(spark, []).filter("doc_id < 0"))
    assert info["buckets_touched"] == 0


def test_probe_new_docs_against_existing_corpus(spark, tmp_path):
    """min_count=1: a NEW doc's spans against what the corpus already
    contains — the ingest-time dedup check."""
    shared = " ".join(f"s{i}" for i in range(7))
    path = str(tmp_path / "gidx")
    create_gram_index(_docs(spark, [(1, shared + " t0 t1")]), path, k=K, n_buckets=8)
    probe = _docs(spark, [(99, "x0 " + shared + " x1")])
    spans = spans_against_index(probe, spark, path, min_count=1)
    rows = spans.collect()
    assert len(rows) == 1
    assert (rows[0].span_start, rows[0].span_end) == (1, 7)


def test_streaming_updates_with_replay_skip(spark, tmp_path):
    import time as _time

    from xorfilter_net_spark.dedup.span_index import (
        stream_update_gram_index,
        update_gram_index,
    )

    shared = " ".join(f"s{i}" for i in range(8))
    path = str(tmp_path / "gidx")
    create_gram_index(
        _docs(spark, [(1, shared + " a0")]), path, k=K, n_buckets=8
    )

    s0 = _docs(spark, [(2, "b0 " + shared)])
    s1 = _docs(spark, [(3, " ".join(f"c{i}" for i in range(7)))])
    t0 = _time.time() - 3600
    for i, s in enumerate((s0, s1)):
        p = str(tmp_path / f"in/s{i}")
        s.repartition(1).write.mode("overwrite").parquet(p)
        import os as _os

        for root, _, files in _os.walk(p):
            for f in files:
                _os.utime(_os.path.join(root, f), (t0 + 10 * i,) * 2)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in/s*"))
    )
    q = stream_update_gram_index(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination()

    union = _docs(
        spark,
        [(1, shared + " a0"), (2, "b0 " + shared),
         (3, " ".join(f"c{i}" for i in range(7)))],
    )
    got = _spans_set(spans_against_index(union, spark, path, min_count=2))
    want = _spans_set(duplicated_spans(union, k=K, min_count=2))
    assert got == want

    # direct replay of an applied batch id is a no-op
    before = got
    info = update_gram_index(spark, path, s0, batch_id=0)
    assert info == {"skipped_replay": True, "batch_id": 0}
    after = _spans_set(spans_against_index(union, spark, path, min_count=2))
    assert after == before


def _gram_count(spark, path, gram):
    from xorfilter_net_spark.dedup.span_index import _read

    return _read(spark, path).filter(f"gram = '{gram}'").collect()[0]["cnt"]


def test_crash_before_ledger_then_redelivery_counts_once(
    spark, tmp_path, monkeypatch
):
    """A crash after the bucket rewrite but before the ledger publish:
    the redelivered batch finds its buckets stamped and skips them."""
    import pytest

    from xorfilter_net_spark import commit

    path = str(tmp_path / "gidx")
    text = " ".join(f"w{j}" for j in range(K))
    create_gram_index(_docs(spark, [(1, text)]), path, k=K, n_buckets=4)

    def crash(step, p):
        if step == "publish" and p.endswith("_gram_index_meta.json"):
            raise RuntimeError("crash at the ledger publish")

    monkeypatch.setattr(commit, "_crash_point", crash)
    with pytest.raises(RuntimeError, match="ledger publish"):
        update_gram_index(spark, path, _docs(spark, [(2, text)]), batch_id=0)
    monkeypatch.undo()
    info = update_gram_index(spark, path, _docs(spark, [(2, text)]), batch_id=0)
    assert info["buckets_touched"] == 0
    assert _gram_count(spark, path, text) == 2
    update_gram_index(spark, path, _docs(spark, [(3, text)]), batch_id=1)
    assert _gram_count(spark, path, text) == 3


def test_index_without_stamp_column_loads_as_unstamped(spark, tmp_path):
    """An index written before buckets carried a batch stamp still reads,
    and a batch folds into its (unstamped) buckets."""
    import json

    from xorfilter_net_spark.dedup.span_index import _META

    path = str(tmp_path / "gidx")
    text = " ".join(f"w{j}" for j in range(K))
    old = spark.createDataFrame([(text, 1, 0)], "gram string, cnt long, bucket int")
    old.write.partitionBy("bucket").parquet(path)
    with open(os.path.join(path, _META), "w") as f:
        json.dump({"k": K, "n_buckets": 1}, f)
    update_gram_index(spark, path, _docs(spark, [(2, text)]), batch_id=0)
    assert _gram_count(spark, path, text) == 2
