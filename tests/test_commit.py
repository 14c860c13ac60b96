"""Torn writes of the metadata and artifact files published through
xorfilter_net_spark/commit.py: a write that dies halfway leaves the file's
live name absent (or its previous content), never a truncated file."""

from __future__ import annotations

import builtins
import json
import os

import pytest


class _Torn(RuntimeError):
    pass


@pytest.fixture()
def tear(monkeypatch):
    """``tear(name)``: the next file opened for writing whose name starts
    with ``name`` receives half of its first write, then the writer dies."""

    def arm(name: str) -> None:
        real_open, fired = builtins.open, []

        class TornFile:
            def __init__(self, f):
                self.f = f

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                self.f.close()

            def write(self, data):
                self.f.write(data[: len(data) // 2])
                raise _Torn(f"crash while writing {name}")

        def torn_open(file, mode="r", *args, **kwargs):
            f = real_open(file, mode, *args, **kwargs)
            if (
                not fired
                and "w" in mode
                and os.path.basename(str(file)).startswith(name)
            ):
                fired.append(True)
                return TornFile(f)
            return f

        monkeypatch.setattr(builtins, "open", torn_open)

    return arm


def _upsert(spark, path, sf_tiny):
    from xorfilter_net_spark.sources.upsert import write_snapshot

    df = spark.createDataFrame([(k, f"v{k}") for k in range(8)], "k long, v string")
    write_snapshot(df, path, "k", n_buckets=2)
    return os.path.join(path, "_upsert_meta.json")


def _span_index(spark, path, sf_tiny):
    from xorfilter_net_spark.dedup.span_index import create_gram_index

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "c d e f g h")], "doc_id long, text string"
    )
    create_gram_index(docs, path, k=3, n_buckets=2)
    return os.path.join(path, "_gram_index_meta.json")


def _cli_bloom(spark, path, sf_tiny):
    from xorfilter_net_spark.cli import main

    out = path + ".bloom.json"
    main(
        [
            "sketch", "bloom",
            "--input", f"{sf_tiny}/documents.parquet",
            "--column", "doc_id",
            "--output", out,
        ]
    )
    return out


@pytest.mark.parametrize(
    "writer,name",
    [
        (_upsert, "_upsert_meta.json"),
        (_span_index, "_gram_index_meta.json"),
        (_cli_bloom, "docs.bloom.json"),
    ],
    ids=["upsert_meta", "span_index_meta", "cli_bloom_artifact"],
)
def test_torn_write_leaves_no_truncated_file(
    spark, sf_tiny, tmp_path, tear, monkeypatch, writer, name
):
    tear(name)
    with pytest.raises(_Torn):
        writer(spark, str(tmp_path / "docs"), sf_tiny)
    monkeypatch.undo()
    assert not os.path.exists(tmp_path / name)
    assert not os.path.exists(tmp_path / "docs" / name)


def test_torn_update_json_then_chained_update_equals_fresh_build(
    spark, tmp_path, tear, monkeypatch
):
    """A torn ``update.json`` (the link from an update run to its base)
    is rewritten when the update reruns, so a second update chained on
    top of it equals one fresh build over all the keys."""
    from xorfilter_net_spark.pipeline.checkpoint import (
        artifact_canonical_json,
        build_xor_filter_checkpointed,
        update_xor_filter_checkpointed,
    )

    def keys(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('key_', cast(id as string)) as key"
        )

    kw = dict(num_shards=4, width=8, seed=5)
    base, u1, u2 = (str(tmp_path / d) for d in ("base", "u1", "u2"))
    build_xor_filter_checkpointed(keys(0, 150), "key", base, input_token="b", **kw)
    tear("update.json")
    with pytest.raises(_Torn):
        update_xor_filter_checkpointed(keys(150, 200), "key", base, u1, "d1")
    monkeypatch.undo()
    update_xor_filter_checkpointed(keys(150, 200), "key", base, u1, "d1")
    with open(os.path.join(u1, "update.json")) as f:
        assert json.load(f) == {"base_run_dir": base}

    chained, _ = update_xor_filter_checkpointed(keys(200, 240), "key", u1, u2, "d2")
    fresh, _ = build_xor_filter_checkpointed(
        keys(0, 240), "key", str(tmp_path / "fresh"), input_token="f", **kw
    )
    assert artifact_canonical_json(chained) == artifact_canonical_json(fresh)
