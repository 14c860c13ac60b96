"""Content fingerprints that decide which driver queries need
re-certifying (xorfilter_net_spark/certify.py). No Spark: the fingerprint
is a static pass over a copy of the package source."""

from __future__ import annotations

import ast
import json
import os
import shutil

import pytest

from xorfilter_net_spark import certify

PKG_DIR = os.path.join(certify.ROOT, certify.PKG)


@pytest.fixture(scope="module")
def base():
    return certify.fingerprints(certify.ROOT)


def _edit(tmp_path, rel: str, name: str, how: str) -> str:
    """Copy the package under ``tmp_path`` and edit the top-level def or
    class ``name`` of module file ``rel``: ``how`` is "body" (insert a
    statement) or "doc" (reword the docstring and add a comment)."""
    shutil.copytree(PKG_DIR, tmp_path / certify.PKG)
    path = tmp_path / certify.PKG / rel
    lines = path.read_text().splitlines(keepends=True)
    node = next(
        n
        for n in ast.parse("".join(lines)).body
        if getattr(n, "name", None) == name
    )
    doc = node.body[0]
    pad = " " * doc.col_offset
    i = doc.lineno - 1
    if how == "body":
        at = node.body[1].lineno - 1
        lines.insert(at, f"{pad}_edited = None\n")
    else:
        lines[i] = lines[i].replace('"""', '"""Reworded. ', 1)
        lines.insert(i, f"{pad}# a comment\n")
    path.write_text("".join(lines))
    return str(tmp_path)


def _flipped(base, root):
    now = certify.fingerprints(root)
    return {q for q in base if now[q] != base[q]}


def test_operator_body_edit_flips_its_callers_only(base, tmp_path):
    root = _edit(tmp_path, "filters/spark_build.py", "build_sharded_filter", "body")
    flipped = _flipped(base, root)
    assert {"q_triangle_copurchase", "q_filter_pruned_join"} <= flipped
    assert "q1_pricing_summary" not in flipped


def test_docstring_and_comment_edit_flips_nothing(base, tmp_path):
    root = _edit(tmp_path, "filters/spark_build.py", "build_sharded_filter", "doc")
    assert _flipped(base, root) == set()


def test_module_named_by_string_is_followed(base, tmp_path):
    """The KLL quantile gate builds its sketch through
    ``__import__("xorfilter_net_spark.sketches.kll")``."""
    root = _edit(tmp_path, "sketches/kll.py", "KllSketch", "body")
    assert "kll_event_value_quantiles_ok" in _flipped(base, root)


def test_static_registry_equals_imported_registry(base):
    from xorfilter_net_spark import entrypoints

    assert set(base) == set(entrypoints.QUERIES)


def test_every_ledger_name_is_registered(base):
    assert set(certify.load_ledger()) <= set(base)


def test_malformed_inputs_raise_naming_the_file(tmp_path):
    bad = tmp_path / "CORRECTNESS_r9.json"
    bad.write_text("{not json")
    with pytest.raises(ValueError, match="CORRECTNESS_r9.json"):
        certify.stamp(str(bad), "HEAD")
    (tmp_path / "tools").mkdir()
    ledger = tmp_path / certify.LEDGER
    ledger.write_text(json.dumps({"q": {"round": "5"}}))
    with pytest.raises(ValueError, match="certified.json.*'q'"):
        certify.load_ledger(str(tmp_path))
    with pytest.raises(ValueError, match="query_costs.json"):
        certify.load_json(str(tmp_path / "tools" / "query_costs.json"))
