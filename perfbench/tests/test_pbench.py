"""Tests of the benchmark's own code: the reporter, span self time, seeded
generation, the failure tally, the output-check bounds and the event-log
folder. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

from pbench import checks, eventlog, gen, stats  # noqa: E402
from pbench.spans import Span, Tracer, self_times  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog")


# -- reporter ---------------------------------------------------------------


def test_report_median_and_count():
    r = stats.Report()
    for v in (3.0, 1.0, 2.0, 10.0):
        r.add("x_s", "s", v)
    r.add("y", "count", 7)
    assert r.value("x_s") == 2.5
    assert r.metrics(["x_s"]) == {"x_s": {"value": 2.5, "unit": "s"}}
    assert set(r.metrics()) == {"x_s", "y"}
    line = next(line for line in r.lines() if line.startswith("x_s"))
    assert "n=4" in line and "2.5" in line


def test_report_rejects_a_second_unit():
    r = stats.Report()
    r.add("x", "s", 1)
    with pytest.raises(ValueError):
        r.add("x", "ms", 1)


def test_high_percentile_needs_twenty_samples():
    assert stats.high_percentile(list(range(19))) is None
    p, v = stats.high_percentile([float(i) for i in range(100)])
    assert p == 0.9 and v == 89.0


# -- spans ------------------------------------------------------------------


def test_self_time_is_parent_minus_children():
    spans = [
        Span("write", 0.0, 10.0, None, "w"),
        Span("digest", 1.0, 3.0, 0, "w"),
        Span("kernel", 4.0, 8.0, 0, "w"),
        Span("peel", 5.0, 6.0, 2, "w"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"write": 4.0, "digest": 2.0, "kernel": 3.0, "peel": 1.0})


def test_self_time_clips_children_to_the_parent_and_sums_by_name():
    spans = [
        Span("op", 0.0, 4.0, None, "w"),
        Span("child", 3.0, 6.0, 0, "w"),  # runs past its parent's end
        Span("op", 10.0, 11.0, None, "w"),
    ]
    assert self_times(spans) == pytest.approx({"op": 4.0, "child": 3.0})


def test_tracer_nests_and_records_nothing_when_off():
    on = Tracer("w", True)
    with on.span("a"):
        with on.span("b"):
            pass
    assert [(s.name, s.parent, s.workload) for s in on.spans] == [("a", None, "w"), ("b", 0, "w")]
    assert on.spans[0].start <= on.spans[1].start <= on.spans[1].end <= on.spans[0].end
    off = Tracer("w", False)
    with off.span("a"):
        pass
    assert off.spans == []


# -- failure tally ----------------------------------------------------------


def test_tally_counts_exceptions_and_failed_checks():
    t = checks.Tally()
    with t.op("fine"):
        pass
    with t.op("boom"):
        raise RuntimeError("kaput")
    assert t.check("ok", True)
    assert not t.check("bad", False, "detail")
    assert (t.attempted, t.failed, t.correct) == (4, 2, False)
    assert t.errors[0].startswith("boom:") and "kaput" in t.errors[0]
    assert t.errors[1] == "check bad failed detail"


def test_tally_correct_when_nothing_failed():
    t = checks.Tally()
    with t.op("fine"):
        pass
    assert t.check("ok", True)
    assert (t.attempted, t.failed, t.correct) == (2, 0, True)


# -- check bounds -----------------------------------------------------------


def test_bounds():
    assert checks.bloom_fpp(7, 1000, 9586) == pytest.approx(0.01, rel=0.02)
    assert checks.fpr_limit(0.01, 10_000) > 0.01
    assert checks.fpr_limit(0.01, 10_000) < checks.fpr_limit(0.01, 100)
    m = 1 << 14
    assert checks.hll_ok(1000 * (1 + 3 * 1.04 / math.sqrt(m)) - 1, 1000, m)
    assert not checks.hll_ok(1100, 1000, m)
    assert checks.cms_ok([5, 7], [5, 6], 1000, 1000)[0]
    assert not checks.cms_ok([4, 7], [5, 6], 1000, 1000)[0]  # undercount
    assert not checks.cms_ok([5, 9], [5, 6], 1000, 1000)[0]  # over e*N/w


def test_rank_error():
    xs = np.arange(100, dtype=float)
    assert checks.rank_error(xs, 49.5, 0.5) == 0.0
    assert checks.rank_error(xs, 59.0, 0.5) == pytest.approx(0.09)
    ties = np.array([1.0] * 50 + [2.0] * 50)
    assert checks.rank_error(ties, 1.0, 0.3) == 0.0


# -- seeded generation ------------------------------------------------------


def test_documents_follow_the_seed():
    a, b, c = gen.documents(1, 300), gen.documents(1, 300), gen.documents(2, 300)
    assert a.equals(b)
    assert not a["text"].equals(c["text"])
    assert list(a.columns) == ["doc_id", "text"]


def test_delta_replicas_and_key_batch_follow_the_seed():
    picks = {gen.delta_replicas(s, 16) for s in range(20)}
    assert all(0 <= old < 16 and new == 16 for old, new in picks)
    assert len(picks) > 1
    assert gen.delta_replicas(5, 16) == gen.delta_replicas(5, 16)
    assert gen.key_batch(3, 1000).equals(gen.key_batch(3, 1000))
    assert not gen.key_batch(3, 1000).equals(gen.key_batch(4, 1000))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from pbench.session import make_spark, stop_spark

    work = str(tmp_path_factory.mktemp("spark"))
    s = make_spark(work)
    yield s
    stop_spark(s)
    shutil.rmtree(work, ignore_errors=True)


def _inputs(spark, root, seed):
    """Members, non-members and delta of a two-replica base, as sets."""
    docs = gen.write_documents(seed, os.path.join(root, f"docs{seed}"))

    def keys(df):
        return {r["key"] for r in df.select("key").collect()}

    return (
        keys(gen.replicated(spark, docs, 0, 2, 4)),
        keys(gen.replicated(spark, docs, 2, 2, 4)),
        keys(gen.delta(spark, docs, seed, 2, 4)),
    )


def test_inputs_follow_the_seed(spark, tmp_path):
    members, nonmembers, delta = _inputs(spark, str(tmp_path / "a"), 7)
    again = _inputs(spark, str(tmp_path / "b"), 7)
    other = _inputs(spark, str(tmp_path / "c"), 8)
    assert (members, nonmembers, delta) == again
    assert members != other[0] and nonmembers != other[1] and delta != other[2]
    assert not members & nonmembers
    # half of the delta already inserted, half new
    old = len(delta & members)
    assert 0.3 < old / len(delta) < 0.7
    assert delta - members <= nonmembers


# -- event log --------------------------------------------------------------


def test_event_files_read_rolled_parts_in_index_order():
    names = [os.path.basename(p) for p in eventlog.event_files(FIXTURE)]
    assert names == ["events_2_local-1", "events_10_local-1"]


def test_fold_by_job_group():
    g = eventlog.fold(FIXTURE)
    assert set(g) == {"grp.a", "grp.b", ""}
    a = g["grp.a"]
    assert a["tasks"] == 7 and a["task_failures"] == 0
    assert a["executor_run_s"] == pytest.approx(10.48)
    assert a["executor_cpu_s"] == pytest.approx(1.751190273)
    assert a["gc_s"] == pytest.approx(0.216)
    assert a["shuffle_write_bytes"] == a["shuffle_read_bytes"] == 892717
    # the SQL accumulables of the mapInPandas stage
    assert a["python_worker_s"] == pytest.approx((1976 + 2008 + 1556 + 1801) / 1e3)
    assert a["bytes_to_python"] == 3 * 434632 + 423528
    assert a["bytes_from_python"] == 3 * 425248 + 414144
    b = g["grp.b"]
    # grp.b's job starts in the first part, its tasks end in the second
    assert b["tasks"] == 6 and b["task_failures"] == 1
    assert b["spill_bytes"] == 120 and b["fetch_wait_s"] == pytest.approx(0.003)
    assert b["shuffle_read_bytes"] == 542 and b["python_worker_s"] == 0
    assert g[""]["tasks"] == 1 and g[""]["executor_run_s"] == pytest.approx(0.04)
