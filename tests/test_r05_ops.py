"""r05 operators: template mining, conversation fork detection,
vocabulary coverage, embedding centroid pairs — unit semantics on
hand-built fixtures plus the invariants the registered oracles can't
isolate (normalization folding, end-as-continuation, exact top-V
tie-breaks, quantized-cosine scale invariance)."""

from __future__ import annotations

import pytest

from xorfilter_net_spark.ann.centroid_drift import centroid_pairs
from xorfilter_net_spark.pipeline.forks import fork_points
from xorfilter_net_spark.text.templates import mine_templates
from xorfilter_net_spark.text.vocab_coverage import vocab_coverage

TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts_epoch long"
)


# -------------------------------------------------------------- templates
def test_templates_normalization_folds(spark):
    rows = [
        ("c1", 0, "assistant", "Attempt 3 failed", None, 1),
        ("c2", 0, "assistant", "attempt  17 FAILED", None, 1),
        ("c3", 0, "assistant", " ATTEMPT 99   failed ", None, 1),
        ("c4", 0, "user", "something unique", None, 1),
    ]
    rep = mine_templates(
        spark.createDataFrame(rows, TURN_SCHEMA), min_convs=2
    ).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["template"] == "attempt # failed"
    assert r["role"] == "assistant"
    assert r["n_turns"] == 3 and r["n_convs"] == 3


def test_templates_counts_distinct_convs_not_turns(spark):
    # same conv repeating a line 5 times is NOT a cross-conversation
    # template (n_convs = 1 < min_convs)
    rows = [("c1", i, "user", "hello", None, i) for i in range(5)]
    rep = mine_templates(
        spark.createDataFrame(rows, TURN_SCHEMA), min_convs=2
    ).collect()
    assert rep == []


def test_templates_excludes_empty_and_null(spark):
    rows = [
        ("c1", 0, "user", "   ", None, 1),
        ("c2", 0, "user", None, None, 1),
        ("c3", 0, "user", "", None, 1),
    ]
    rep = mine_templates(
        spark.createDataFrame(rows, TURN_SCHEMA), min_convs=1
    ).collect()
    assert rep == []


def test_templates_min_convs_validation(spark):
    df = spark.createDataFrame([("c", 0, "u", "t", None, 1)], TURN_SCHEMA)
    with pytest.raises(ValueError, match="min_convs"):
        mine_templates(df, min_convs=0)


# ------------------------------------------------------------------ forks
def _mk_conv(conv, texts):
    return [
        (conv, i, ["user", "assistant", "tool"][i % 3], t, None, i)
        for i, t in enumerate(texts)
    ]


def test_fork_points_basic_divergence(spark):
    rows = (
        _mk_conv("a", ["hi", "hello", "run", "X"])
        + _mk_conv("b", ["hi", "hello", "run", "Y"])
        + _mk_conv("c", ["totally", "different"])
    )
    rep = {
        (r["depth"], r["prefix_key"]): r
        for r in fork_points(spark.createDataFrame(rows, TURN_SCHEMA)).collect()
    }
    # a and b share depths 1..3 but only depth 3 has divergent turn 4
    depths = sorted(d for d, _ in rep)
    assert depths == [3]
    (_, key), = rep.keys()
    assert rep[(3, key)]["n_convs"] == 2
    assert rep[(3, key)]["n_continuations"] == 2


def test_fork_points_end_counts_as_continuation(spark):
    # b STOPS where a continues: that IS a divergence at depth 2
    rows = _mk_conv("a", ["hi", "hello", "more"]) + _mk_conv(
        "b", ["hi", "hello"]
    )
    rep = fork_points(spark.createDataFrame(rows, TURN_SCHEMA)).collect()
    assert len(rep) == 1
    assert rep[0]["depth"] == 2 and rep[0]["n_continuations"] == 2


def test_fork_points_identical_convs_not_forks(spark):
    # clones that never diverge (same length, same turns) are dups,
    # not forks: one continuation at every shared depth
    rows = _mk_conv("a", ["hi", "yo"]) + _mk_conv("b", ["hi", "yo"])
    rep = fork_points(spark.createDataFrame(rows, TURN_SCHEMA)).collect()
    assert rep == []


def test_fork_points_max_depth_validation(spark):
    df = spark.createDataFrame(_mk_conv("a", ["x"]), TURN_SCHEMA)
    with pytest.raises(ValueError, match="max_depth"):
        fork_points(df, max_depth=0)


# --------------------------------------------------------- vocab coverage
def test_vocab_coverage_exact_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a b b c"),
            (2, "a b rare"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    # vocab_size=2 keeps {a, b} (freq 4, 3); c and rare are OOV
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_e6"])
        for r in vocab_coverage(docs, vocab_size=2).collect()
    }
    assert got[1] == (6, 1, 166666)
    assert got[2] == (3, 1, 333333)
    assert got[3] == (0, 0, 0)  # zero-token doc still reported


def test_vocab_coverage_tiebreak_deterministic(spark):
    # equal frequencies: token asc wins the last vocab slot
    docs = spark.createDataFrame(
        [(1, "zz aa zz aa")], "doc_id long, text string"
    )
    got = vocab_coverage(docs, vocab_size=1).collect()[0]
    # aa and zz both freq 2 -> vocab keeps 'aa'; the two 'zz' are OOV
    assert got["n_tokens"] == 4 and got["n_oov"] == 2


def test_vocab_coverage_validation(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="vocab_size"):
        vocab_coverage(docs, vocab_size=0)


# -------------------------------------------------------- centroid pairs
def test_centroid_pairs_identical_groups_cos_1(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], 0),
            (2, [1.0, 2.0, 3.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    r = centroid_pairs(emb).collect()
    assert len(r) == 1
    assert r[0]["group_a"] == 0 and r[0]["group_b"] == 1
    assert r[0]["cos_e6"] == 1000000
    assert r[0]["n_a"] == 1 and r[0]["n_b"] == 1


def test_centroid_pairs_orthogonal_groups_cos_0(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    r = centroid_pairs(emb).collect()
    assert r[0]["cos_e6"] == 0


def test_centroid_pairs_scale_invariance(spark):
    # doubling every vector in a group leaves the centroid DIRECTION
    # unchanged: cosine of sums == cosine of means
    base = [
        (1, [3.0, 4.0], 0),
        (2, [3.0, 4.0], 0),
        (3, [4.0, 3.0], 1),
    ]
    doubled = [
        (1, [6.0, 8.0], 0),
        (2, [6.0, 8.0], 0),
        (3, [4.0, 3.0], 1),
    ]
    schema = "vec_id long, embedding array<float>, label int"
    c1 = centroid_pairs(spark.createDataFrame(base, schema)).collect()[0]
    c2 = centroid_pairs(spark.createDataFrame(doubled, schema)).collect()[0]
    assert c1["cos_e6"] == c2["cos_e6"]


def test_centroid_pairs_partitioning_invariant(spark):
    rows = [
        (i, [float(i % 7), float((i * 3) % 5), 1.0], i % 3)
        for i in range(60)
    ]
    schema = "vec_id long, embedding array<float>, label int"
    a = sorted(
        tuple(r)
        for r in centroid_pairs(spark.createDataFrame(rows, schema)).collect()
    )
    b = sorted(
        tuple(r)
        for r in centroid_pairs(
            spark.createDataFrame(rows, schema).repartition(13)
        ).collect()
    )
    assert a == b and len(a) == 3


def test_fork_points_duplicate_turn_idx_deterministic(spark):
    """Duplicate turn_idx: the chain orders by (idx NULLS FIRST, fp) on
    both engines, so fork detection is a pure function of the data."""
    rows = (
        _mk_conv("a", ["hi"])
        + [("a", 1, "assistant", "x", None, 1),
           ("a", 1, "assistant", "y", None, 2)]  # dup idx
        + _mk_conv("b", ["hi"])
        + [("b", 1, "assistant", "x", None, 1),
           ("b", 1, "assistant", "y", None, 2)]
    )
    want = None
    for seed in range(3):
        df = spark.createDataFrame(rows, TURN_SCHEMA).repartition(seed + 1)
        got = sorted(
            (r["depth"], r["prefix_key"], r["n_convs"], r["n_continuations"])
            for r in fork_points(df).collect()
        )
        if want is None:
            want = got
        assert got == want
    # identical clones -> no divergence anywhere
    assert want == []


# ------------------------------------------------------- template strip
def test_strip_templates_removes_and_reindexes(spark):
    from xorfilter_net_spark.text.templates import strip_templates

    rows = [
        ("c1", 0, "user", "hello", None, 1),       # template (c1+c2)
        ("c1", 1, "assistant", "unique a", None, 2),
        ("c1", 2, "user", "hello", None, 3),        # same template again
        ("c1", 3, "assistant", "unique b", None, 4),
        ("c2", 0, "user", "hello", None, 1),
        ("c2", 1, "assistant", "other", None, 2),
    ]
    out = sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"])
        for r in strip_templates(
            spark.createDataFrame(rows, TURN_SCHEMA)
        ).collect()
    )
    assert out == [
        ("c1", 0, "assistant", "unique a"),
        ("c1", 1, "assistant", "unique b"),
        ("c2", 0, "assistant", "other"),
    ]


def test_strip_templates_role_scoped(spark):
    from xorfilter_net_spark.text.templates import strip_templates

    # same text under DIFFERENT roles is not one template: (role,
    # template) is the join key, so neither reaches min_convs=2
    rows = [
        ("c1", 0, "user", "ok", None, 1),
        ("c2", 0, "assistant", "ok", None, 1),
    ]
    out = strip_templates(
        spark.createDataFrame(rows, TURN_SCHEMA)
    ).collect()
    assert len(out) == 2


# ----------------------------------------------------------- rank blend
def test_rank_blend_exact_borda(spark):
    from xorfilter_net_spark.text.rank_blend import rank_blend

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en"),       # 7 chars, 4 words, 4 distinct
            (2, "aaaa aaaa", "en"),     # 9 chars, 2 words, 1 distinct
            (3, "x y", "en"),           # 3 chars, 2 words, 2 distinct
        ],
        "doc_id long, text string, lang string",
    )
    got = {
        r["doc_id"]: (r["borda"], r["consensus"])
        for r in rank_blend(docs, top=3).collect()
    }
    # ranks: chars: 2,1,3 / words: 1,2,3 / distinct: 1,3,2
    assert got[1] == (4, 1)
    assert got[2] == (6, 2)
    assert got[3] == (8, 3)


def test_rank_blend_tiebreak_and_top(spark):
    from xorfilter_net_spark.text.rank_blend import rank_blend

    docs = spark.createDataFrame(
        [(i, "same text", "en") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    got = rank_blend(docs, top=2).collect()
    # all signals tie -> doc_id asc decides every rank; top=2 keeps 0,1
    assert sorted(r["doc_id"] for r in got) == [0, 1]
    with pytest.raises(ValueError, match="top"):
        rank_blend(docs, top=0)


# ------------------------------------------------ r05 review regressions
def test_centroid_pairs_string_groups(spark):
    """Group columns keep their type: string labels work (the cast to
    long used to null every non-numeric group into an empty report)."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "en"), (2, [0.0, 1.0], "fr")],
        "vec_id long, embedding array<float>, label string",
    )
    r = centroid_pairs(emb).collect()
    assert len(r) == 1
    assert (r[0]["group_a"], r[0]["group_b"]) == ("en", "fr")
    assert r[0]["cos_e6"] == 0


def test_centroid_pairs_overflow_guard(spark):
    """Quantized sums whose pairwise dot would exceed int64 raise
    loudly instead of silently wrapping (or ANSI-failing mid-plan)."""
    big = 4.0e6  # floor(x*1000) ~ 4e9 per component; d=2 -> ~3.2e19
    emb = spark.createDataFrame(
        [(1, [big, big], 0), (2, [big, big], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    with pytest.raises(ValueError, match="exceeds int64"):
        centroid_pairs(emb).collect()


def test_vocab_coverage_literal_delim(spark):
    """The delimiter splits as a LITERAL (regex-quoted), matching the
    oracle's literal string_split — '|' used to split on every char."""
    docs = spark.createDataFrame(
        [(1, "a|b|a|rare")], "doc_id long, text string"
    )
    got = vocab_coverage(docs, vocab_size=2, delim="|").collect()[0]
    # tokens: a, b, a, rare; vocab {a, b}; oov = rare
    assert got["n_tokens"] == 4 and got["n_oov"] == 1


# ------------------------------------ ragged / zero-norm / boundary guards
def test_centroid_pairs_rejects_ragged_vectors(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], 0), (2, [1.0, 2.0], 0), (3, [1.0, 0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="ragged"):
        centroid_pairs(emb).collect()


def test_centroid_pairs_zero_norm_group_null_in_both_engines(spark):
    """A group whose centroid is the zero vector has no direction: its
    cosines are NULL in Spark and in the DuckDB oracle alike."""
    import duckdb

    from xorfilter_net_spark.ann.centroid_drift import centroid_oracle_sql

    rows = [(1, [0.0, 0.0], 0), (2, [1.0, 2.0], 1), (3, [2.0, 1.0], 2)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        (r["group_a"], r["group_b"]): r["cos_e6"]
        for r in centroid_pairs(emb).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create table embeddings (vec_id bigint, embedding double[], label int)"
    )
    con.executemany("insert into embeddings values (?, ?, ?)", rows)
    want = {(a, b): c for a, b, _, _, c in con.execute(centroid_oracle_sql()).fetchall()}
    assert got == want
    assert got[(0, 1)] is None and got[(0, 2)] is None
    assert got[(1, 2)] == 800000


def test_fork_fingerprint_field_boundary_safe(spark):
    """('a|b', 'c') and ('a', 'b|c') are different turns: with a joined
    ``role || '|' || text`` fingerprint they collided, and these two
    conversations showed as a depth-1 fork."""
    import duckdb

    from xorfilter_net_spark.pipeline.forks import fork_oracle_sql

    rows = [
        ("c1", 0, "a|b", "c", None, 0),
        ("c1", 1, "user", "x", None, 1),
        ("c2", 0, "a", "b|c", None, 0),
        ("c2", 1, "user", "y", None, 1),
    ]
    assert fork_points(spark.createDataFrame(rows, TURN_SCHEMA)).collect() == []
    con = duckdb.connect()
    con.execute(
        "create table transcripts (conv_id varchar, turn_idx int, role varchar,"
        " text varchar, tool varchar, ts_epoch bigint)"
    )
    con.executemany("insert into transcripts values (?, ?, ?, ?, ?, ?)", rows)
    assert con.execute(fork_oracle_sql()).fetchall() == []
