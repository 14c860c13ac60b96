"""Fast no-Spark guards on the driver-contract registry: every oracle
names a registered query, and every oracle SQL string BINDS in DuckDB
against the real table schemas (EXPLAIN — planning only). Catches
column typos / dialect slips in seconds, long before the full
tools/check_contract.py pass."""

from __future__ import annotations

import duckdb
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_tiny):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{sf_tiny}/{t}.parquet'"
        )
    return con


def test_every_oracle_names_a_query(registry):
    queries, oracles = registry
    assert set(oracles) <= set(queries)


def test_rows_only_queries_are_the_documented_iterative_set(registry):
    queries, oracles = registry
    # Every registered query has an oracle: a rows-only query has no
    # value check, so it can never be certified. The unigram-LM
    # pieces/encode pair (EM over float lattice sums, no integer-state
    # replay) was the last such pair and is no longer registered;
    # ``unigram_invariants_ok`` value-checks the family, and
    # tests/test_unigram_lm.py replays the EM numbers single-machine.
    assert set(queries) - set(oracles) == set()


def test_uncertified_queries_come_first(registry):
    """A driver sampling a prefix of ``queries()`` reaches every query
    whose fingerprint is not in tools/certified.json before any that is."""
    from xorfilter_net_spark import certify

    queries, _ = registry
    done = certify.certified()
    flags = [n in done for n in queries]
    assert flags == sorted(flags)


def test_all_oracles_bind_in_duckdb(registry, duck):
    _, oracles = registry
    bad = {}
    for name, sql in oracles.items():
        try:
            duck.sql("explain " + sql)
        except Exception as exc:  # noqa: BLE001 — collect every failure
            bad[name] = str(exc).splitlines()[0]
    assert not bad, bad


def test_no_hugeint_oracle_output_columns(registry, duck):
    """DuckDB widens sum(BIGINT) to HUGEINT (int128); the driver's
    comparison frame then lands float64 while Spark stays int64, so the
    value-hash mismatches even when every value is identical (the r02
    hash-red class). Every oracle must therefore cast integer sums back
    to BIGINT — DESCRIBE (planning only) over all oracles must show
    zero HUGEINT/UHUGEINT output columns."""
    _, oracles = registry
    bad = {}
    for name, sql in oracles.items():
        try:
            desc = duck.sql("describe " + sql).fetchall()
        except Exception as exc:  # noqa: BLE001 — binding covered above
            bad[name] = str(exc).splitlines()[0]
            continue
        huge = [
            f"{col}:{typ}"
            for col, typ, *_ in desc
            if "HUGEINT" in typ.upper()
        ]
        if huge:
            bad[name] = huge
    assert not bad, bad


def test_bench_queries_are_registered(registry):
    import bench

    queries, _ = registry
    missing = [q for q in bench.BENCH_QUERIES if q not in queries]
    assert not missing, missing
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)


def test_kcore_oracle_sentinel_fires_on_non_convergence():
    """The k-core oracle is a bounded unroll of an idempotent peel; it
    is only a valid replay if the fixpoint is reached within the unroll
    depth. On a 7-node path with k=2 the peel needs 3 rounds, so a
    rounds=1 unroll must emit the loud (-1, -1) sentinel row instead of
    silently replaying a non-converged state — while a deep-enough
    unroll must converge to the (empty) core with no sentinel."""
    from xorfilter_net_spark.entrypoints import _kcore_oracle

    con = duckdb.connect()
    rows = ", ".join(
        f"({100 + i}, {i + 1}), ({100 + i}, {i + 2})" for i in range(6)
    )
    con.sql(
        "create view lineitem as select * from (values "
        + rows
        + ") t(l_orderkey, l_partkey)"
    )
    short = con.sql(_kcore_oracle(k=2, rounds=1)).fetchall()
    assert (-1, -1) in short
    deep = con.sql(_kcore_oracle(k=2, rounds=6)).fetchall()
    assert deep == []  # a path has no 2-core; converged, no sentinel


def test_bpe_oracle_fold_matches_textbook_greedy():
    """The tokenizer oracles replay Spark's greedy left-to-right merge
    fold with a DuckDB list_reduce over a chr(1)-joined accumulator.
    Pin that replay against the textbook Python fold on adversarial
    symbol streams — self-overlapping runs (aaaa...), interleaved pairs,
    merged-spelling collisions (an existing 'ab' symbol next to an
    a+b merge product) — for single merges and chained merge pairs."""

    def py_apply(seg, a, b):
        out = []
        for x in seg:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    con = duckdb.connect()

    def duck_apply(seg, a, b):
        return con.execute(
            "select string_split(list_reduce($seg::varchar[], "
            "(acc, s) -> case when "
            "list_extract(string_split(acc, chr(1)), -1) = $a "
            "and s = $b then substr(acc, 1, len(acc) - len($a)) "
            "|| $a || $b else acc || chr(1) || s end), chr(1))",
            {"seg": seg, "a": a, "b": b},
        ).fetchone()[0]

    cases = [
        (list("aaaa"), ("a", "a")),
        (list("aaaaa"), ("a", "a")),
        (list("ababab"), ("a", "b")),
        (list("abab") + ["ab"], ("a", "b")),  # spelling collision
        (["ab", "a", "b"], ("a", "b")),
        (list("xaybzab"), ("a", "b")),
        (list("ba"), ("a", "b")),
        (["a"], ("a", "a")),
    ]
    import random

    rng = random.Random(7)
    for _ in range(40):
        seg = [rng.choice("ab c") for _ in range(rng.randrange(1, 12))]
        cases.append((seg, (rng.choice("abc"), rng.choice("abc"))))
    for seg, (a, b) in cases:
        assert duck_apply(seg, a, b) == py_apply(seg, a, b), (seg, a, b)
    # chained merges, including a second merge consuming the first's
    # product (the spelling-collision regime the oracles rely on)
    for seg in (list("aabbaabb"), list("abcabcab"), ["ab"] + list("abc")):
        got, want = seg, seg
        for a, b in (("a", "b"), ("ab", "c"), ("ab", "ab")):
            got = duck_apply(got, a, b)
            want = py_apply(want, a, b)
            assert got == want, (seg, a, b, got, want)


def test_package_exports_resolve():
    """Every lazily-exported name must import and resolve (a moved
    function would otherwise only fail at first user touch)."""
    import xorfilter_net_spark as pkg

    for name in pkg.__all__:
        assert getattr(pkg, name) is not None, name
