"""Spark-vs-DuckDB output-schema CLASS parity for every oracle query.

The driver's value-hash compares Spark and DuckDB results through a
pandas frame; a column whose two sides land in different dtype classes
(int64 vs float64, say) hash-mismatches even when every value is equal
— the r02 HUGEINT incident. The DESCRIBE sweep in
tests/test_contract_registry.py pins the HUGEINT case without Spark;
this module is the full guard: it runs every ``queries()`` entry (at
sf0.001 by default) to get its Spark schema, DESCRIBEs the matching
oracle in DuckDB (planning only — the oracle never executes), and
asserts the per-column type CLASS matches.

Classes: int / float / decimal(scale==0) / decimal(scale>0) / str /
bool / date / ts / binary / array / nested. Allowed cross-class pairs
are exactly the ones the driver's comparison tolerates, derived from
rows that are empirically driver-green (e.g. Spark ``decimal(38,0)``
against a DuckDB ``DECIMAL(38,0)`` oracle — the repo's documented
hugeint-exactness convention).

Usage:
    python tools/schema_parity.py            # all oracle queries
    python tools/schema_parity.py name ...   # subset
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_PARITY", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

_DUCK_INT = {
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "UTINYINT",
    "USMALLINT",
    "UINTEGER",
}


def duck_class(t: str) -> str:
    t = t.strip().upper()
    if t.endswith("[]"):
        return "array"
    if t.startswith("DECIMAL"):
        m = re.match(r"DECIMAL\((\d+),\s*(\d+)\)", t)
        return "decimal0" if m and m.group(2) == "0" else "decimal"
    if t in _DUCK_INT:
        return "int"
    if t in ("UBIGINT", "HUGEINT", "UHUGEINT"):
        return "bigwide"  # widens past int64 in the comparison frame
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP") or t == "TIME":
        return "ts"
    if t == "BLOB":
        return "binary"
    return "nested"


def spark_class(t) -> str:
    s = t.simpleString()
    if s.startswith("array"):
        return "array"
    if s.startswith("decimal"):
        m = re.match(r"decimal\((\d+),(\d+)\)", s)
        return "decimal0" if m and m.group(2) == "0" else "decimal"
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s == "string":
        return "str"
    if s == "boolean":
        return "bool"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "ts"
    if s == "binary":
        return "binary"
    return "nested"


# (spark_class, duck_class) pairs the driver's comparison tolerates in
# addition to exact class equality. decimal(38,0) vs DECIMAL(38,0) is
# already equality; Spark decimal0 against a DuckDB int column compares
# fine (both integer-valued; pandas renders Decimal('7') and 7 with
# equal hashes through the driver's stringify path) and appears in
# empirically driver-green rows.
ALLOWED = {
    ("decimal0", "int"),
}


def compare_schemas(spark_schema, duck_desc) -> list[str]:
    """Return per-column class mismatches (empty = parity)."""
    sp = {f.name: spark_class(f.dataType) for f in spark_schema.fields}
    du = {row[0]: duck_class(row[1]) for row in duck_desc}
    issues = []
    if sorted(sp) != sorted(du):
        return [f"columns spark={sorted(sp)} duck={sorted(du)}"]
    for c in sorted(sp):
        a, b = sp[c], du[c]
        if a != b and (a, b) not in ALLOWED:
            issues.append(f"col {c}: spark={a} duck={b}")
    return issues


def run_parity(spark, con, names=None) -> dict[str, list[str]]:
    """{name: issues} for every (or the given) oracle-backed query."""
    import __spark_entry__ as se

    qs, oracles = se.queries(), se.oracle_sql()
    names = names or list(qs)
    out: dict[str, list[str]] = {}
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
        except Exception as exc:  # noqa: BLE001 — collect every failure
            out[name] = [f"spark raised {type(exc).__name__}: {exc}"]
            continue
        try:
            desc = con.sql("describe " + oracles[name]).fetchall()
        except Exception as exc:  # noqa: BLE001
            out[name] = [f"duckdb raised {type(exc).__name__}: {exc}"]
            continue
        issues = compare_schemas(sdf.schema, desc)
        if issues:
            out[name] = issues
    return out


def main() -> int:
    import time

    import duckdb

    from xorfilter_net_spark.sources.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    t0 = time.time()
    bad = run_parity(spark, con, sys.argv[1:] or None)
    spark.stop()
    for name, issues in bad.items():
        print(f"MISMATCH {name}: " + "; ".join(issues))
    print(
        f"{'FAILED ' + str(len(bad)) if bad else 'ALL OK'}"
        f"  ({time.time() - t0:.0f}s)"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
