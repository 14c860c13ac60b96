#!/usr/bin/env python
"""Generate docs/QUERIES.md: every driver-contract query, its oracle
kind, and its one-line description (from the query function docstring).

The driver's correctness gate runs each ``queries()`` entry against its
``oracle_sql()`` twin; this index is the human-readable map of that
surface for review against SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as entry
    from xorfilter_net_spark import certify

    qs = entry.queries()
    os_ = entry.oracle_sql()
    costs = certify.load_json(os.path.join(certify.ROOT, certify.COSTS))
    done = certify.certified()
    rows = []
    for name in sorted(qs):
        fn = qs[name]
        doc = (fn.__doc__ or "").strip().split("\n\n")[0]
        doc = " ".join(line.strip() for line in doc.splitlines())
        if os_[name].lstrip().lower().startswith("select true"):
            kind = "boolean gate (in-query exact/bound targets)"
        else:
            kind = "value-exact SQL oracle"
        cert = f"r{done[name]}" if name in done else "stale"
        rows.append((name, kind, doc, costs.get(name), cert))

    exact = sum(1 for r in rows if r[1].startswith("value-exact"))
    stale = sum(1 for r in rows if r[4] == "stale")
    out = [
        "# Driver-contract query index",
        "",
        "Generated by `python tools/gen_query_index.py`. "
        f"{len(rows)} queries: {exact} with value-exact DuckDB oracles, "
        f"{len(rows) - exact} boolean gates (the query computes its "
        "exact/bound targets in-query and returns pass booleans).",
        "",
        "The certified column is the driver round whose certification "
        "still matches the query's content fingerprint "
        "(`xorfilter_net_spark/certify.py`, `tools/certified.json`), or "
        f"`stale` ({stale} queries): `queries()` puts those first. The "
        "cost column is the measured sf0.01 wall (seconds) from "
        "`tools/query_costs.json`, which orders each block cheapest first; "
        "'—' = not yet measured (new queries default to 3.0).",
        "",
        "| Query | Gate | certified | sf0.01 s | What it covers |",
        "|---|---|---|---|---|",
    ]
    for name, kind, doc, cost, cert in rows:
        doc = doc.replace("|", "\\|")
        c = f"{cost:.2f}" if isinstance(cost, (int, float)) else "—"
        out.append(f"| `{name}` | {kind} | {cert} | {c} | {doc} |")
    out.append("")

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "QUERIES.md",
    )
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}: {len(rows)} queries ({exact} exact)")


if __name__ == "__main__":
    main()
