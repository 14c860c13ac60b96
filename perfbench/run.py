#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload xor_build_probe --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a metric table, then as the last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``). Scratch
files go to ``perfbench/.work`` and are removed at the end; the run's
full report (every sample, the layer split, spans, host context) is kept
in ``perfbench/.out``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    if importlib.util.find_spec("xorfilter_net_spark") is None:
        print("xorfilter_net_spark not found: run from the root of a checkout", file=sys.stderr)
        return 2
    from pbench.runner import run

    out = run(
        args.workload, args.seed, args.seconds, bool(args.trace),
        work=os.path.join(HERE, ".work"), out_dir=os.path.join(HERE, ".out"),
    )
    report, ctx = out["report"], out["context"]
    for line in report.lines():
        print(line)
    for name, alias in out["aliases"].items():
        if name in report.samples:
            print(f"{alias:<40} {report.value(name):>14.6g} (= {name})")
    for name, xs in sorted(out["split"].items()):
        print(f"split {name:<40} {xs}")
    print("host " + json.dumps(ctx, sort_keys=True))
    for err in out["errors"]:
        print("error " + err.replace("\n", " | "))
    missing = [n for n in wanted if n not in report.samples]
    if missing:
        print("missing metrics: " + ", ".join(missing), file=sys.stderr)
    print(json.dumps({
        "correct": out["correct"] and not missing,
        "attempted": out["attempted"] + len(missing),
        "failed": out["failed"] + len(missing),
        "metrics": report.metrics([n for n in wanted if n in report.samples]),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
