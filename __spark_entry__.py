"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``xorfilter_net_spark.entrypoints`` — the driver runs
``entry(spark)`` as a smoke check, each ``queries()[name]`` at sf=0.01,
and compares against ``oracle_sql()[name]`` via DuckDB (row-count +
schema + order-insensitive value-hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xorfilter_net_spark import certify, entrypoints  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return entrypoints.entry(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry, ordered so that a driver sampling a prefix (by count or
    by time budget) spends it on queries not yet certified: those whose
    fingerprint differs from its entry in tools/certified.json (or that
    have none) come first, then cheapest first per the measured sf0.01
    walls in tools/query_costs.json, then by name. See
    ``xorfilter_net_spark.certify`` for the rule."""
    qs = dict(entrypoints.QUERIES)
    costs = certify.load_json(os.path.join(certify.ROOT, certify.COSTS))
    done = certify.certified()
    order = sorted(qs, key=lambda n: (n in done, costs.get(n, 3.0), n))
    return {n: qs[n] for n in order}


def oracle_sql() -> dict[str, str]:
    return dict(entrypoints.ORACLES)
