"""Local replica of the driver's correctness gate.

Runs each ``__spark_entry__.queries()[name]`` at sf0.01 on Spark and the
matching ``oracle_sql()[name]`` in DuckDB over the same parquet, then
compares row count, sorted column names, and order-insensitive values.

Usage:
    python tools/check_contract.py            # all queries + entry smoke
    python tools/check_contract.py --stale    # the uncertified prefix of
                                              # queries(): what the driver
                                              # certifies next
    python tools/check_contract.py name ...   # subset
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(
            f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return issues
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) != len(b):
        return issues
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            ok = np.allclose(
                av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True
            )
            if not ok:
                issues.append(f"col {c}: float values differ (exact compare)")
        else:
            try:
                eq = (av == bv) | (av.isna() & bv.isna())
            except Exception:
                eq = av.astype(str) == bv.astype(str)
            if not eq.all():
                i = int(np.flatnonzero(~eq.to_numpy())[0])
                issues.append(
                    f"col {c}: first mismatch row {i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                )
    return issues


def warm_up(spark) -> None:
    """One untimed query before the timed loop, so the session's JVM
    class loading, codegen and Python-worker start-up are not charged to
    whichever query runs first: a one-column parquet scan, one shuffle and
    a grouped ``applyInPandas`` with one group per core, each returning
    one row, collected with Arrow."""
    from pyspark.sql import functions as F

    from xorfilter_net_spark.sources.session import load_table

    tasks = spark.sparkContext.defaultParallelism
    users = load_table(spark, SF_DIR, "events").select("user_id")
    keyed = users.withColumn("g", F.pmod(F.hash("user_id"), F.lit(tasks)))
    keyed.repartitionById(tasks, "g").groupBy("g").applyInPandas(
        lambda pdf: pdf.head(1), keyed.schema
    ).toPandas()


def main() -> int:
    import __spark_entry__ as se
    from xorfilter_net_spark import certify
    from xorfilter_net_spark.sources.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )

    args = sys.argv[1:]
    qs, oracles = se.queries(), se.oracle_sql()
    if args == ["--stale"]:
        done = certify.certified()
        names = [n for n in qs if n not in done]
    else:
        names = args or list(qs)
    if names:
        warm_up(spark)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            spdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        issues = compare(name, spdf, dpdf)
        if issues:
            print(f"FAIL  {name} ({time.time()-t0:.1f}s): " + "; ".join(issues))
            failed.append(name)
        else:
            print(f"OK    {name}: {len(spdf)} rows match  ({time.time()-t0:.1f}s)")

    if not args:
        edf = se.entry(spark)
        n = edf.count()
        print(f"entry() -> {n} rows, schema {edf.schema.simpleString()}")
        if n <= 0:
            failed.append("entry")
    spark.stop()
    print("FAILED:" if failed else "ALL OK", failed if failed else "")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
