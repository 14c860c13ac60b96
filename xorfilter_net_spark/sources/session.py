"""SparkSession + table helpers shared by queries, tests and bench.

Scale posture: AQE on (runtime skew-join + partition coalescing), Arrow
transfers on (every UDF in this library is a vectorized pandas UDF),
session TZ pinned to UTC so timestamp semantics match the DuckDB oracles.

Table resolution (``load_table``) takes either a filesystem directory of
parquet files (the sandbox testdata) or a ``catalog:<namespace>`` string
that resolves through the session catalog — which is how Iceberg tables
are read in production (configure the Iceberg catalog via
``SPARK_GRAFT_EXTRA_CONF`` or spark-submit ``--conf``; the read path is
identical ``spark.table("catalog.db.name")`` either way, and Iceberg
then provides snapshot isolation + partition/metadata pruning on top).
No Iceberg runtime ships in this sandbox, so tests exercise the catalog
path against session-catalog tables.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def get_spark(
    master: str | None = None,
    app_name: str = "xorfilter-net-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # 2x cores: a one-wave stage (partitions == cores) is serialized by
    # any single straggler; two waves re-balance around it
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(2 * int(cpus)))
    )
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_confs(shuffle).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_confs(shuffle_partitions: int) -> dict[str, str]:
    """The library's session conf, last-wins merged with the
    ``SPARK_GRAFT_EXTRA_CONF`` JSON deployment hook (e.g. the Iceberg
    catalog: ``spark.sql.catalog.prod=org.apache.iceberg.spark.
    SparkCatalog`` — equivalent to spark-submit ``--conf`` pairs)."""
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # let custom Python data sources (sources/synthetic.py) absorb
        # predicates in pushFilters (off by default in Spark 4.1)
        "spark.sql.python.filterPushdown.enabled": "true",
        # always use the sort-based shuffle writer: the bypass-merge
        # writer opens one spill file per reduce partition per map task
        # (16k+ streams for a 128x128 exchange) and collapses under high
        # local thread counts — measured 2.4-10x slower at local[32]
        "spark.shuffle.sort.bypassMergeThreshold": "1",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if extra:
        confs.update({k: str(v) for k, v in json.loads(extra).items()})
    return confs


def task_slots(spark: SparkSession) -> int:
    """Python tasks that fill one wave: ``sc.defaultParallelism``, floored
    at half of ``spark.sql.shuffle.partitions``.

    ``defaultParallelism`` is ``spark.default.parallelism`` when set,
    else the executor cores registered when the plan is made (at least 2;
    ``local[n]``: n). Under dynamic allocation, or while executors are
    still starting, that can be far below the cluster's size, so the
    session conf sets the floor: ``get_spark`` sizes shuffle partitions
    at 2x the cores the session is for, so half of them is that core
    count, whichever executors are up."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(spark.sparkContext.defaultParallelism, shuffle // 2)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve table ``name`` under ``sf_dir``: a parquet directory, or
    ``catalog:<namespace>`` for catalog-resolved (e.g. Iceberg) tables."""
    if sf_dir.startswith("catalog:"):
        ns = sf_dir[len("catalog:") :]
        return spark.table(f"{ns}.{name}" if ns else name)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (sf-scoped)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
