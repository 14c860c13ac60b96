"""The benchmark's SparkSession: ``local[<cores>]``, every scratch file
(shuffle, spill, JVM temp, warehouse, event log) under one work
directory, and the event log on only for traced runs."""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time

# the heap is fixed and touched at start, so the JVM's resident set does
# not follow when the collector happens to grow it
DRIVER_MEMORY = "2g"
BENCH_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_ROOT)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_spark(work_dir: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    from xorfilter_net_spark.sources.session import session_confs

    # Python workers import the library and this package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, BENCH_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # temp files of this process, the JVM and the Python workers it starts
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    n = cores()
    confs = session_confs(2 * n)
    confs.update(
        {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            }
        )
    builder = SparkSession.builder.master(f"local[{n}]").appName("perfbench")
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down, and wait until the JVM and
    every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    from .host import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    deadline += timeout
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    """False for a zombie: it has exited and waits only to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
