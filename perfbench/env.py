"""Process environment and Spark session for the benchmark.

Everything the run writes (staged tables, job outputs, Spark scratch, the
kernel's compiled C extension, temp files, event logs, traces) goes under
``perfbench/.work`` in the checkout. ``configure`` must run before pyspark
or the kernel is imported, because the JVM and the Python workers inherit
this environment.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure() -> None:
    for sub in ("tmp", "cache", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(WORK, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def require_program() -> None:
    """Fail fast (no result line) when the checkout lacks the program."""
    for rel in ("oxidizepdf_spark/pipeline.py", "jobs/extract_job.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}")


def build_kernel() -> None:
    """Compile the kernel's C content scanner into the work cache before
    any timing, so set-up sees the same cache state on every run."""
    from oxidizepdf_spark.kernel.cbuild import load_cscan

    load_cscan()


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (its
    Python workers are stopped with the SparkContext)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def new_session(k: int, event_log: bool = False):
    """Spark ``local[k]`` session with the settings of
    ``table_io.get_spark`` (arrow batch cap, AQE, shuffle partitions), a
    2 GB JVM heap, and all scratch space under the work dir."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(8, k)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
        .config("spark.eventLog.dir", os.path.join(WORK, "eventlog"))
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
