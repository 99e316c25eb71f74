"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that transfer to a real cluster (AQE, broadcast thresholds, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "treemachine-spark") -> SparkSession:
    """Build (or fetch) a SparkSession.

    Scale notes: on a real cluster only the master() line changes. AQE handles
    runtime partition coalescing and skew-join splitting; shuffle partitions
    default to 2x cores locally but should be sized to ~128 MB/partition of
    shuffle data at 100 TB (spark.sql.shuffle.partitions is a starting hint
    only once AQE is on).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers import the package by name, whatever the driver's
    # working directory: put the directory that holds it first on their path
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        p for p in (package_parent, os.environ.get("PYTHONPATH")) if p
    )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # FAIR job scheduling: the HTTP facade serves concurrent requests
        # from one session — under FIFO a queued subtree scan starves every
        # small node_info behind it (bench_http r4: node_info p50 doubled
        # from 12 -> 32 clients); FAIR round-robins task slots across jobs.
        # Batch workloads are unaffected (one job at a time), and the
        # concurrent-ingest job packing keeps working.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .getOrCreate()
    )
