"""SparkSession builder with scale-aware defaults.

Tested on local[N]; the conf set is chosen for a large multi-executor cluster:
AQE handles runtime partition coalescing / skew joins, shuffle partitions are
sized for the local test harness but meant to be overridden (cluster deploys
set spark.sql.shuffle.partitions ~ 2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(app_name: str = "fxa-amplitude-send-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Deterministic semantics regardless of host TZ; UTC matches the
        # reference's epoch-ms event times (utils.js:34).
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, dynamic broadcast — core of the 100 TB posture.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Arrow for every Pandas UDF boundary (HMAC, similarity kernels).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables (region/nation/supplier) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The synthetic events table stores TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects; read as long and convert at the scan
        # boundary (sources/tables.py) — lossless integer division to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
