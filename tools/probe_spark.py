"""Shared session and shuffle counter for the scale probes in tools/."""

from __future__ import annotations

import json
import os
import urllib.request

from pyspark.sql import SparkSession


def probe_session() -> SparkSession:
    """get_spark's configs with the UI enabled — the REST API is where
    per-stage shuffle metrics live."""
    n = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("scale_probe")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
    )
    if os.path.isdir("/dev/shm"):  # Spark creates the dir itself
        b = b.config("spark.local.dir", "/dev/shm/spark_graft_local")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_write_bytes(spark: SparkSession) -> int:
    """Total shuffle-write bytes across all completed stages so far."""
    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages", timeout=10) as r:
            stages = json.loads(r.read().decode())
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1
