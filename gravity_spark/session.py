"""SparkSession factory tuned for the local harness and 100 TB design.

Local mode is one JVM; the configs that matter at cluster scale (AQE,
skew-join handling, shuffle partitions, broadcast threshold) are set
here so the same plans carry over unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "gravity_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions track core count locally; on a real cluster AQE coalesce
    right-sizes them post-shuffle, so the static number only sets the
    upper bound for small stages.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # an events.ts stored as TIMESTAMP(NANOS) reads as long and is
        # converted in the loader (Spark has no nanos timestamp); the
        # local testdata stores it as timestamp[us], which this does not
        # touch, so only tests/test_table_loader.py exercises the nanos
        # branch
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Stream checkpoints (offset WAL, commit log, one state-store
        # file per partition per epoch) go through Spark's FileSystem-
        # based manager instead of the default FileContext one. Without
        # libhadoop (the NativeCodeLoader warning at start-up) Hadoop's
        # local filesystem forks a shell command to set a permission
        # (`chmod`, for every directory it creates) or to read one
        # (RawLocalFileSystem -> Shell.execCommand), which makes every
        # checkpoint file cost milliseconds: one createAtomic + close
        # measured 32-40 ms through FileContext against 9-18 ms through
        # FileSystem (4-core host, tmpfs and local disk). Both managers
        # write a temp file and rename it into place without fsync, and
        # a rename within one POSIX local filesystem is atomic, so a
        # reader sees the old file or the new one, never a torn one,
        # either way.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
    )
    if os.path.isdir("/dev/shm"):
        # local harness: shuffle/spill blocks and implicit (temporary)
        # stream checkpoints on tmpfs — /tmp here is disk-backed and
        # the per-epoch fsyncs otherwise dominate small streaming
        # queries. java.io.tmpdir covers the memory-sink streams'
        # auto-created temp checkpoints. On a real cluster
        # spark.local.dir is node-local NVMe and checkpoints point at
        # durable shared storage instead.
        os.makedirs("/dev/shm/spark_graft_tmp", exist_ok=True)
        builder = builder.config(
            "spark.local.dir", "/dev/shm/spark_graft_local"
        ).config(
            "spark.driver.extraJavaOptions",
            "-Djava.io.tmpdir=/dev/shm/spark_graft_tmp",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
