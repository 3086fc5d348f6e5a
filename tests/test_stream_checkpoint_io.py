"""Stream checkpoints go through Spark's FileSystem-based checkpoint
manager, and a registry stream sized by `_stream_conf` runs one state
task per core per batch (the reasons are in `get_spark` and
`_stream_conf`)."""

import datetime

from pyspark.sql import functions as F

from gravity_spark.queries import _stream_conf

_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt"))
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path, conf
    )
    assert fm.getClass().getName() == _PKG + "FileSystemBasedCheckpointFileManager"


def test_window_count_runs_one_state_task_per_core(spark, tmp_path):
    base = datetime.datetime(2024, 1, 1)
    rows = [(i % 7, base + datetime.timedelta(seconds=37 * i)) for i in range(500)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "k int, ts timestamp").coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    view = "test_stream_checkpoint_io_counts"
    with _stream_conf(spark):
        counts = (
            spark.readStream.schema(schema).parquet(src)
            .groupBy(F.window("ts", "10 minutes"), "k").count()
        )
        q = (
            counts.writeStream.format("memory").queryName(view)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    try:
        got = sorted(spark.table(view).select("window.start", "k", "count").collect())
    finally:
        spark.catalog.dropTempView(view)
    want = sorted(
        spark.read.parquet(src).groupBy(F.window("ts", "10 minutes"), "k").count()
        .select("window.start", "k", "count").collect()
    )
    assert got == want

    # the stream's batches run under its runId job group; each batch's
    # result stage is the stateful aggregation
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len([p for p in q.recentProgress if p["numInputRows"]]) > 0
    for job in jobs:
        state_stage = tracker.getStageInfo(max(tracker.getJobInfo(job).stageIds))
        assert state_stage.numTasks == sc.defaultParallelism
