"""Structured Streaming replication pipelines.

Reference parity (the three run modes, pkg/config/config_v3.go:44-49):
  - batch:       snapshot scan → merge into target (§3.2,
                 pkg/inputs/mysqlbatch/input.go:181-296)
  - stream:      CDC tail → filter chain → ordered merge (§3.1,
                 pkg/inputs/mysqlstream/binlog_tailer.go:153-610)
  - replication: snapshot, then stream from the offset captured before
                 the scan (§3.3, pkg/inputs/helper/two_stage_input.go:27-147)

Spark mapping: micro-batch Structured Streaming; the scheduler/sliding-
window/ack machinery collapses into checkpointing + idempotent
foreachBatch merge (see operators.collapse docstring). Sources are
pluggable: file/parquet streams and Kafka-CDC topics in production,
in-memory streams for tests.

Scale notes: the only stateful step is the per-batch LWW collapse — a
hash shuffle on the PK domain bounded by batch size, not table size.
The target merge joins change-keys (small) against the target (large):
broadcast-able whenever a trigger's key count is modest, which AQE does
automatically.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gravity_spark.core.envelope import MSG_SCHEMA
from gravity_spark.operators.filters import apply_filter_chain
from gravity_spark.operators.router import route
from gravity_spark.sinks.parquet_merge import ParquetMergeTarget


def file_cdc_source(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Change stream from an envelope-schema file directory (the local
    stand-in for a Kafka CDC topic; same schema either way). Rate
    limiting mirrors batch-per-second-limit via maxFilesPerTrigger."""
    reader = spark.readStream.schema(MSG_SCHEMA).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def kafka_cdc_source(
    spark: SparkSession,
    brokers: str,
    topics: str,
    starting_offsets: str = "latest",
    decoder: str = "debezium",
) -> DataFrame:
    """CDC from Kafka (Debezium/Canal topics) — the production path,
    matching the reference's own tidb_kafka design
    (pkg/inputs/tidb_kafka/input.go:30-190). Requires Kafka connector
    jars; raises a clear error if absent."""
    from gravity_spark.core.envelope import from_canal_json, from_debezium_json

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return from_debezium_json(raw) if decoder == "debezium" else from_canal_json(raw)


def transform_changes(
    changes: DataFrame,
    filters: Sequence[Mapping[str, Any]] = (),
    routes: Sequence[Mapping[str, Any]] = (),
) -> DataFrame:
    """The emitter: filter chain then routing (pkg/emitter/emitter.go:39-86,
    router pre-filter binlog_tailer.go:317-325)."""
    out = apply_filter_chain(changes, filters)
    if routes:
        out = route(out, routes)
    return out


def run_stream(
    changes: DataFrame,
    target: ParquetMergeTarget,
    typed: Callable[[DataFrame], DataFrame],
    checkpoint: str,
    trigger_once: bool = False,
    catalog=None,
    current_db: str | None = None,
    compact_every: int | None = None,
    compact_target_bytes: int = 128 * 1024 * 1024,
    table: str | None = None,
) -> StreamingQuery:
    """Wire a change stream into a merge target.

    ``typed`` projects the envelope to the target's typed columns
    (op + seq + value columns) per batch. Checkpointing + idempotent
    merge gives effective exactly-once (the reference needs the
    sliding-window ack + position flush for the same guarantee).

    With a ``catalog``, DDL messages are applied in seq order,
    driver-side, AND the batch's DML is split at each DDL seq: DML with
    seq < ddl.seq merges under the pre-DDL schema, then the DDL lands
    (catalog + physical sink), then the next slice — the same flush-
    in-flight-DML-before-ALTER barrier the reference enforces
    (binlog_tailer.go:434-509, mysql.go:222-440). Applying the DDL
    first would project pre-DDL rows under the post-DDL schema (a
    RENAME would NULL their values; a mid-batch TRUNCATE would
    resurrect rows the binlog order says are erased). Sub-batch applies
    reuse the sink's LWW-idempotent merge, so epoch redelivery replays
    the same slice sequence to the same state.

    ``compact_every=N`` runs the sink's small-file compaction (then a
    version vacuum) after every Nth epoch — maintenance rides the
    stream's own epoch cadence instead of a separate scheduled job, and
    because compaction flips an atomic new version, concurrent readers
    and a later epoch's merge are never disturbed.
    """
    def per_batch(df: DataFrame, epoch_id: int) -> None:
        dml = None
        try:
            if catalog is not None:
                from gravity_spark.operators.ddl import parse_and_apply

                ddl_rows = [
                    r
                    for r in df.filter(F.col("type") == "ddl")
                    .select("ddl_statement", "seq")
                    .orderBy("seq")
                    .collect()
                    if r["ddl_statement"]
                ]
                df = df.filter(F.col("type") != "ddl")
                if ddl_rows:
                    # split the batch at each DDL seq: flush the DML
                    # slice that the binlog ordered BEFORE the DDL under
                    # the old schema, then apply the DDL, then continue
                    # — the foreachBatch boundary alone is NOT the
                    # barrier when the source delivers DDL mid-batch
                    dml = df.persist()
                    lo = None
                    for r in ddl_rows:
                        cond = F.col("seq") < F.lit(r["seq"])
                        if lo is not None:
                            cond = cond & (F.col("seq") >= F.lit(lo))
                        slice_df = dml.filter(cond)
                        if not slice_df.isEmpty():
                            target.apply_batch(typed(slice_df), epoch_id)
                        res = parse_and_apply(
                            r["ddl_statement"], catalog, current_db=current_db
                        )
                        # non-additive DDL (rename/drop/modify/truncate)
                        # is applied to the target PHYSICALLY at its seq
                        # position. With ``table`` set, only DDL
                        # addressing THIS stream's table touches the
                        # sink (a multi-table change stream carries
                        # other tables' DDL too); the catalog above
                        # still records every statement.
                        if res.actions and (table is None or res.table == table):
                            target.apply_ddl(res.actions)
                        lo = r["seq"]
                    df = dml.filter(F.col("seq") >= F.lit(lo))
            target.apply_batch(typed(df), epoch_id)
        finally:
            if dml is not None:
                dml.unpersist()
        if compact_every and (epoch_id + 1) % compact_every == 0:
            target.compact(target_bytes=compact_target_bytes)
            target.vacuum()

    writer = (
        changes.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def two_stage_replication(
    spark: SparkSession,
    snapshot: DataFrame,
    changes: DataFrame,
    target: ParquetMergeTarget,
    typed: Callable[[DataFrame], DataFrame],
    checkpoint: str,
    position_store=None,
    pipeline_name: str = "pipeline",
    captured_offset=None,
) -> StreamingQuery:
    """mode=replication: full scan applied first, then the change stream
    from offsets captured BEFORE the scan (two_stage_input.go:82-147).

    The snapshot is merged as an insert batch; the stream then replays
    anything at-or-after the captured position. Overlap is harmless:
    the merge is last-write-wins idempotent, which is exactly why the
    reference re-reads from the pre-scan position too.

    With a ``position_store`` the stage transitions are recorded like
    the reference's position flow: batch(done=False) → batch(done=True)
    → stream(captured offset).
    """
    from gravity_spark.core.positions import stream_position

    if position_store is not None:
        position_store.put(
            pipeline_name, {"stage": "batch", "done": False}, flush=True
        )
    ins = snapshot.withColumn("op", F.lit("insert")).withColumn(
        "seq", F.lit(-1).cast("long")
    )
    target.apply_batch(ins, epoch_id=None)
    if position_store is not None:
        position_store.put(pipeline_name, {"stage": "batch", "done": True}, flush=True)
        position_store.put(
            pipeline_name, stream_position(pipeline_name, captured_offset), flush=True
        )
    return run_stream(changes, target, typed, checkpoint)


def watermark_lag_listener(spark: SparkSession, unhealthy_after_s: int = 60):
    """Liveness monitoring: the reference's binlog-checker heartbeat +
    sliding-window watermark health (pkg/inputs/helper/binlog_checker/
    checker.go:22, pkg/sliding_window/sliding_window.go:7-23) maps to a
    StreamingQueryListener watching batch progress timestamps."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.last_progress_ms: dict[str, int] = {}
            self.unhealthy: set[str] = set()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            import time as _t

            qid = str(event.progress.id)
            self.last_progress_ms[qid] = int(_t.time() * 1000)
            self.unhealthy.discard(qid)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.last_progress_ms.pop(str(event.id), None)

        def health(self) -> dict[str, bool]:
            import time as _t

            now = int(_t.time() * 1000)
            return {
                qid: (now - ts) < unhealthy_after_s * 1000
                for qid, ts in self.last_progress_ms.items()
            }

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
