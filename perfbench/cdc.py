"""``cdc_tail``: the steady replication tail.

The pipeline is the assembly ``python -m gravity_spark`` uses:
``plans.pipeline.build_pipeline`` with a ``file-cdc`` input (one file per
micro-batch), an ``accept`` + ``delete-dml-column`` filter chain and a
``parquet-merge`` output. A snapshot of ``KEYS`` rows is loaded into the
replica first, as ``two_stage_replication`` does.

One client then runs a closed loop: generate a change file of ``ROWS``
rows, publish it into the input directory with one rename, wait until
its version is readable, run the reader query on the replica, vacuum old
versions, run the host-speed sentinel, repeat. Readiness is taken when
``apply_batch`` returns, which is when the sink has flipped its manifest.
"""

from __future__ import annotations

import os
import queue

from datagen import TABLE_DDL, ChangeLog, snapshot_frame, write_model
from harness import SparkCounters, median, now, sentinel_s

KEYS = 500_000
ROWS = 5_000
WARMUP_ROUNDS = 12
LOOKUPS = 20
EPOCH_TIMEOUT_S = 120.0


def pipeline_config(root: str) -> dict:
    return {
        "name": "perfbench",
        "input": {"type": "file-cdc",
                  "config": {"path": f"{root}/in", "max-files-per-trigger": 1}},
        "filters": [
            {"type": "accept", "config": {"match-schema": "app", "match-table": "users*"}},
            {"type": "delete-dml-column", "config": {"columns": ["password"]}},
        ],
        "output": {"type": "parquet-merge",
                   "config": {"path": f"{root}/replica", "pk": ["id"], "schema": TABLE_DDL}},
    }


class CdcTail:
    def __init__(self, seed, session, tracer, work) -> None:
        self.session = session
        self.spark = session.spark
        self.tracer = tracer
        self.work = work
        self.log = ChangeLog(seed, KEYS)
        self.ready: queue.Queue = queue.Queue()
        self.n_files = 0
        self.attempted = self.failed = 0
        self.samples = {"lag": [], "traced_lag": [], "read": [], "pass": []}
        self.epochs: list[dict] = []  # traced epochs
        self.trace_epoch = False
        self.sentinels: list[float] = []

    def setup(self) -> None:
        from gravity_spark.plans.pipeline import build_pipeline

        os.makedirs(f"{self.work}/in")
        os.makedirs(f"{self.work}/staging")
        with self.tracer.span("plans.build"):
            self.pipeline = build_pipeline(self.spark, pipeline_config(self.work))
        self.target = self.pipeline.target
        with self.tracer.span("sinks.snapshot_apply"):
            self.target.apply_batch(snapshot_frame(self.spark, KEYS, self.log.salt))
        self._instrument()
        self.query = self.pipeline.start_stream()
        for _ in range(WARMUP_ROUNDS):
            self.round(record=False)
        for _ in range(3):
            sentinel_s(self.spark)

    def _instrument(self) -> None:
        """Time the calls into the sink from outside. Traced runs also
        move the filter chain from the stream plan into the batch
        function (the same plan once optimised), so that a traced epoch
        can materialise decode, then filters, then the persisted
        collapse, before the real apply recomputes all of them."""
        apply_batch = self.target.apply_batch
        tracer = self.tracer

        def timed_apply(changes, epoch_id=None):
            if self.trace_epoch:
                ep = self.epochs[-1]
                self.counters.take()
                with tracer.span("sinks.apply_batch", epoch=epoch_id):
                    t0 = now()
                    apply_batch(changes, epoch_id)
                    ep["apply_s"] = now() - t0
                ep["spark"] = self.counters.take()
                ep["batch"] = epoch_id
            else:
                apply_batch(changes, epoch_id)
            self.ready.put(now())

        self.target.apply_batch = timed_apply
        if not tracer.enabled:
            return
        from gravity_spark.operators.upsert import collapse_changes

        transform, typed = self.pipeline.transform, self.pipeline.typed
        cols = [c.split()[0] for c in TABLE_DDL.split(",")]
        self.counters = SparkCounters(self.spark)

        def staged(df):
            entry = now()
            if not self.trace_epoch:
                return typed(transform(df))
            ep = {"entry": entry}
            self.epochs.append(ep)
            with tracer.span("epoch.stages"):
                with tracer.span("core.decode"):
                    df.write.format("noop").mode("overwrite").save()
                t1 = now()
                filtered = transform(df)
                with tracer.span("operators.filter"):
                    filtered.write.format("noop").mode("overwrite").save()
                t2 = now()
                with tracer.span("operators.collapse"):
                    collapsed = collapse_changes(cols, typed(filtered), ["id"]).persist()
                    ep["keys_out"] = collapsed.count()
                    collapsed.unpersist()
                t3 = now()
            ep.update(decode_s=t1 - entry, filter_s=t2 - t1, collapse_s=t3 - t2,
                      cumulative_s=t3 - entry)
            return typed(filtered)

        self.pipeline.transform = lambda df: df
        self.pipeline.typed = staged

    def _wait_ready(self) -> float:
        start = now()
        while True:
            try:
                return self.ready.get(timeout=0.5)
            except queue.Empty:
                if not self.query.isActive:
                    raise RuntimeError(f"stream stopped: {self.query.exception()}")
                if now() - start > EPOCH_TIMEOUT_S:
                    raise TimeoutError("epoch did not finish")

    def round(self, record: bool = True, traced: bool = False) -> None:
        """One closed-loop cycle: publish a change file, wait until its
        version is readable, read, vacuum."""
        text, n_dml = self.log.next_file(ROWS)
        staged = f"{self.work}/staging/c{self.n_files:06d}.json"
        with open(staged, "w") as f:
            f.write(text)
        self.n_files += 1
        self.trace_epoch = traced
        published = now()
        os.rename(staged, f"{self.work}/in/{os.path.basename(staged)}")
        lag = self._wait_ready() - published
        self.trace_epoch = False
        if traced:
            ep = self.epochs[-1]
            files = self.target.read().inputFiles()
            ep.update(rows_in=n_dml, discovery_s=ep["entry"] - published,
                      merge_write_s=ep["apply_s"] - ep["cumulative_s"], files=len(files),
                      bytes=sum(os.path.getsize(f.removeprefix("file:")) for f in files))
        read_s = self._read(record)
        if record:
            self.attempted += 1
            self.samples["traced_lag" if traced else "lag"].append(lag)
            self.samples["pass"].append(lag + read_s)
        with self.tracer.span("sinks.vacuum"):
            self.target.vacuum()
        if record:
            self.sentinels.append(sentinel_s(self.spark))

    def _read(self, record: bool) -> float:
        """The reader query: an aggregate plus point lookups on the live
        replica, checked against the model outside the timed region."""
        from pyspark.sql import functions as F

        keys = self.log.sample_live(LOOKUPS)
        t0 = now()
        df = self.target.read()
        agg = df.agg(F.count("*").alias("n"), F.sum("score").alias("s")).collect()[0]
        hits = df.filter(F.col("id").isin(keys.tolist())).select("id", "score").collect()
        elapsed = now() - t0
        ok = (agg["n"] == self.log.n_live and agg["s"] == self.log.expected_sum()
              and {r["id"]: r["score"] for r in hits}
              == dict(zip(keys.tolist(), self.log.expected_score(keys).tolist())))
        if not ok and not record:
            raise RuntimeError("reader query disagrees with the model during warm-up")
        if record:
            self.attempted += 1
            self.failed += not ok
            self.samples["read"].append(elapsed)
        return elapsed

    def finish(self) -> bool:
        """Stop the stream and compare the replica with the model, row
        for row (one more attempted operation)."""
        from pyspark.sql import functions as F

        self.progress = {p["batchId"]: p["durationMs"] for p in self.query.recentProgress}
        self.query.stop()
        write_model(self.log, f"{self.work}/expected.parquet")
        exp = self.spark.read.parquet(f"{self.work}/expected.parquet")
        rep = self.target.read()
        sid, seq = exp.id.cast("string"), exp.score.cast("string")
        name = F.when(exp.snap, F.concat(F.lit("s"), sid)).otherwise(F.concat(F.lit("n"), seq))
        email = F.when(exp.snap, F.concat(F.lit("u"), sid, F.lit("@s.io"))).otherwise(
            F.concat(F.lit("u"), sid, F.lit("@e"), (exp.score % 97).cast("string"), F.lit(".io")))
        bad = rep.join(exp, rep.id == exp.id, "full_outer").filter(
            rep.id.isNull() | exp.id.isNull() | ~rep.score.eqNullSafe(exp.score)
            | ~rep.name.eqNullSafe(name) | ~rep.email.eqNullSafe(email)
        ).count()
        self.attempted += 1
        self.failed += bad != 0
        return bad == 0

    def end_to_end(self) -> dict:
        s = self.samples
        return {
            "rows_per_s": ROWS / median(s["lag"]),
            "latency_p50_s": median(s["lag"]),
            "read_p50_s": median(s["read"]),
            "pass_s": median(s["pass"]),
        }

    def per_layer(self) -> dict:
        eps = self.epochs
        cores = self.session.cores

        def med(key):
            return median(e[key] for e in eps)

        def med_spark(key):
            return median(e["spark"][key] for e in eps)

        def trigger_overhead(e):
            d = self.progress.get(e["batch"], {})
            return (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3

        return {
            "core.decode_s": med("decode_s"),
            "operators.filter_s": med("filter_s"),
            "operators.collapse_s": med("collapse_s"),
            "operators.collapse_ratio": median(e["keys_out"] / e["rows_in"] for e in eps),
            "sinks.apply_batch_s": med("apply_s"),
            "sinks.merge_write_s": med("merge_write_s"),
            "sinks.rows_written_per_epoch": med_spark("output_records"),
            "sinks.write_amplification": median(
                e["spark"]["output_records"] / e["keys_out"] for e in eps),
            "sinks.files_per_version": med("files"),
            "sinks.bytes_per_version": med("bytes"),
            "sinks.vacuum_s": median(self.tracer.durations("sinks.vacuum")),
            "sinks.snapshot_apply_s": median(self.tracer.durations("sinks.snapshot_apply")),
            "plans.build_s": median(self.tracer.durations("plans.build")),
            "streaming.discovery_s": med("discovery_s"),
            "streaming.trigger_overhead_s": median(trigger_overhead(e) for e in eps),
            "spark.jobs_per_epoch": med_spark("jobs"),
            "spark.stages_per_epoch": med_spark("stages"),
            "spark.tasks_per_epoch": med_spark("tasks"),
            "spark.driver_overhead_s_per_epoch": median(
                e["apply_s"] - e["spark"]["run_s"] / cores for e in eps),
            "spark.shuffle_write_mb_per_epoch": med_spark("shuffle_write_mb"),
            "spark.spill_mb_per_epoch": med_spark("spill_mb"),
            "spark.executor_run_s_per_epoch": med_spark("run_s"),
            "spark.executor_cpu_s_per_epoch": med_spark("cpu_s"),
        }

    def trace_overhead(self) -> float:
        return median(self.samples["traced_lag"]) - median(self.samples["lag"])

    def sample_counts(self) -> str:
        s = self.samples
        return (f"{len(s['lag'])} latency, {len(s['read'])} read samples, "
                f"{len(self.epochs)} traced epochs; "
                f"lag {[round(x, 3) for x in s['lag']]} read {[round(x, 3) for x in s['read']]}")
