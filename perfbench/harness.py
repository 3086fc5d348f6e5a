"""Shared measurement plumbing: spans, Spark status-store counters,
resident memory, the host-speed sentinel, and the session's start and
stop."""

from __future__ import annotations

import json
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

now = time.perf_counter


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written out
    once, when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._t0 = now()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": len(self.spans), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "start": now() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = now() - self._t0
            stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCounters:
    """Deterministic work counters read from Spark's status store over
    py4j (readable with the UI disabled). ``take()`` returns the totals
    of every job that finished since the previous ``take()``."""

    FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_write_mb",
              "spill_mb", "input_records", "output_records")

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.next_job = 0
        self.take()

    def skip(self) -> None:
        """Move past every finished job without reading its stages."""
        from py4j.protocol import Py4JJavaError

        self.bus.waitUntilEmpty()
        while True:
            try:
                self.store.job(self.next_job)
            except Py4JJavaError:
                return
            self.next_job += 1

    def take(self) -> dict:
        from py4j.protocol import Py4JJavaError

        self.bus.waitUntilEmpty()
        out = dict.fromkeys(self.FIELDS, 0)
        while True:
            try:
                job = self.store.job(self.next_job)
            except Py4JJavaError:  # NoSuchElementException: no newer job yet
                break
            self.next_job += 1
            out["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                st = self.store.lastStageAttempt(ids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / 2**20
                out["input_records"] += st.inputRecords()
                out["output_records"] += st.outputRecords()
        return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """One local Spark session built by the program's own factory;
    ``close`` stops Spark and waits for the JVM to exit."""

    def __init__(self, cores: int) -> None:
        from gravity_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = cores
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> tuple[float, float]:
        """(Python driver, JVM) peak resident set in MB."""
        return vm_hwm_mb(), vm_hwm_mb(self.jvm_pid)

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


# Host-speed sentinel: one fixed Spark job (a shuffle and an aggregate)
# that runs no gravity_spark code. The hosts this runs on have slow
# phases lasting minutes, in which every timed metric of a run rises
# together (epoch lag 1.6x its calm value). A workload that records
# sentinel samples reports its timed-region metrics in host-normalised
# units, raw * SENTINEL_REF_S / (median sentinel of the same run), so a
# slow phase moves numerator and denominator together. SENTINEL_REF_S is
# about the sentinel's median on the 4-core VM the bounds were set on.
SENTINEL_REF_S = 0.2


def sentinel_s(spark) -> float:
    t0 = now()
    # an explicit partition count, so the session's shuffle settings
    # (which the program owns) do not change the job
    spark.range(0, 1_000_000, 1, 4).repartition(4, "id").selectExpr("sum(hash(id))").collect()
    return now() - t0
