"""``registry_stride``: warm passes over a frozen sample of the query
registry, at sf0.1 on tables generated from the seed.

The sample is every 46th registered query, in registration order,
starting with the first, as registered when the benchmark was written.
It is frozen by name (with each query's family) so that splitting or
growing the registry does not change the workload. Each query is
materialised with the noop sink, and between queries the session gets
the cleanup ``bench.py`` applies (clear the cache, unpersist every RDD,
full GC).

Set-up runs one checking pass, which collects every result and compares
it with the query's ``oracle_sql()`` on DuckDB using the comparison in
``tools/check_oracle.py``, then ``WARMUP_PASSES`` untimed noop passes.
In untraced timed passes the host-speed sentinel runs after each query,
outside the query's time.
"""

from __future__ import annotations

import os
import sys
from contextlib import nullcontext

from datagen import write_registry_tables
from harness import SparkCounters, median, now, sentinel_s

SF = 0.1
QUERIES = [
    ("q1_pricing_summary", "tpch"),
    ("salted_skew_join", "other"),
    ("cube_events", "other"),
    ("train_val_test_split", "other"),
    ("cdc_scd2_history", "cdc"),
    ("orders_cohort_ltv", "other"),
    ("streaming_sliding_window_counts", "streaming"),
]
WARMUP_PASSES = 1
FAMILIES = ("tpch", "cdc", "dedup", "graph", "text", "streaming", "other")


class RegistryStride:
    def __init__(self, seed, session, tracer, work) -> None:
        self.seed = seed
        self.session = session
        self.spark = session.spark
        self.tracer = tracer
        self.data = f"{work}/sf{SF}"
        self.attempted = self.failed = 0
        self.passes: list[dict] = []
        self.oracle_s = 0.0
        self.rows_per_pass = None
        self.sentinels: list[float] = []

    def setup(self) -> None:
        from gravity_spark.queries import REGISTRY

        self.registry = REGISTRY
        missing = [q for q, _ in QUERIES if q not in REGISTRY]
        if missing:
            raise KeyError(f"frozen registry_stride queries not registered: {missing}")
        write_registry_tables(self.data, self.seed, SF)
        self.counters = SparkCounters(self.spark)
        self._check_pass()
        self.counters.skip()
        for _ in range(WARMUP_PASSES):
            self.round(record=False)
        for _ in range(3):
            sentinel_s(self.spark)

    def _cleanup(self) -> None:
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        jmap = sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
        sc._jvm.System.gc()

    def _check_pass(self) -> None:
        """Checking pass: collect each query and compare it with its DuckDB
        oracle. A query that raises or disagrees counts as failed."""
        import duckdb

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"))
        from check_oracle import TABLES, canon, type_mismatches, values_equal

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        for name, _ in QUERIES:
            self.attempted += 1
            try:
                sdf = self.registry[name].spark(self.spark, self.data)
                s_cols, s_rows = list(sdf.columns), [tuple(r) for r in sdf.collect()]
                dtypes = sdf.dtypes
            except Exception as e:  # a raising query is a failed operation
                print(f"registry_stride: {name} raised {e!r}", file=sys.stderr)
                self.failed += 1
                continue
            finally:
                self._cleanup()
            t0 = now()
            sql = self.registry[name].oracle
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
            res = con.execute(sql)
            d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
            fatal, _ = type_mismatches(dtypes, [(d[0], d[1]) for d in desc])
            sc, sr = canon(s_rows, s_cols)
            dc, dr = canon(d_rows, d_cols)
            ok = (not fatal and sc == dc and len(sr) == len(dr) and all(
                values_equal(a, b) for x, y in zip(sr, dr) for a, b in zip(x, y)))
            if not ok:
                print(f"registry_stride: {name} disagrees with its oracle", file=sys.stderr)
            self.failed += not ok
            self.oracle_s += now() - t0
        con.close()

    def round(self, record: bool = True, traced: bool = False) -> None:
        """One warm pass over the sample."""
        span = self.tracer.span if traced else (lambda *a, **k: nullcontext())
        # counted passes run no sentinel, so their Spark counters hold
        # only the queries' own jobs
        count = traced or self.rows_per_pass is None
        sentinel = record and not count
        p = {"traced": traced, "queries": [], "families": dict.fromkeys(FAMILIES, 0.0),
             "persisted": 0}
        if count:
            self.counters.skip()
        with span("registry.pass"):
            for name, family in QUERIES:
                t0 = now()
                with span("registry.build", query=name):
                    df = self.registry[name].spark(self.spark, self.data)
                t1 = now()
                with span("registry.execute", query=name):
                    df.write.format("noop").mode("overwrite").save()
                t2 = now()
                if traced:
                    p["persisted"] += self.spark.sparkContext._jsc.getPersistentRDDs().size()
                with span("registry.cleanup", query=name):
                    self._cleanup()
                t3 = now()
                p["queries"].append((t1 - t0, t2 - t1, t3 - t2))
                p["families"][family] += t3 - t0
                if sentinel:
                    self.sentinels.append(sentinel_s(self.spark))
        p["wall_s"] = sum(map(sum, p["queries"]))
        if count:
            p["spark"] = self.counters.take()
            self.rows_per_pass = p["spark"]["input_records"]
        else:
            self.counters.skip()
        if traced:
            rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            p["live_heap_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if record:
            self.passes.append(p)

    def finish(self) -> bool:
        return self.failed == 0

    def _untraced(self):
        return [p for p in self.passes if not p["traced"]]

    def end_to_end(self) -> dict:
        """Medians over the timed passes. ``pass_s`` is composed query by
        query: the sum over the sample of each query's median wall time
        (build, execute and cleanup), so one slow query in one pass does
        not move it. A query's latency is build plus execute; per pass,
        ``latency`` is the mean over the sample and ``read`` the mean over
        its batch queries (all but the streaming family), which only read
        tables."""
        passes = self._untraced()
        per_query = list(zip(*(p["queries"] for p in passes)))
        pass_s = sum(median(sum(t) for t in runs) for runs in per_query)
        reads = [i for i, (_, fam) in enumerate(QUERIES) if fam != "streaming"]

        def lat(q):
            return q[0] + q[1]

        return {
            "rows_per_s": self.rows_per_pass / pass_s,
            "latency_p50_s": median(
                sum(map(lat, p["queries"])) / len(QUERIES) for p in passes),
            "read_p50_s": median(
                sum(lat(p["queries"][i]) for i in reads) / len(reads) for p in passes),
            "pass_s": pass_s,
        }

    def per_layer(self) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        cores = self.session.cores

        def med(fn):
            return median(fn(p) for p in traced)

        out = {
            "registry.build_s": med(lambda p: sum(q[0] for q in p["queries"])),
            "registry.execute_s": med(lambda p: sum(q[1] for q in p["queries"])),
            "registry.cleanup_s": med(lambda p: sum(q[2] for q in p["queries"])),
            "spark.jobs_per_pass": med(lambda p: p["spark"]["jobs"]),
            "spark.stages_per_pass": med(lambda p: p["spark"]["stages"]),
            "spark.driver_overhead_s_per_pass": med(
                lambda p: p["wall_s"] - p["spark"]["run_s"] / cores),
            "spark.executor_run_s_per_pass": med(lambda p: p["spark"]["run_s"]),
            "spark.executor_cpu_s_per_pass": med(lambda p: p["spark"]["cpu_s"]),
            "spark.shuffle_write_mb_per_pass": med(lambda p: p["spark"]["shuffle_write_mb"]),
            "spark.spill_mb_per_pass": med(lambda p: p["spark"]["spill_mb"]),
            "spark.persisted_rdds_after_query": med(lambda p: p["persisted"]),
            "jvm.live_heap_mb": med(lambda p: p["live_heap_mb"]),
        }
        for fam in FAMILIES:
            out[f"registry.{fam}.wall_s"] = med(lambda p: p["families"][fam])
        return out


    def trace_overhead(self) -> float:
        traced = [p["wall_s"] for p in self.passes if p["traced"]]
        return median(traced) - median(p["wall_s"] for p in self._untraced())

    def sample_counts(self) -> str:
        passes = self._untraced()
        return (f"{len(passes)} untraced passes, "
                f"{sum(len(p['queries']) for p in passes)} query samples; "
                f"pass_s {[round(p['wall_s'], 3) for p in passes]}")
