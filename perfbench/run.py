"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds one local Spark session with the
program's own factory, sets the workload up from ``--seed``, measures for
``--seconds``, checks the outputs, and prints one JSON line whose metrics
are the ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``). Workloads, sizes and the reasons
for them are in perfbench/RATIONALE.md.

Everything the run writes goes under ``.perfbench/`` in the repository
root; span traces of traced runs are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# heap pinned below this machine class's memory (the program's own
# default is 32g); peak RSS is only comparable across runs under one cap
DRIVER_MEM = "2g"
WORKLOADS = ("cdc_tail", "registry_stride")


def parse_args():
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "gravity_spark", "__init__.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from a gravity-spark checkout (gravity_spark/ and "
              "BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{base}/traces", exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=f"{work}/tmp",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # after the factory's own settings: JVM temp files stay in the
        # work directory, and the initial heap is the maximum heap, so
        # early and late epochs see the same collector sizing
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false --conf "
            f"'spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEM}'"
            " pyspark-shell"),
        # fewer glibc malloc arenas: the JVM's native footprint then
        # depends less on which threads happened to allocate first
        MALLOC_ARENA_MAX="2",
    )
    sys.path.insert(0, ROOT)

    from harness import SENTINEL_REF_S, Session, Tracer, median, now

    tracer = Tracer(bool(args.trace))
    session = None
    try:
        session = Session(cores)
        if args.workload == "registry_stride":
            from registry import RegistryStride as Workload
        else:
            from cdc import CdcTail as Workload
        wl = Workload(args.seed, session, tracer, work)
        with tracer.span("setup"):
            wl.setup()
        setup_s = now() - T_START - getattr(wl, "oracle_s", 0.0)

        # traced runs alternate untraced and traced rounds, so the
        # tracing overhead is measured inside one session
        start, i = now(), 0
        while now() - start < args.seconds or (args.trace and i < 2):
            wl.round(traced=bool(args.trace) and i % 2 == 1)
            i += 1
        rss = session.peak_rss_mb()
        correct = wl.finish()
    finally:
        if session is not None:
            session.close()
        if args.trace:
            tracer.write(f"{base}/traces/{args.workload}-seed{args.seed}.json")
        shutil.rmtree(work, ignore_errors=True)

    sentinel = median(wl.sentinels)
    if args.trace:
        values = wl.per_layer()
        values["trace.overhead_s"] = wl.trace_overhead()
        values["host.sentinel_s"] = sentinel
        names = spec["per_layer"]
    else:
        raw = wl.end_to_end()
        print(f"perfbench: raw {raw}, sentinel {sentinel:.4f} s", file=sys.stderr)
        # timed-region metrics in host-normalised units (harness.SENTINEL_REF_S);
        # set-up, dominated by JVM start and cold code, is reported raw
        host = sentinel / SENTINEL_REF_S
        values = {k: v * host if k == "rows_per_s" else v / host for k, v in raw.items()}
        values.update(setup_s=setup_s, peak_rss_mb=sum(rss))
        names = spec["end_to_end"]
    print(f"perfbench: {args.workload} seed {args.seed}: {i} rounds, peak RSS "
          f"python {rss[0]:.0f} MB + JVM {rss[1]:.0f} MB; {wl.sample_counts()}",
          file=sys.stderr)
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload does not exercise reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"correct": bool(correct and wl.failed == 0),
                      "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
