"""CDC apply-path regression gate: structural check + throughput floor.

Round 7's only real regression (the merge sink silently persisting the
raw batch instead of the collapsed frame, cutting 200×-scale apply
throughput ~4×) was caught only because the BASELINE §5 probe happened
to be re-run by hand. This gate makes that class mechanically
unshippable, with two teeth:

1. STRUCTURAL (primary, deterministic): apply a parquet-file change
   batch of STRUCT_ROWS rows (STRUCT_KEYS keys) to a target holding
   STRUCT_KEYS rows, and assert
   - the raw batch is scanned exactly once: the epoch's jobs read
     exactly STRUCT_ROWS + STRUCT_KEYS records from data sources (base
     scan plus one batch scan, summed from Spark's status store). An
     epoch that re-reads its batch per downstream read (no cache and
     no exchange reuse) reads 2 x STRUCT_ROWS or more;
   - no frame the sink persists is O(batch rows), on the unpartitioned
     apply (which persists nothing: one action reuses its collapse
     exchange) and on the partitioned apply (which persists the
     collapsed frame, O(distinct keys), for its discovery collect).
   Both are immune to host noise: the pre-fix tree (raw-batch persist)
   fails the footprint bound at ANY drift, on ANY host. (r9 calibration
   measured why wall-clock alone cannot be the primary check here:
   interleaved same-day runs gave HEAD 293k-816k rows/s under HEALTHY
   sentinels and the pre-fix tree 122k-536k — the classes OVERLAP under
   this host's sentinel-blind oscillation, so any fixed or drift-scaled
   floor either spuriously fails HEAD or lets a warm regressed run
   through.)

2. WALL-CLOCK floor (catastrophic catch): the 20M-row probe (sf0.1
   events ×200) must clear ``FLOOR / max(drift, 1)`` rows/s on its best
   of 3 attempts, sentinels warmed + min-of-3 (a cold-JVM sentinel
   reads 4-12× and would collapse the effective floor — measured).
   The drift scaling replaces r8's loud skip: the floor grades every
   window instead of skipping the 1.7-1.84× band. Floor 250k: below
   every healthy reading ever recorded (min 293k, degraded-window),
   above the pre-fix tree's cold readings (122-226k) — it catches
   order-of-magnitude breakage (a driver-side loop, a lost broadcast,
   an accidental cartesian) while the structural check carries the
   fine-grained separation.

Every run appends a machine-readable record (best/floor/effective
floor/drift/structural outcome/verdict) to THROUGHPUT_GATE.json — a
JSON list, one record per run, newest last — so degraded-window grades
can be re-audited (r8-advisor ask; the r9 advisor caught the 'w'-mode
write that silently kept only the latest record). Decision
arithmetic is unit-pinned in tests/test_throughput_gate_decision.py;
the structural check is ALSO a standing pytest at 200k rows
(tests/test_merge_persist_footprint.py, which also shows the scan count
catches a second batch scan) so it runs in step 1 of the round gate
too.

Usage: python tools/throughput_gate.py [floor_rows_per_sec] [mult]
Exit 0 = structural pass AND floor cleared; exit 1 = either failed.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
from contextlib import contextmanager
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_FLOOR = 250_000.0
DEFAULT_MULT = 200
ATTEMPTS = 3
STRUCT_ROWS = 1_000_000
STRUCT_KEYS = 1_000


def decide(best_rps: float, floor: float, drift: float) -> tuple[bool, float]:
    """(passed, effective_floor): the floor scales down 1:1 with host
    drift (measured rates scale the same way, so class separation is
    preserved), never up — a faster-than-band host still owes the full
    floor."""
    effective = floor / max(drift, 1.0)
    return best_rps >= effective, effective


@contextmanager
def spied_persists():
    """Yields the list of every DataFrame persisted inside the block."""
    from pyspark.sql.classic.dataframe import DataFrame

    persisted: list = []
    orig = DataFrame.persist

    def spy(self, *a, **k):
        persisted.append(self)
        return orig(self, *a, **k)

    DataFrame.persist = spy
    try:
        yield persisted
    finally:
        DataFrame.persist = orig


_groups = itertools.count()


def input_records(spark, fn) -> int:
    """Records read from data sources by the Spark jobs ``fn`` runs,
    summed over their stages in Spark's status store (jobs found by job
    group, so other threads' jobs are not counted)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    group = f"input_records_{next(_groups)}"
    sc.setJobGroup(group, "input record count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    total = 0
    for job in sc.statusTracker().getJobIdsForGroup(group):
        data = store.job(job)
        ids = data.stageIds()
        missing = 0
        for i in range(ids.size()):
            try:
                total += store.lastStageAttempt(ids.apply(i)).inputRecords()
            except Py4JJavaError as e:
                if "NoSuchElementException" not in e.java_exception.getClass().getName():
                    raise
                missing += 1
        # Past spark.ui.retainedStages the store evicts skipped stages
        # first (under AQE a job's earlier shuffle stages show as
        # skipped); they read nothing. A stage that ran goes only after
        # every skipped one, so more missing stages than skipped ones
        # means records went uncounted.
        if missing > data.numSkippedStages():
            raise RuntimeError(
                f"job {job}: {missing} stages evicted from the status store, "
                f"only {data.numSkippedStages()} skipped; input records unknown"
            )
    return total


def structural_check(
    spark, tmpdir: str, rows: int = STRUCT_ROWS, keys: int = STRUCT_KEYS
) -> tuple[bool, dict]:
    """Apply one REPLACE-engine batch of ``rows`` rows over ``keys``
    keys, read from parquet, to an unpartitioned target holding ``keys``
    rows and to a partitioned one. Passes iff the unpartitioned epoch
    reads exactly ``rows + keys`` source records (one batch scan) and
    every frame either apply persists is O(keys), the partitioned one
    persisting at least one. Returns (passed, measurements)."""
    from gravity_spark.sinks.parquet_merge import ParquetMergeTarget

    src = os.path.join(tmpdir, "struct_batch")
    spark.range(rows).selectExpr(
        f"id % {keys} AS k",
        f"id % {keys} % 4 AS p",
        "id AS v",
        "'update' AS op",
        "id AS seq",
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.schema("k long, p long, v long, op string, seq long").parquet(src)

    flat = ParquetMergeTarget(
        spark, os.path.join(tmpdir, "struct_target"), ["k"], "k long, v long"
    )
    flat.apply_batch(
        spark.range(keys).selectExpr("id AS k", "-1 AS v", "'insert' AS op", "-1 AS seq"),
        epoch_id=0,
    )
    with spied_persists() as flat_persisted:
        scanned = input_records(spark, lambda: flat.apply_batch(batch.drop("p"), epoch_id=1))
    part = ParquetMergeTarget(
        spark,
        os.path.join(tmpdir, "struct_partitioned"),
        ["k"],
        "k long, p long, v long",
        partition_col="p",
    )
    with spied_persists() as part_persisted:
        part.apply_batch(batch, epoch_id=1)
    record = {
        "input_records": scanned,
        "expected_input_records": rows + keys,
        "persisted_rows": [df.count() for df in flat_persisted],
        "partitioned_persisted_rows": [df.count() for df in part_persisted],
        "persist_bound": 2 * keys,
    }
    # tolerance 2x keys: the collapsed frame is exactly ``keys`` rows;
    # anything near batch size is the regression
    persisted = record["persisted_rows"] + record["partitioned_persisted_rows"]
    passed = (
        scanned == rows + keys
        and record["partitioned_persisted_rows"] != []
        and all(c <= 2 * keys for c in persisted)
    )
    return passed, record


def main() -> int:
    import tempfile

    from bench import EXPECTED_BASELINE_SEC, _sentinel_sec
    from gravity_spark.session import get_spark
    from tools.throughput_probe import run_probe

    FLOOR = float(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_FLOOR
    MULT = int(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_MULT

    spark = get_spark("throughput_gate")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session before the first sentinel: a cold-JVM sentinel
    # reads 4-12x its honest value (codegen compile), which through the
    # drift-scaled floor would let ANY tree pass (measured: drift 11.9
    # -> 42k effective floor on the negative control).
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    with tempfile.TemporaryDirectory(prefix="tp_gate_") as td:
        struct_ok, struct = structural_check(spark, td)
    print(
        f"structural: {struct['input_records']:,} source records read "
        f"(expected {struct['expected_input_records']:,}); persisted row "
        f"counts {struct['persisted_rows']} unpartitioned, "
        f"{struct['partitioned_persisted_rows']} partitioned "
        f"(bound {struct['persist_bound']}) -> {'pass' if struct_ok else 'FAIL'}",
        flush=True,
    )

    drifts = [
        min(_sentinel_sec(spark) for _ in range(3)) / EXPECTED_BASELINE_SEC
    ]
    best = 0.0
    for i in range(ATTEMPTS):
        res = run_probe(spark, "/root/testdata/sf0.1", MULT)
        rps = res["value"]
        best = max(best, rps)
        print(
            f"attempt {i + 1}/{ATTEMPTS}: {rps:,.0f} rows/s "
            f"({res['input_rows']:,} rows in {res['elapsed_sec']}s)",
            flush=True,
        )
        if rps >= FLOOR:
            break  # full floor cleared — no more attempts needed
        drifts.append(
            min(_sentinel_sec(spark) for _ in range(3)) / EXPECTED_BASELINE_SEC
        )
    drift = max(drifts)
    floor_ok, effective = decide(best, FLOOR, drift)
    passed = struct_ok and floor_ok
    record = {
        "gate": "cdc_apply_path",
        "structural_pass": struct_ok,
        "structural_input_records": struct["input_records"],
        "structural_expected_input_records": struct["expected_input_records"],
        "structural_persisted_rows": struct["persisted_rows"],
        "structural_partitioned_persisted_rows": struct["partitioned_persisted_rows"],
        "structural_bound": struct["persist_bound"],
        "best_rows_per_sec": round(best),
        "floor": round(FLOOR),
        "effective_floor": round(effective),
        "sentinel_drift": round(drift, 3),
        "mult": MULT,
        "verdict": "pass" if passed else "fail",
        # audit key: without a stamp a history of records can't be
        # matched back to gate transcripts / host windows
        "utc": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    audit_path = os.path.join(here, "THROUGHPUT_GATE.json")
    try:
        with open(audit_path) as f:
            history = json.load(f)
        if isinstance(history, dict):  # pre-r10 single-record format
            history = [history]
    except (OSError, ValueError):
        history = []
    history.append(record)
    with open(audit_path, "w") as f:
        json.dump(history, f, indent=1, sort_keys=True)
    print(json.dumps(record))
    if passed:
        print(
            f"THROUGHPUT GATE: pass (structural: one batch scan, O(keys) footprint; "
            f"{best:,.0f} >= {effective:,.0f} rows/s"
            + (
                f"; floor drift-scaled {FLOOR:,.0f}/{drift:.2f}x)"
                if effective < FLOOR
                else ")"
            )
        )
        return 0
    why = []
    if not struct_ok:
        why.append(
            f"structural check {struct} failed: the batch is scanned more "
            "than once, or a persisted footprint exceeds the O(keys) bound "
            "(the r7 raw-persist regression class)"
        )
    if not floor_ok:
        why.append(
            f"best {best:,.0f} < drift-scaled floor {effective:,.0f} rows/s "
            f"(raw floor {FLOOR:,.0f}, sentinel {drift:.2f}x)"
        )
    print("THROUGHPUT GATE: FAIL — " + "; ".join(why))
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
