"""Job/stage/time profile of the connected-components fixpoint family
(r10 verdict task 1): runs the dedup_components label core N times on
an idle host, printing wall time, Spark job count, and completed-stage
count per run — the before/after evidence for per-round driver
round-trip work. Run:

    python tools/profile_fixpoint.py [sf_dir] [n_runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from gravity_spark.functions.dedup import near_dup_components
    from gravity_spark.queries import T
    from gravity_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("profile_fixpoint")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    for it in range(n_runs):
        j0 = sc._jsc.sc().dagScheduler().nextJobId()
        t0 = time.time()
        near_dup_components(T(spark, sf_dir, "documents")).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.time() - t0
        j1 = sc._jsc.sc().dagScheduler().nextJobId()
        n_stages = 0
        for jid in range(j0, j1):
            info = tracker.getJobInfo(jid)
            if info is not None:
                n_stages += len(info.stageIds)
        print(
            f"run {it}: {dt:6.2f}s  jobs={j1 - j0}  stages={n_stages}",
            flush=True,
        )
        spark.catalog.clearCache()
        jmap = sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
        sc._jvm.System.gc()


if __name__ == "__main__":
    main()
