"""Keyspace-gap scale probe: the measured numbers behind `_gap_runs`'
bounded-window claim (the shape that retired the one growth-capable
explain_audit allowlist entry in round 6 — BASELINE.md §12).

Synthesizes a dense 0..N-1 keyspace with deterministic holes (every
key where (2654435761·k mod p) mod 97 == 0 is dropped — the same
simulated-loss rule `orders_keyspace_gaps` grades), then runs the
6-level fan-4096 recursive sharding and reports:

  - wall time and shuffle bytes per multiplier (claim: ~linear in keys,
    never superlinear — every level is one partitioned window + one agg
    over a frame 4096× smaller than the last);
  - the ROW COUNT each level's window actually sees (claim: level L
    holds ≤ ⌈N/4096^L⌉ summary rows, so the deepest occupied level is
    metadata-sized and NO task ever holds a keys-proportional seam set
    — the failure the old two-level shape had at sf100k);
  - gap-total exactness: Σ missing == the number of dropped keys
    strictly inside the surviving range (graded in-probe).

Usage:
    python tools/keyspace_scale_probe.py [n_keys [mult ...]]
    # default: 1_500_000 base at 1, 10, 100
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.probe_spark import probe_session, shuffle_write_bytes

_HP = 2147483647
_HA = 2654435761


def probe(spark, n_keys: int) -> dict:
    from gravity_spark.queries import _gap_runs

    keys = (
        spark.range(n_keys)
        .select(F.col("id").alias("k"))
        .filter((F.lit(_HA) * (F.col("k") % _HP)) % _HP % 97 != 0)
    )
    # level-L window input sizes: level 0 sees the keys themselves;
    # level L>0 sees the (shard, lo, hi) summaries — one row per
    # occupied fan^L-wide shard
    level_rows = [keys.count()]
    cur = keys.select(F.col("k").alias("s"))
    for _ in range(5):
        cur = cur.groupBy(F.expr("s div 4096").alias("s")).agg(
            F.count(F.lit(1)).alias("c")
        )
        level_rows.append(cur.count())

    sw0, t0 = shuffle_write_bytes(spark), time.time()
    gaps = _gap_runs(keys)
    total_missing = gaps.agg(
        F.sum(F.col("gap_end") - F.col("gap_start") + 1).alias("m"),
        F.count(F.lit(1)).alias("runs"),
    ).collect()[0]
    t1, sw1 = time.time(), shuffle_write_bytes(spark)

    # exactness: dropped keys strictly inside the surviving range
    lohi = keys.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).collect()[0]
    expected = (
        spark.range(n_keys)
        .select(F.col("id").alias("k"))
        .filter((F.lit(_HA) * (F.col("k") % _HP)) % _HP % 97 == 0)
        .filter((F.col("k") > lohi["lo"]) & (F.col("k") < lohi["hi"]))
        .count()
    )
    return {
        "keys": level_rows[0],
        "level_window_rows": level_rows,  # rows level L's window sorts
        "gap_runs": total_missing["runs"],
        "missing_total": int(total_missing["m"]),
        "exact": bool(int(total_missing["m"]) == expected),
        "sec": round(t1 - t0, 2),
        "shuffle_mb": round((sw1 - sw0) / 1e6, 1) if sw1 >= 0 else None,
    }


def main() -> None:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 1_500_000
    mults = [int(m) for m in sys.argv[2:]] or [1, 10, 100]
    spark = probe_session()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    for mult in mults:
        rec = {"mult": mult}
        rec.update(probe(spark, base * mult))
        print(json.dumps(rec), flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
