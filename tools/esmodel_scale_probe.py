"""EsModel incremental-maintenance scale probe (the §10 graph probe's
sibling for the document-index family).

Measures the two claims behind `sinks/esmodel.py::EsModelTarget`'s
100 TB story (reference: pkg/outputs/esmodel/esmodel.go:297-492, where
a child change updates only its parent doc via an ES painless script):

  1. REASSEMBLY IS O(touched), not O(index): a fixed-size child delta
     against a growing base reassembles a flat number of parent docs,
     via a broadcast left-semi join of the changed-parent keyset
     against the state tables — the base is scanned (column-pruned)
     but never reshuffled.
  2. The PERSISTENCE split is explicit: in this sandbox the doc/state
     stores ride unpartitioned ParquetMergeTargets, so the merge step
     rewrites the store (O(base) write I/O per batch — the stand-in's
     cost, reported separately as merge_s). Against the real backend
     the write path is the bulk upsert of exactly the `touched` docs
     (elasticsearch.go:116-200) — O(touched) — so the engine-side
     number that must stay flat here is reassembly, not the parquet
     rewrite.

Method: replicate sf0.01 customer/orders mult× with replica-disjoint
keys, build the full index (epoch 1), then apply ONE fixed 2,000-order
delta over 1,000 rep-0 parents (epoch 2). Report per mult: base rows,
build time, delta-epoch wall time, touched-doc count, isolated
reassembly time (same plan as apply_batch's, noop-sunk), and shuffle
bytes during the delta epoch.

Usage:
    python tools/esmodel_scale_probe.py [sf_dir] [mult [mult ...]]
    # default: /root/testdata/sf0.01 at 1, 10, 50
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.probe_spark import probe_session, shuffle_write_bytes

_OFF = 10_000_000


def _replicate(df, cols, mult):
    if mult == 1:
        return df
    reps = df.sparkSession.range(mult).select(F.col("id").alias("rep"))
    out = df.crossJoin(reps)
    for c in cols:
        out = out.withColumn(c, F.col(c) + F.col("rep") * F.lit(_OFF))
    return out.drop("rep")


def _as_changes(df, seq_col):
    return df.withColumn("op", F.lit("insert")).withColumn(
        "seq", F.col(seq_col).cast("long")
    )


def probe(sf_dir: str, mult: int) -> dict:
    from gravity_spark.sinks.esmodel import EsModelTarget

    spark = probe_session()
    cust = _replicate(
        spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_name"
        ),
        ["c_custkey"],
        mult,
    )
    orders = _replicate(
        spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        ),
        ["o_orderkey", "o_custkey"],
        mult,
    )
    scratch = tempfile.mkdtemp(prefix="esmodel_probe_")
    t = EsModelTarget(
        spark,
        scratch,
        parent_table="customer",
        parent_key="c_custkey",
        parent_schema_ddl="c_custkey long, c_name string",
        one_many=[{
            "name": "orders",
            "table": "orders",
            "pk": "o_orderkey",
            "join-key": "o_custkey",
            "order-key": "o_orderkey",
            "schema_ddl": "o_orderkey long, o_custkey long, cents long",
        }],
        track_stats=True,  # the probe reads last_reassembled
    )
    try:
        t0 = time.time()
        t.apply_batch(
            {
                "customer": _as_changes(cust, "c_custkey"),
                "orders": _as_changes(orders, "o_orderkey"),
            },
            epoch_id=1,
        )
        build_s = time.time() - t0
        base_docs = t.docs().count()

        # fixed delta regardless of mult: 2 new orders for each of the
        # 1,000 smallest rep-0 customers; new orderkeys sit above every
        # replica's keyspace so they are genuine inserts
        top = _OFF * (mult + 1)
        delta = (
            spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select("c_custkey")
            .orderBy("c_custkey")
            .limit(1000)
            .select(
                F.col("c_custkey").alias("o_custkey"),
                F.explode(F.array(F.lit(0), F.lit(1))).alias("__i"),
            )
            .select(
                (F.lit(top) + F.col("o_custkey") * 2 + F.col("__i")).alias(
                    "o_orderkey"
                ),
                "o_custkey",
                (F.col("o_custkey") * 7 + F.col("__i")).cast("long").alias("cents"),
            )
            .localCheckpoint()  # delta fixed before timing starts
        )

        # isolated reassembly: the same touched-keyset broadcast
        # left-semi plan apply_batch runs, noop-sunk (state merge and
        # doc upsert excluded)
        keys = delta.select(F.col("o_custkey").cast("string").alias("__k")).distinct()
        ps, os_ = t.state["customer"].read(), t.state["orders"].read()
        r0, sw0 = time.time(), shuffle_write_bytes(spark)
        pt = ps.join(
            F.broadcast(keys),
            ps["c_custkey"].cast("string") == F.col("__k"),
            "left_semi",
        )
        ot = os_.join(
            F.broadcast(keys),
            os_["o_custkey"].cast("string") == F.col("__k"),
            "left_semi",
        )
        from gravity_spark.sinks.esmodel import assemble_docs

        assemble_docs(
            pt,
            "c_custkey",
            one_many=[{
                "name": "orders",
                "df": ot,
                "join-key": "o_custkey",
                "order-key": "o_orderkey",
            }],
        ).write.format("noop").mode("overwrite").save()
        reassembly_s = time.time() - r0
        reassembly_mb = (shuffle_write_bytes(spark) - sw0) / 1e6

        d0, sw1 = time.time(), shuffle_write_bytes(spark)
        t.apply_batch({"orders": _as_changes(delta, "o_orderkey")}, epoch_id=2)
        delta_s = time.time() - d0
        delta_mb = (shuffle_write_bytes(spark) - sw1) / 1e6

        return {
            "mult": mult,
            "base_docs": base_docs,
            "base_orders": orders.count(),
            "build_s": round(build_s, 2),
            "touched_docs": t.last_reassembled,
            "reassembly_s": round(reassembly_s, 2),
            "reassembly_shuffle_mb": round(reassembly_mb, 2),
            "delta_epoch_s": round(delta_s, 2),
            "delta_epoch_shuffle_mb": round(delta_mb, 2),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    mults = [int(x) for x in sys.argv[2:]] or [1, 10, 50]
    for m in mults:
        print(json.dumps(probe(sf_dir, m)), flush=True)


if __name__ == "__main__":
    main()
