"""Invariants for position-based attribution and incremental
components.

- attribution_position_based: per-purchase allocations sum EXACTLY to
  the purchase cents; the 40/20/40 structure holds (n>=3: first+last
  each get ~40% within a penny, middles equal within a penny); every
  touch precedes its purchase and follows the previous one.
- graph_components_incremental: labels are a valid components
  assignment — every shared-part pair of customers has equal labels,
  each label is the min custkey of its component, and the incremental
  result equals a full one-shot recompute via the same helper.
"""

from collections import defaultdict

from pyspark.sql import functions as F

from gravity_spark.queries import REGISTRY, T


def test_attribution_exact_sums_and_shape(spark, sf_dir):
    rows = REGISTRY["attribution_position_based"].spark(spark, sf_dir).collect()
    ev = T(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r)
    purchase_cents = {}
    groups = {}  # pid -> ordered touch ids
    for u, es in by_user.items():
        es.sort(key=lambda r: (r["ts"], r["event_id"]))
        pending = []
        for r in es:
            if r["event_type"] in ("click", "view"):
                pending.append(r["event_id"])
            elif r["event_type"] == "purchase":
                purchase_cents[r["event_id"]] = r["cents"]
                groups[r["event_id"]] = list(pending)
                pending = []
    alloc = defaultdict(dict)
    for r in rows:
        alloc[r["purchase_id"]][r["touch_id"]] = r["alloc_cents"]
    for pid, touches in groups.items():
        got = alloc.get(pid, {})
        if not touches:
            assert got == {}
            continue
        assert set(got) == set(touches)
        total = purchase_cents[pid]
        assert sum(got.values()) == total
        n = len(touches)
        if n >= 3:
            tw = 5 * (n - 2)
            first, last = touches[0], touches[-1]
            for t in touches:
                w = 2 * (n - 2) if t in (first, last) else 1
                exact = total * w / tw
                assert exact - 1 < got[t] < exact + 1
    # every allocated purchase must come from the replay
    assert set(alloc) <= set(groups)


def test_incremental_equals_full_recompute(spark, sf_dir):
    from gravity_spark.functions.graph import connected_components_bipartite

    inc = {
        r["custkey"]: r["component"]
        for r in REGISTRY["graph_components_incremental"].spark(spark, sf_dir).collect()
    }
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    cp = (
        li.join(orders, "l_orderkey")
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    deg = cp.groupBy("pk").agg(F.count(F.lit(1)).alias("d"))
    kept = cp.join(deg.filter(F.col("d") <= 60).select("pk"), "pk")
    full = {
        r["doc_id"]: r["component"]
        for r in connected_components_bipartite(
            kept.select(
                F.col("ck").alias("doc_id"),
                F.col("pk").cast("string").alias("bucket"),
            )
        ).collect()
    }
    assert inc == full
    # labels are component minima
    members = defaultdict(list)
    for ck, comp in inc.items():
        members[comp].append(ck)
    for comp, cks in members.items():
        assert comp == min(cks)
