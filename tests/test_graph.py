"""Degree-oriented triangle primitives (functions/graph.py): exact
counts on known graphs, orientation invariants, and the wedge bound
that makes the algorithm survive power-law hubs."""

import pytest
from pyspark.sql import functions as F

from gravity_spark.functions import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "u long, v long"
    )


def test_triangle_count_known_graphs(spark):
    # K4 has C(4,3)=4 triangles
    k4 = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    assert G.triangle_count(k4).collect()[0]["n_triangles"] == 4
    # a path has none
    path = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert G.triangle_count(path).collect()[0]["n_triangles"] == 0
    # two triangles sharing an edge
    bowtie = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)])
    assert G.triangle_count(bowtie).collect()[0]["n_triangles"] == 2


def test_star_graph_generates_zero_wedges(spark):
    # hub 0 with 40 leaves: id-orientation at the hub would enumerate
    # C(40,2)=780 wedges; degree orientation points every edge INTO the
    # hub (leaves have degree 1), so the wedge count is 0 — and in
    # general ≤ Σ_edges min(d_u, d_v).
    star = _edges(spark, [(0, i) for i in range(1, 41)])
    oriented = G.degree_orient(star)
    # every edge must point leaf → hub
    assert all(r["hi"] == 0 for r in oriented.collect())
    n_wedges = G.oriented_wedges(oriented).count()
    assert n_wedges == 0
    deg = {r["x"]: r["d"] for r in G.degrees(star).collect()}
    bound = sum(min(deg[u], deg[v]) for u, v in [(0, i) for i in range(1, 41)])
    assert n_wedges <= bound
    assert G.triangle_count(star).collect()[0]["n_triangles"] == 0


def test_wedge_bound_on_hub_plus_clique(spark):
    # power-law-ish: a K5 clique plus a hub fanned to 30 extra leaves.
    # Wedges must respect Σ min(d_u, d_v), the forward-algorithm bound.
    pairs = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    pairs += [(0, i) for i in range(5, 35)]
    g = _edges(spark, pairs)
    deg = {r["x"]: r["d"] for r in G.degrees(g).collect()}
    bound = sum(min(deg[u], deg[v]) for u, v in pairs)
    n_wedges = G.oriented_wedges(G.degree_orient(g)).count()
    assert n_wedges <= bound
    assert G.triangle_count(g).collect()[0]["n_triangles"] == 10  # C(5,3)


def test_orientation_is_total_and_unique(spark):
    g = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    o = G.degree_orient(g)
    assert o.count() == 4  # one directed edge per undirected edge
    # no edge appears in both directions
    o1, o2 = o.alias("o1"), o.alias("o2")
    both = o1.join(
        o2,
        (F.col("o1.lo") == F.col("o2.hi")) & (F.col("o1.hi") == F.col("o2.lo")),
    )
    assert both.count() == 0


def test_kcore_fixpoint_chain_needs_many_rounds(spark):
    # a 12-vertex path: every round peels only the two endpoints
    # (interior degree 2 survives k=2 until its neighbor goes), so the
    # 2-core fixpoint needs 6 rounds — beyond any fixed-4 peel — and
    # ends empty (a path has no 2-core)
    chain = _edges(spark, [(i, i + 1) for i in range(11)])
    core, rounds = G.kcore(chain, 2)
    assert rounds > 4
    assert core.count() == 0


def test_kcore_fixpoint_preserves_core_and_stops(spark):
    # K4 clique (a genuine 2-core AND 3-core) with a pendant path:
    # fixpoint strips the path, keeps the clique intact, and stops
    # as soon as a round removes nothing
    pairs = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    pairs += [(3, 4), (4, 5), (5, 6)]
    core, rounds = G.kcore(_edges(spark, pairs), 2)
    got = {(r["u"], r["v"]) for r in core.collect()}
    assert got == {(u, v) for u in range(4) for v in range(u + 1, 4)}
    # already-converged input: one confirming round, no change
    core2, rounds2 = G.kcore(core, 2)
    assert rounds2 == 1
    assert core2.count() == 6


def _checkpoints_read(df):
    """RDD ids of the checkpoints ``df``'s plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def _both_ways(e):
    return e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


# every loop on the round driver, run over a 12-vertex path (several
# rounds each)
_LOOPS = {
    "connected_components": lambda e: G.connected_components(
        e.select(F.col("u").alias("id_a"), F.col("v").alias("id_b")),
        e.select(F.col("u").alias("doc_id"))
        .union(e.select(F.col("v").alias("doc_id")))
        .distinct(),
    ),
    "connected_components_bipartite": lambda e: G.connected_components_bipartite(
        e.select(F.col("u").alias("doc_id"), F.col("v").cast("string").alias("bucket"))
        .union(e.select("v", F.col("v").cast("string")))
    ),
    "kcore": lambda e: G.kcore(e, 2)[0],
    "label_propagation": lambda e: G.label_propagation(e, 3),
    "pagerank": lambda e: G.pagerank(_both_ways(e), 3),
}


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_round_driver_no_storage_growth(spark, loop):
    """A loop must hold ONE round's checkpoint in executor storage, not
    one per round, and free its loop-invariant frames — and the sweep
    must free exactly the loop's own blocks, never a block persisted
    concurrently by another user of the session."""
    sc = spark.sparkContext
    # a bystander persisted frame sharing the session
    bystander = spark.range(100).selectExpr("id as u", "id+1 as v").localCheckpoint()
    assert bystander.count() == 100

    def persistent_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    from gravity_spark.functions.graph import _checkpoint_rdd_id

    bystander_id = _checkpoint_rdd_id(bystander)
    before = persistent_ids()
    chain = _edges(spark, [(i, i + 1) for i in range(11)])
    out = _LOOPS[loop](chain)
    after = persistent_ids()
    # the new persistent RDDs are exactly the checkpoints the result
    # reads. (Assert on the ADDED set and the bystander's specific id —
    # NOT `before <= after`: in a full-suite session Spark's
    # ContextCleaner may concurrently unpersist stale RDDs from earlier
    # tests, which is not the loop's sweep and made the set-inclusion
    # form flaky.)
    read = _checkpoints_read(out)
    assert read and after - before == read
    assert out.count() > 0 or loop == "kcore"  # a path has no 2-core
    # the bystander's blocks survived the sweep (still recomputable)
    assert bystander_id in after
    assert bystander.count() == 100


def test_kcore_round_cap(spark):
    # max_rounds caps the loop even when the fixpoint is further out
    chain = _edges(spark, [(i, i + 1) for i in range(11)])
    core, rounds = G.kcore(chain, 2, max_rounds=2)
    assert rounds == 2
    assert core.count() > 0  # not yet converged — cap stopped it
