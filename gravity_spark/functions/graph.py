"""Graph operators: the fixpoint loops and degree-oriented triangles.

The iterative operators — connected components (pairwise and
bipartite), k-core peeling, label propagation and PageRank — each run
on one round driver, ``_Rounds``: it scopes shuffle partitions to the
graph, gates broadcast hints on a measured row count, checkpoints each
round and frees the round it supersedes by exact RDD id.

Triangle counting via wedge closure is join-shaped and Spark-native,
but the wedge count is Σ outdeg² — under power-law skew an id-oriented
hub generates O(d_max²) wedges. The standard fix (Chiba–Nishizeki /
Schank's forward algorithm, also the GraphX/Giraph production shape) is
DEGREE ORIENTATION: direct every undirected edge from its
lower-(degree, id) endpoint to the higher one. Every vertex then has
out-degree O(√m), so Σ outdeg² is O(m^1.5) worst-case and near-linear
on real power-law graphs, and each triangle is counted exactly once at
its ≺-smallest vertex.

Reference parity note: gravity (the CDC engine) has no graph operators;
these back the co-purchase analytics battery (queries.py::graph_*), the
near-dup clustering of functions/dedup.py and entity resolution, which
SURVEY §2.5 carries as engine-completeness queries.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window, functions as F


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """The RDD id persisted by this DataFrame's localCheckpoint(): the
    checkpointed Dataset's analyzed plan is a LogicalRDD wrapping
    exactly the RDD the checkpoint call persisted. Tracking THIS id —
    instead of diffing the SparkContext-GLOBAL persistent-RDD set —
    means an iterative loop's cleanup sweep can never unpersist blocks
    persisted concurrently by another query sharing the session (for a
    localCheckpointed frame that would make it unrecomputable).

    Returns None — with a LOUD warning — if the analyzed plan isn't the
    expected LogicalRDD shape: the round driver skips the unpersist
    then, which reintroduces a per-round executor-storage leak in every
    fixpoint loop. A Spark-version change in localCheckpoint's plan
    shape must not fail silently; the warning is the signal to update
    this accessor (the storage-growth tests in tests/test_graph.py turn
    it into an error)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        name = plan.getClass().getSimpleName()
        if name == "LogicalRDD":
            return plan.rdd().id()
    except Exception as e:  # JVM accessor shape changed entirely
        name = f"<accessor error: {e}>"
    warnings.warn(
        "gravity_spark: _checkpoint_rdd_id expected a LogicalRDD analyzed "
        f"plan for a localCheckpoint-ed frame, got {name}; checkpoint "
        "blocks for this round will NOT be unpersisted (storage leak "
        "until JVM GC). Spark's localCheckpoint plan shape likely "
        "changed — update _checkpoint_rdd_id.",
        RuntimeWarning,
        stacklevel=3,
    )
    return None


def _unpersist_rdds(spark, ids) -> None:
    """Free localCheckpoint blocks by RDD id. Dataset.unpersist() only
    talks to the SQL cache manager; checkpoint storage is RDD-level and
    would otherwise pin executor memory until JVM GC gets around to it
    (observed: stale checkpoints from earlier queries pushing a later
    window sort into spill, 3.5 s → 28 s)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid) if rid is not None else None
        if rdd is not None:
            rdd.unpersist(False)


# Auto-broadcast bound for the fixpoint loops (guide §3.1: broadcast
# the side that FITS, decided from a measured count, not a guess). The
# per-round label/bucket-label frames are bounded by the loop's input
# row count; below this bound they are statically broadcast-hinted.
# Why it matters: under AQE a hint-less round plans as SMJ and AQE
# materializes BOTH sides' shuffle stages (including the big membership
# frame, re-shuffled EVERY round) before converting to broadcast at
# runtime — the static hint removes the membership shuffle and its
# stage-jobs outright. ~4M (v, label) rows ≈ 200 MB as a hashed
# relation: comfortably a broadcast on any executor profile; a 100 TB
# graph is far above the bound and keeps the shuffle path.
_BROADCAST_FIXPOINT_ROWS = 4_000_000

# ~100-200 MB of (long, long/string) loop rows per shuffle partition
_ROWS_PER_PARTITION = 2_000_000


class _Rounds:
    """Round driver of a fixpoint loop; one per loop call, used as a
    context manager.

    - ``invariant(df)`` checkpoints a frame every round reads (the edge
      list); it is freed on exit, so the loop's result must not read it.
    - ``checkpoint(df)`` checkpoints one of a round's frames, and
      ``advance()`` — called once the round's materializing action has
      run — frees every checkpoint taken before the latest one: the
      superseded round's carry and this round's scratch frames. The
      latest is the carry into the next round (after the last round,
      the result), so the driver never frees it.
    - ``size(n)`` takes the loop's measured row count. From then on
      ``small`` says whether ``n`` fits ``_BROADCAST_FIXPOINT_ROWS``,
      ``hint(df)`` broadcast-hints a per-round frame only then, and
      shuffle partitions are scoped to ``n`` until exit.

    Checkpoints are lazy by default, so a loop's convergence scalar (a
    count or a label sum) is the action that materializes the round:
    caching a round and testing its fixpoint are one job. Every free
    goes by the exact RDD id its checkpoint persisted, never by a diff
    of the SparkContext's global persistent-RDD set, so blocks another
    query sharing the session persisted are never touched.

    PARTITION SCOPE. The loops run ~5-10 exchanges per round over
    frames of O(edges) rows; with the session default (= core count
    locally, often 200+ on a cluster) every one of those exchanges
    launches near-empty tasks and an AQE stage-job, and the loop's
    wall-clock becomes pure scheduler latency (measured: the 8-round
    sf0.1 dedup loop is ~190 single-task stage-jobs, 6.2 s at 32
    partitions vs 4.2 s at 4). So ``size(n)`` scales the partition
    count to the GRAPH, not the session (spark_optimization_guide §2.2:
    partitions sized to data): it downscales
    ``spark.sql.shuffle.partitions`` to ceil(n / _ROWS_PER_PARTITION)
    ONLY when that is below the current setting; big graphs keep the
    session value (and AQE coalescing) untouched, so this can never
    shrink a 100 TB run's parallelism. Exit restores the previous value.

    CONCURRENCY CONTRACT (r11, advisor medium): the scope mutates the
    SESSION-scoped ``spark.sql.shuffle.partitions`` for the loop's
    duration, so a concurrent query or stream planned on the same
    SparkSession while a loop runs would plan its shuffles with the
    downscaled count. The advisor's alternatives were both assessed and
    rejected: an explicit ``.repartition(target, key)`` before each loop
    groupBy moves the exchange AHEAD of the partial aggregation (full
    rows shuffle instead of map-side-combined partials — strictly more
    bytes, guide §2.3), and ``spark.newSession()`` cannot execute
    DataFrames built on the caller's session (a DataFrame is bound to
    its session; rebuilding the inputs in a clone needs an RDD
    round-trip through Python serialization). The loops are therefore
    single-owner: the bench, the driver, and every registered query run
    them sequentially on an otherwise-idle session. Callers that share
    a session across threads must serialize fixpoint calls."""

    def __init__(self, spark):
        self.spark = spark
        self.small = False
        self._restore: str | None = None
        self._invariants: list[int | None] = []
        self._live: list[int | None] = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        _unpersist_rdds(self.spark, self._invariants)
        if self._restore is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self._restore)
        return False

    def size(self, n_rows: int) -> None:
        n_rows = max(int(n_rows), 1)
        self.small = n_rows <= _BROADCAST_FIXPOINT_ROWS
        prev = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        target = -(-n_rows // _ROWS_PER_PARTITION)  # ceil
        if target < prev:
            self._restore = str(prev)
            self.spark.conf.set("spark.sql.shuffle.partitions", str(target))

    def hint(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.small else df

    def invariant(self, df: DataFrame, eager: bool = False) -> DataFrame:
        df = df.localCheckpoint(eager=eager)
        self._invariants.append(_checkpoint_rdd_id(df))
        return df

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        df = df.localCheckpoint(eager=eager)
        self._live.append(_checkpoint_rdd_id(df))
        return df

    def advance(self) -> None:
        *dead, carry = self._live
        _unpersist_rdds(self.spark, dead)
        self._live = [carry]


# Safety cap on component rounds: rounds ≈ cluster diameter, and path
# compression bounds the bipartite loop by O(log n)
_COMPONENT_ROUNDS = 25


def _label_sum(labels: DataFrame):
    return labels.agg(F.sum("label")).collect()[0][0]


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Connected components over pair edges → clusters.

    Min-label propagation: every vertex starts labelled with its own id;
    each round, a vertex adopts the minimum label among itself and its
    neighbours; converged when no label changes. Returns
    ``(id_col, component)`` where component = min vertex id reachable.

    Scale notes: each round is one shuffle over (vertex, label) pairs —
    never the documents — and rounds ≈ cluster diameter, which for
    near-dup clusters is small (most are cliques from a shared LSH
    bucket, diameter 1-2). Lineage is truncated per round with
    localCheckpoint so the plan stays O(1) deep. Convergence is detected
    by the label sum: labels only ever decrease, so an unchanged sum is
    a fixpoint, and reading it is the round's one job. For adversarial
    long-chain graphs swap the loop body for the alternating
    large-star/small-star rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14) — same per-round shuffle shape,
    O(log n) rounds.

    r10 shuffle-count cut: SELF-LOOP edges (v→v for every vertex) fold
    the per-round ``labels LEFT JOIN neighbor_min + least(...)`` update
    into the propagation aggregation itself — min over neighbors now
    includes the vertex's own label, so each round is ONE join + ONE
    aggregation instead of two joins + one aggregation. Costs O(|V|)
    extra edge rows in the one-time sym build; removes a full shuffle
    of the label table per round. Output is row-identical (verified
    against the two-join form). Precondition (held by every caller, now
    load-bearing for the output VERTEX SET too): edge endpoints ⊆
    vertices.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    # self-loops: every vertex is its own neighbor, so the per-round
    # aggregation alone computes min(own label, neighbor labels) and
    # vertices with no pair edges survive as singletons
    sym = sym.union(
        vertices.select(
            F.col(id_col).alias("src"), F.col(id_col).alias("dst")
        )
    )
    with _Rounds(edges.sparkSession) as r:
        sym = r.invariant(sym.distinct())
        labels = r.checkpoint(
            vertices.select(
                F.col(id_col).alias("v"), F.col(id_col).cast("long").alias("label")
            )
        )
        prev_sum = _label_sum(labels)
        # labels is built from vertices only, so the init sum does NOT
        # materialize sym — this count() is the action that pays the one-
        # time distinct/union edge build (r10 advisor comment fix); labels
        # is O(vertices) ≤ its rows, so it gates the label broadcast
        r.size(sym.count())
        for _ in range(_COMPONENT_ROUNDS):
            labels = r.checkpoint(
                sym.join(r.hint(labels), sym.src == labels.v)
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min("label").alias("label"))
            )
            new_sum = _label_sum(labels)
            r.advance()
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    return labels.select(F.col("v").alias(id_col), F.col("label").alias("component"))


def connected_components_bipartite(
    members: DataFrame,
    id_col: str = "doc_id",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Connected components over doc↔bucket membership (bipartite form).

    Docs sharing an LSH bucket are pairwise connected, so components of
    the bipartite graph equal components of the materialized pair graph
    — but the edge list is O(docs × bands) instead of O(Σ bucket²). On
    clique-heavy corpora (the common near-dup case) that is the
    difference between millions of pair edges and one row per (doc,
    band). Alternating min-label rounds: bucket label = min over member
    docs, doc label = min over its buckets; bucket vertices never
    surface in the output so their ids never pollute the label space.

    r10 shuffle-count cut: a synthetic SELF-BUCKET per vertex ("\\x00"
    prefix — collides with no real bucket) replaces the old null-bucket
    singleton convention AND folds the per-round ``labels LEFT JOIN
    neighbor_min + least(...)`` update into the doc-side aggregation:
    min over a doc's buckets now includes its own label via the self
    bucket, so each round is two join+agg hops instead of two hops plus
    a label-update join. Costs O(|V|) membership rows once; removes a
    full label-table shuffle per round — output verified row-identical
    on the sf0.1 dedup graph (8 rounds, 711 components, both forms).
    NULL-bucket member rows (the callers' singleton-seeding convention)
    still only seed the vertex set.
    """
    base = members.select(F.col(id_col).alias("v"), F.col(bucket_col).alias("bk"))
    verts = base.select("v").distinct()
    selfb = verts.select(
        "v", F.concat(F.lit("\x00"), F.col("v").cast("string")).alias("bk")
    )
    with _Rounds(members.sparkSession) as r:
        m = r.invariant(
            base.filter(F.col("bk").isNotNull()).distinct().unionByName(selfb)
        )
        labels = r.checkpoint(verts.withColumn("label", F.col("v").cast("long")))
        prev_sum = _label_sum(labels)
        # the action that pays m's one-time distinct/union build; labels,
        # bucket labels and the compression map are all bounded by its
        # rows, so it gates their broadcast (r11: the hint-less plan had
        # AQE materialize m's shuffle stage in every round's joins
        # before converting to broadcast at runtime)
        r.size(m.count())
        for _ in range(_COMPONENT_ROUNDS):
            bucket_label = (
                m.join(r.hint(labels), "v").groupBy("bk").agg(F.min("label").alias("bl"))
            )
            base_l = (
                m.join(r.hint(bucket_label), "bk")
                .groupBy("v")
                .agg(F.min("bl").alias("label"))
            )
            if r.small:
                # broadcast plans have no exchanges to reuse, so the
                # compression self-join below would otherwise compute
                # the round subtree twice (broadcast build + probe);
                # a lazy checkpoint makes both sides read one cache.
                # (In the shuffle path this was measured a wash in r10
                # — ReusedExchange already dedups the heavy stages —
                # so it is gated to the broadcast path.)
                base_l = r.checkpoint(base_l)
            # path compression (pointer doubling): label(v) <- label(label(v)).
            # Neighbor-min alone needs O(diameter) rounds on chain-shaped
            # graphs; compressing through the label forest each round bounds
            # convergence by O(log n) regardless of chain length.
            l2 = base_l.select(F.col("v").alias("v2"), F.col("label").alias("label2"))
            labels = r.checkpoint(
                base_l.join(r.hint(l2), base_l.label == l2.v2, "left")
                .select("v", F.coalesce(F.col("label2"), F.col("label")).alias("label"))
            )
            new_sum = _label_sum(labels)
            r.advance()
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    return labels.select(F.col("v").alias(id_col), F.col("label").alias("component"))


def copurchase_edges(
    li: DataFrame, min_support: int = 2, key: str = "l_orderkey", val: str = "l_partkey"
) -> DataFrame:
    """Support-filtered co-purchase pair counts (u < v, one row per
    pair with multiplicity m) from a (l_orderkey, l_partkey)
    projection — the shared edge generator for the graph battery and
    market-basket rules.

    r10 (guide §2.2): per-order sorted part arrays exploded into
    in-order pairs replace the lineitem self-join — lineitem shuffles
    ONCE (groupBy order) instead of twice (both join sides), and the
    pair stream is generated in-task from each order's array. Pair
    multiplicity is identical to the join form (cnt_o(u)·cnt_o(v)):
    positions i<j over the sorted array with ps[i] < ps[j] enumerate
    exactly the a.partkey < b.partkey join pairs, duplicates included.
    Quadratic only within an order (≤7 line items). Set-identical
    verified against the join form at sf0.1 (exceptAll both ways = 0);
    measured 2.08 → 0.99 s isolated on the support-2 graph.

    ``key``/``val`` generalize the same shape to any bipartite
    projection (customer_copurchase_jaccard groups customers per
    part)."""
    arr = li.groupBy(key).agg(F.sort_array(F.collect_list(val)).alias("ps"))
    return (
        arr.select(F.col("ps"), F.posexplode("ps").alias("i", "u"))
        .select(
            "u",
            F.explode(F.slice("ps", F.col("i") + 2, F.size("ps"))).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= min_support)
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Vertex degrees of an undirected, deduplicated edge list with
    columns (u, v). Output: (x, d). One union + groupBy — the shuffle
    carries (vertex, 1) pairs only."""
    return (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def degree_orient(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge {u, v} from the lower-(degree, id)
    endpoint to the higher: output (lo, hi, dhi) where
    (d(lo), lo) < (d(hi), hi). dhi rides along so downstream wedge
    formation can compare ≺ without re-joining degrees.

    The two degree joins shuffle on vertex id — never broadcast: the
    degree table is vertex-sized. Orientation is a projection after the
    joins; no extra shuffle."""
    deg = degrees(edges)
    e = (
        edges.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dhi"),
    )


def oriented_wedges(oriented: DataFrame) -> DataFrame:
    """Open wedges of a degree-oriented edge list: for every center
    ``lo`` with out-neighbors b ≺ c, one row (wa=center, wb=b, wc=c).
    Self-join on the center — with degree orientation the per-center
    out-neighborhood is O(√m), so the join output is bounded even on
    power-law graphs."""
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    lt = (F.col("o1.dhi") < F.col("o2.dhi")) | (
        (F.col("o1.dhi") == F.col("o2.dhi")) & (F.col("o1.hi") < F.col("o2.hi"))
    )
    return o1.join(o2, (F.col("o1.lo") == F.col("o2.lo")) & lt).select(
        F.col("o1.lo").alias("wa"),
        F.col("o1.hi").alias("wb"),
        F.col("o2.hi").alias("wc"),
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 30) -> tuple[DataFrame, int]:
    """Peel an undirected edge list (u, v) to the k-core FIXPOINT:
    repeatedly drop vertices of degree < k (and their edges) until a
    round removes nothing, with ``max_rounds`` as a cap (a path graph
    needs ~n/2 rounds; real power-law graphs converge in a handful).
    Peeling past the fixpoint is a no-op, so a cap at or above the
    convergence depth equals any fixed-round peel of that many rounds.
    Returns (core_edges, rounds_run).

    Scale shape per round: ONE job — the degree aggregation, the two
    LEFT SEMI prunes of the (only ever shrinking) edge list, the
    lineage-truncating checkpoint, AND the fixpoint scalar, fused: the
    edge count() that drives the fixpoint test is the materializing
    action, so caching the round's edge list and counting it are the
    same pass (an edge survives iff both endpoints have d ≥ k, and
    every vertex in an edge list has d ≥ 1, so an unchanged edge count
    ⟺ the round removed nothing ⟺ fixpoint). The degree frame appears
    under both semi-join probes; its shuffle runs once via exchange
    reuse, not an explicit persist (persisting a tiny twice-referenced
    agg serializes the probe subtrees — measured slower). Nothing
    corpus-sized ever reaches the driver, and a long peel holds ONE
    edge-list copy in executor storage."""
    rounds = 0
    with _Rounds(edges.sparkSession) as r:
        edges = r.checkpoint(edges.select("u", "v"), eager=True)
        n_prev = edges.count()
        r.size(n_prev)
        while rounds < max_rounds:
            keep = degrees(edges).filter(F.col("d") >= k).select("x")
            edges = r.checkpoint(
                edges.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
                .select("u", "v")
            )
            rounds += 1
            n_new = edges.count()
            r.advance()
            if n_new == n_prev or n_new == 0:  # fixpoint (or empty core)
                break
            n_prev = n_new
    return edges, rounds


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list (u, v), ``rounds`` ≥ 1 rounds: every vertex
    starts labelled with its own id, and each round adopts the most
    frequent label among its neighbours, ties broken by the SMALLEST
    label. Returns (v, label).

    A round CAP rather than convergence is deliberate: synchronous LPA
    can oscillate between two labelings forever, so the round count is
    the spec. Per round ONE (vertex, label)-keyed count aggregation over
    the symmetric edge list plus a vertex-partitioned top-1 window — the
    same shuffle currency as the components rounds; labels are eagerly
    checkpointed so plan depth stays O(1)."""
    with _Rounds(edges.sparkSession) as r:
        sym = r.invariant(
            edges.select(F.col("u").alias("s"), F.col("v").alias("d")).unionByName(
                edges.select(F.col("v").alias("s"), F.col("u").alias("d"))
            ),
            eager=True,
        )
        labels = (
            sym.select(F.col("s").alias("lv")).distinct()
            .select("lv", F.col("lv").alias("lbl"))
        )
        w = Window.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("lbl"))
        # sym is already materialized, so the count is a cached-read job;
        # labels is O(vertices) ≤ its rows
        r.size(sym.count())
        for _ in range(rounds):
            cnt = (
                sym.join(r.hint(labels), sym.s == labels.lv)
                .groupBy(F.col("d").alias("v"), "lbl")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            labels = r.checkpoint(
                cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("v").alias("lv"), "lbl"),
                eager=True,
            )
            r.advance()
    return labels.select(F.col("lv").alias("v"), F.col("lbl").alias("label"))


def pagerank(edges: DataFrame, rounds: int) -> DataFrame:
    """Random-walk PageRank, damping 0.85, ``rounds`` fixed iterations,
    over a directed edge list (src, dst) that lists both directions of
    every undirected edge. Returns (node, rank_micro).

    Entirely INTEGER arithmetic (micro-rank units, floor divisions), so
    the result is bit-exact in any engine despite being an iterative
    float-ish algorithm. Per round one equi-join of the edge list
    against the rank table + one hash agg. Fixed rounds ⇒ no
    convergence action in the loop, and the returned plan reads the
    edge list and the degree table: both are checkpointed ONCE (r11:
    the old plan re-derived the caller's edge build in every round's
    subtree) and stay with the result, so they are plain checkpoints,
    not the driver's invariants."""
    with _Rounds(edges.sparkSession) as r:
        edges = edges.localCheckpoint(eager=False)
        deg = (
            edges.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .localCheckpoint(eager=False)
        )
        # one job: materializes deg (and edges, its input) and measures
        # the node count that gates the per-round frames' broadcast
        r.size(deg.count())
        ranks = deg.select("node", F.lit(1000000).cast("long").alias("rank_micro"))
        for _ in range(rounds):
            contrib = (
                edges.join(r.hint(ranks), edges.src == ranks.node)
                .join(
                    r.hint(deg.select(F.col("node").alias("dn"), "degree")),
                    F.col("src") == F.col("dn"),
                )
                .select("dst", F.expr("rank_micro div degree").alias("part"))
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("part").alias("contrib"))
            )
            ranks = deg.join(r.hint(contrib), "node", "left").select(
                "node",
                (
                    F.lit(150000)
                    + F.expr("850000 * coalesce(contrib, 0) div 1000000")
                ).cast("long").alias("rank_micro"),
            )
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of an undirected (u < v, deduplicated) edge
    list: degree-orient, form wedges at each ≺-smallest vertex, close
    them against the oriented edges (the closing edge wb→wc is oriented
    wb ≺ wc by construction, so one equi-join suffices). Returns a
    single row (n_triangles). The count is orientation-invariant —
    id-oriented SQL oracles agree."""
    # persist: the oriented edge list is read three times (both wedge
    # sides + the closing probe) — without it each reference recomputes
    # the degree joins
    oriented = degree_orient(edges).persist()
    w = oriented_wedges(oriented)
    e3 = oriented.alias("e3")
    return w.join(
        e3, (F.col("e3.lo") == F.col("wb")) & (F.col("e3.hi") == F.col("wc"))
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
