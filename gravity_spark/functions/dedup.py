"""Deduplication operators for training-data pipelines.

Tiers, all shuffle-conscious:

- exact:    fingerprint → window → keep min-id. One shuffle on a short
            hash key; at 100 TB the shuffle carries (fingerprint, id)
            pairs only, never the documents.
- MinHash+LSH: one md5 per distinct token, 16 orderings derived by
            hex-string rotation, 2 bands of 8 → (doc, band, bucket)
            rows → bucket equi-join. Candidate generation is an
            equi-join, so the quadratic work is confined to
            same-bucket groups; connected components over the same
            bucket membership turn pairs into clusters.
- SimHash:  16-bit md5 bit-vote fingerprint; near-dups = small
            hamming distance within a band bucket.
- blocked Jaccard/containment: exact verification inside a blocking
            key, sub-blocked for parallelism.

Every hash is md5 hex, so each operator's DuckDB oracle reproduces it
bit for bit. The MinHash signature has two physical forms with equal
values: batch input takes a token explode + hash aggregation, and a
stream takes a row-local projection, because a groupBy on a stream
becomes a stateful aggregation (the streaming gate must stay
stateless up to its own operator). The row-local form is 3-4x slower
on batch input, so the form follows ``isStreaming`` and nothing else.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gravity_spark.functions.text import fingerprint, tokenize

NUM_MINHASH = 16
MINHASH_BANDS = 2  # wide bands (8 hashes) -> collision P ~ jaccard^8


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint."""
    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        with_fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def _rot(h: Column, i: int) -> Column:
    """i-th MinHash ordering of a 32-char md5 hex: h[2i:] || h[:2i].
    The min over a rotation is a valid (if correlated) min-hash, so one
    md5 per token buys all 16 orderings."""
    if i == 0:
        return h
    return F.concat(F.substring(h, 2 * i + 1, 32), F.substring(h, 1, 2 * i))


def minhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m15) over the distinct tokens of ``docs.text``; a
    doc with no tokens has no row.

    Batch input: explode tokens, md5 each once, min per rotation in one
    hash aggregation on doc_id. Streaming input: the same values from
    row-local array expressions, so no stateful aggregation is planned.
    The unrolled per-rotation transforms beat one nested transform over
    all 128 rotations by ~2x (higher-order functions are interpreted
    either way; the extra lambda layer is pure overhead)."""
    toks = F.array_distinct(tokenize(F.col("text")))
    if docs.isStreaming:
        hs = F.transform(toks, lambda t: F.md5(t))
        return docs.filter(F.size(toks) > 0).select(
            "doc_id",
            *[
                F.array_min(F.transform(hs, lambda h: _rot(h, i))).alias(f"m{i}")
                for i in range(NUM_MINHASH)
            ],
        )
    tok = docs.select("doc_id", F.explode(toks).alias("t")).select(
        "doc_id", F.md5("t").alias("h")
    )
    return tok.groupBy("doc_id").agg(
        *[F.min(_rot(F.col("h"), i)).alias(f"m{i}") for i in range(NUM_MINHASH)]
    )


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) in long form: bh = md5 of the band's 8
    concatenated minima. The LSH bucket join is then an EQUI-join on
    (band, bh), so Catalyst picks SortMergeJoin/BroadcastHashJoin and
    the quadratic work stays in same-bucket groups (an OR of per-band
    equalities would force a nested-loop join at scale)."""
    width = NUM_MINHASH // MINHASH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(*[F.col(f"m{i}") for i in range(b * width, (b + 1) * width)])
                ).alias("bh"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh")
    )


def banded_pairs(banded: DataFrame, extra: Column | None = None) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, of docs sharing a bucket.

    ``banded`` has (doc_id, band, bh) plus any payload; the self-join is
    an equi-join on (band, bh) with sides aliased ``a`` and ``b``, and
    ``extra`` is an optional verify predicate over those aliases
    (e.g. a hamming bound). Persist ``banded`` when it is expensive:
    both join sides read it."""
    a, b = banded.alias("a"), banded.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    if extra is not None:
        cond = cond & extra
    return (
        a.join(b, ["band", "bh"])
        .filter(cond)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def near_dup_components(docs: DataFrame) -> DataFrame:
    """(doc_id, component) for every doc in ``docs``: MinHash bands →
    bipartite doc↔bucket label propagation. component = min doc id of
    the transitively linked near-dup group; docs with no tokens (no
    bands) and docs in no shared bucket are singletons."""
    membership = minhash_bands(minhash_signature(docs)).select(
        "doc_id", F.concat_ws("#", F.col("band").cast("string"), "bh").alias("bucket")
    )
    # null-bucket rows never equi-join, so they only seed the vertex set
    singleton = docs.select("doc_id", F.lit(None).cast("string").alias("bucket"))
    return connected_components_bipartite(membership.unionByName(singleton))


def simhash16(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash16): per-bit vote over the distinct tokens' md5,
    bit p taken from hex digit p // 4 (MSB first within the digit) —
    reproducible in any engine with md5 and integer arithmetic."""
    bits = 16
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize(F.col("text")))).alias("t")
    )
    h = F.md5(F.col("t"))
    aggs = []
    for p in range(bits):
        d = F.instr(F.lit("0123456789abcdef"), F.substring(h, p // 4 + 1, 1)) - 1
        bit = F.floor(d / (2 ** (3 - p % 4))).cast("long") % 2
        aggs.append(
            F.when(F.sum(2 * bit - 1) > 0, F.lit(1 << p)).otherwise(F.lit(0)).alias(f"b{p}")
        )
    votes = toks.groupBy("doc_id").agg(*aggs)
    total = F.col("b0")
    for p in range(1, bits):
        total = total + F.col(f"b{p}")
    return votes.select("doc_id", total.alias("simhash16"))


def subblocked_self_join(g: DataFrame, block: str, on: Column | None = None) -> DataFrame:
    """Self-join of ``g`` on ``block`` with a.doc_id < b.doc_id, sides
    aliased ``a`` and ``b``; ``on`` adds a join predicate over them.

    A block key with few values caps the quadratic verify at that many
    tasks, so side A is replicated across 8 sub-blocks and side B is
    keyed (block, doc_id % 8): the pair set is identical with 8x the
    schedulable units. The explicit numbered repartition keeps AQE from
    coalescing this byte-small but CPU-heavy join down to one task."""
    nsub = 8
    a = (
        g.withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(nsub - 1))))
        .repartition(64, block, "sb")
        .alias("a")
    )
    b = (
        g.withColumn("sb", (F.col("doc_id") % nsub).cast("int"))
        .repartition(64, block, "sb")
        .alias("b")
    )
    cond = (
        (F.col(f"a.{block}") == F.col(f"b.{block}"))
        & (F.col("a.sb") == F.col("b.sb"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if on is not None:
        cond = cond & on
    return a.join(b, cond)

def _persistent_rdd_ids(df: DataFrame) -> set[int]:
    sc = df.sparkSession.sparkContext
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """The RDD id persisted by this DataFrame's localCheckpoint(): the
    checkpointed Dataset's analyzed plan is a LogicalRDD wrapping
    exactly the RDD the checkpoint call persisted. Tracking THIS id —
    instead of diffing the SparkContext-GLOBAL persistent-RDD set —
    means an iterative loop's cleanup sweep can never unpersist blocks
    persisted concurrently by another query sharing the session (for a
    localCheckpointed frame that would make it unrecomputable).

    Returns None — with a LOUD warning — if the analyzed plan isn't the
    expected LogicalRDD shape: callers skip the unpersist then, which
    reintroduces a per-round executor-storage leak in the iterative
    loops (kcore / connected_components / LPA). A Spark-version change
    in localCheckpoint's plan shape must not fail silently; the warning
    is the signal to update this accessor (pytest turns it into an
    error via filterwarnings in the storage-growth tests)."""
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
        stacklevel=2,
    )
    return None


def _unpersist_rdds(df: DataFrame, ids: set[int]) -> None:
    """Free localCheckpoint blocks by RDD id. Dataset.unpersist() only
    talks to the SQL cache manager; checkpoint storage is RDD-level and
    would otherwise pin executor memory until JVM GC gets around to it
    (observed: stale checkpoints from earlier queries pushing a later
    window sort into spill, 3.5 s → 28 s)."""
    sc = df.sparkSession.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


class _fixpoint_partitions:
    """Scale the shuffle-partition count of a fixpoint loop to the
    GRAPH, not the session (spark_optimization_guide §2.2: partitions
    sized to data; a constant tuned for either local mode or a cluster
    is wrong at the other end). The iterative loops below run ~5-10
    exchanges per round over frames of O(edges) rows; with the session
    default (= core count locally, often 200+ on a cluster) every one
    of those exchanges launches near-empty tasks and an AQE stage-job,
    and the loop's wall-clock becomes pure scheduler latency (measured:
    the 8-round sf0.1 dedup loop is ~190 single-task stage-jobs, 6.2 s
    at 32 partitions vs 4.2 s at 4). Entering the context downscales
    ``spark.sql.shuffle.partitions`` to ceil(rows / rows_per_partition)
    — ~100-200 MB of (long, long/string) rows per partition — ONLY when
    that is below the current setting; big graphs keep the session
    value (and AQE coalescing) untouched, so this can never shrink a
    100 TB run's parallelism. Restores the previous value on exit.

    CONCURRENCY CONTRACT (r11, advisor medium): this mutates the
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

    ROWS_PER_PARTITION = 2_000_000

    def __init__(self, spark, n_rows: int):
        self.spark = spark
        self.n_rows = max(int(n_rows), 1)
        self.prev: str | None = None

    def __enter__(self):
        prev = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        target = -(-self.n_rows // self.ROWS_PER_PARTITION)  # ceil
        if target < prev:
            self.prev = str(prev)
            self.spark.conf.set("spark.sql.shuffle.partitions", str(target))
        return self

    def __exit__(self, *exc):
        if self.prev is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


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


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pair edges → dedup clusters.

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
    a fixpoint. For adversarial long-chain graphs swap the loop body for
    the alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — same
    per-round shuffle shape, O(log n) rounds.

    r10 shuffle-count cut: SELF-LOOP edges (v→v for every vertex) fold
    the per-round ``labels LEFT JOIN neighbor_min + least(...)`` update
    into the propagation aggregation itself — min over neighbors now
    includes the vertex's own label, so each round is ONE join + ONE
    aggregation instead of two joins + one aggregation. Costs O(|V|)
    extra edge rows in the one-time sym build; removes a full shuffle
    of the label table per round. Output is row-identical (verified
    against the two-join form). Loop partitions scale to the edge
    count via _fixpoint_partitions. Precondition (held by every
    caller, now load-bearing for the output VERTEX SET too): edge
    endpoints ⊆ vertices.
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
    # Checkpoints are taken LAZILY: the label-sum action that drives the
    # convergence test is the materializing pass, so caching a round's
    # labels and reading its fixpoint scalar are ONE job, not two (sym
    # materializes inside round 1's join job the same way).
    sym = sym.distinct().localCheckpoint(eager=False)
    sym_id = _checkpoint_rdd_id(sym)  # sym, reused every round
    labels = vertices.select(
        F.col(id_col).alias("v"), F.col(id_col).cast("long").alias("label")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    prev_id = _checkpoint_rdd_id(labels)
    # labels is built from vertices only, so the init sum does NOT
    # materialize sym — this count() is the action that pays the one-
    # time distinct/union edge build (r10 advisor comment fix), and its
    # value drives both the loop partition scale and the broadcast
    # decision below
    n_edges = sym.count()
    # scale-adaptive broadcast (guide §3.1): labels is O(vertices) ≤
    # n_edges rows; when the measured count fits, hint it so no round
    # ever shuffles the edge table (see _BROADCAST_FIXPOINT_ROWS)
    hb = F.broadcast if n_edges <= _BROADCAST_FIXPOINT_ROWS else (lambda df: df)
    with _fixpoint_partitions(edges.sparkSession, n_edges):
        for _ in range(max_iter):
            labels = (
                sym.join(hb(labels), sym.src == labels.v)
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=False)
            )
            new_sum = labels.agg(F.sum("label")).collect()[0][0]
            if prev_id is not None:  # prior round's checkpoint, superseded now
                _unpersist_rdds(labels, {prev_id})
            prev_id = _checkpoint_rdd_id(labels)
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    if sym_id is not None:
        _unpersist_rdds(labels, {sym_id})
    return labels.select(F.col("v").alias(id_col), F.col("label").alias("component"))


def connected_components_bipartite(
    members: DataFrame,
    id_col: str = "doc_id",
    bucket_col: str = "bucket",
    max_iter: int = 25,
    stats: dict | None = None,
    broadcast_small: bool = False,
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

    ``broadcast_small=True`` statically broadcast-hints every per-round
    small frame (labels, bucket labels, the compression map) — for
    DELTA-scale graphs (IVM relabel loops over touched components)
    where every round's frames provably fit in a broadcast, so the
    loop no longer depends on AQE's runtime broadcast conversion and
    its per-stage-job driver latency. Leave False for corpus-scale
    graphs: labels there is O(vertices) and a static broadcast hint
    would be a scale bug.

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
    still only seed the vertex set. Loop shuffle partitions scale to
    the membership size via _fixpoint_partitions.
    """
    # Lazy checkpoints + the label-sum action as the materializing pass:
    # caching a round's labels and reading its convergence scalar are
    # ONE job per round. (labels is built from verts only, so the init
    # sum materializes labels alone; m's one-time distinct/union build
    # is priced by the count() below — r10 advisor comment fix.)
    base = members.select(F.col(id_col).alias("v"), F.col(bucket_col).alias("bk"))
    verts = base.select("v").distinct()
    selfb = verts.select(
        "v", F.concat(F.lit("\x00"), F.col("v").cast("string")).alias("bk")
    )
    m = (
        base.filter(F.col("bk").isNotNull())
        .distinct()
        .unionByName(selfb)
        .localCheckpoint(eager=False)
    )
    m_id = _checkpoint_rdd_id(m)  # m, reused every round
    labels = (
        verts.withColumn("label", F.col("v").cast("long"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    prev_id = _checkpoint_rdd_id(labels)
    # the action that pays m's one-time distinct/union build; its value
    # drives the loop partition scale and the broadcast decision
    n_members = m.count()
    rounds = 0
    # scale-adaptive broadcast (guide §3.1, r11): labels / bucket_label
    # / the compression map are all bounded by n_members rows; when the
    # measured count fits (_BROADCAST_FIXPOINT_ROWS), statically hint
    # them so NO round shuffles the membership table — the hint-less
    # plan had AQE materialize m's shuffle stage in every round's joins
    # before converting to broadcast at runtime. Corpus-scale graphs
    # stay on the shuffle path (the hint is count-gated, not assumed).
    small = broadcast_small or n_members <= _BROADCAST_FIXPOINT_ROWS
    hb = F.broadcast if small else (lambda df: df)
    with _fixpoint_partitions(members.sparkSession, n_members):
        for _ in range(max_iter):
            rounds += 1
            bucket_label = (
                m.join(hb(labels), "v").groupBy("bk").agg(F.min("label").alias("bl"))
            )
            base_l = (
                m.join(hb(bucket_label), "bk")
                .groupBy("v")
                .agg(F.min("bl").alias("label"))
            )
            base_id = None
            if small:
                # broadcast plans have no exchanges to reuse, so the
                # compression self-join below would otherwise compute
                # the round subtree twice (broadcast build + probe);
                # a lazy checkpoint makes both sides read one cache.
                # (In the shuffle path this was measured a wash in r10
                # — ReusedExchange already dedups the heavy stages —
                # so it is gated to the broadcast path.)
                base_l = base_l.localCheckpoint(eager=False)
                base_id = _checkpoint_rdd_id(base_l)
            # path compression (pointer doubling): label(v) <- label(label(v)).
            # Neighbor-min alone needs O(diameter) rounds on chain-shaped
            # graphs; compressing through the label forest each round bounds
            # convergence by O(log n) regardless of chain length.
            l2 = base_l.select(F.col("v").alias("v2"), F.col("label").alias("label2"))
            labels = (
                base_l.join(hb(l2), base_l.label == l2.v2, "left")
                .select("v", F.coalesce(F.col("label2"), F.col("label")).alias("label"))
                .localCheckpoint(eager=False)
            )
            new_sum = labels.agg(F.sum("label")).collect()[0][0]
            # prior round's labels + this round's pre-compression frame,
            # both superseded once the new labels materialized
            dead = {i for i in (prev_id, base_id) if i is not None}
            if dead:
                _unpersist_rdds(labels, dead)
            prev_id = _checkpoint_rdd_id(labels)
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    if stats is not None:
        stats["rounds"] = rounds
    if m_id is not None:
        _unpersist_rdds(labels, {m_id})
    return labels.select(F.col("v").alias(id_col), F.col("label").alias("component"))


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    t_num: int = 9,
    t_den: int = 10,
) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family) — Jaccard >= t_num/t_den with NO blocking column.

    Guarantee (exactness): order every doc's distinct tokens by a
    global total order (document-frequency asc, then token asc —
    rarest first). For threshold t, any pair with J >= t shares at
    least ceil(t·|A|) tokens, so by pigeonhole some shared token falls
    in A's prefix of length |A| - ceil(t·|A|) + 1; the globally
    smallest shared token then falls in BOTH prefixes. Joining prefix
    tokens therefore yields an exact candidate superset; verification
    by array_intersect restores exactness. The threshold is an exact
    integer rational — no float ever gates a pair.

    Scale: quadratic work is confined to per-token candidate groups of
    the RAREST tokens (subquadratic on Zipfian vocabularies); every
    stage is a linear shuffle (freq agg, one window per doc, one
    equi-join on prefix tokens, one verify join).

    Input rows must have distinct, non-empty ``tokens_col`` arrays.
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    r10 (guide §2.3): ``g`` and ``prefix`` are persisted — the
    candidate self-join reads ``prefix`` on BOTH sides and the verify
    step reads ``g`` on both sides, so without the persists the
    tokenize → explode → freq-join → window subtree ran twice and the
    tokenizer four times (verified in the before plan: the whole
    prefix subtree appears duplicated). Both tables are O(docs) /
    O(docs · prefix_len) — linear in the input, disk-spillable.

    CACHING CONTRACT (r11, advisor item): the returned frame is LAZY,
    so this function cannot unpersist its own intermediates — they must
    stay pinned until the caller has materialized the result. After
    materializing, the caller owns cleanup:
    ``spark.catalog.clearCache()`` (what bench.py does between queries)
    or a targeted ``unpersist()`` via the storage tab. A long-lived
    session that calls this repeatedly WITHOUT clearing will accumulate
    executor storage. Same contract: ``substring_dedup_spans``.
    """
    g = df.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("toks")
    ).persist()
    ex = g.select("doc_id", F.size("toks").alias("la"), F.explode("toks").alias("tok"))
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = (
        F.col("la") - F.expr(f"({t_num} * la + {t_den} - 1) div {t_den}") + 1
    )
    prefix = (
        ex.join(freq, "tok")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "tok")),
        )
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "tok")
        .persist()
    )
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(F.col("pa.doc_id").alias("id_a"), F.col("pb.doc_id").alias("id_b"))
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    gb = g.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    la, lb = F.size("toks_a"), F.size("toks_b")
    verified = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(t_den * F.least(la, lb) >= t_num * F.greatest(la, lb))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("inter"),
            (la + lb).alias("total"),
        )
    )
    union = F.col("total") - F.col("inter")
    jac = (
        F.when(union > 0, F.col("inter") / union.cast("double")).otherwise(F.lit(0.0))
    )
    return verified.filter(t_den * F.col("inter") >= t_num * union).select(
        "id_a", "id_b", jac.alias("jaccard")
    )


# --- repeated-substring span dedup (suffix-array family) -----------------


def substring_dedup_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated token spans, the distributed stand-in for
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any k-token run that
    occurs ≥ min_count times corpus-wide (across documents OR repeated
    inside one) marks its positions; overlapping/adjacent marks merge
    into maximal spans per document — the text a trainer would excise.

    Returns (doc_id, span_start, span_end, span_tokens), token
    positions 1-based inclusive.

    Scale shape vs a true suffix array (which needs a global sort of
    every suffix): one explode to (doc, pos, gram-hash) — O(total
    tokens) rows of ~50 B — a count aggregation keyed by gram hash
    (map-side combine collapses per-task repeats), an equi-join back,
    and one per-doc window. Every stage is linear; the shuffle key is
    the gram hash, so hot grams ("the the the") concentrate — AQE skew
    handling or pre-salting the count covers that; positions of a hot
    gram still route to their own docs for the merge.

    CACHING CONTRACT (r11, advisor item): the gram table ``g`` below is
    persisted and the returned frame is LAZY, so cleanup is the
    caller's after materializing — ``spark.catalog.clearCache()`` (what
    bench.py does between queries) or a targeted ``unpersist()``. See
    ``prefix_filter_pairs`` for the full statement of the contract.
    """
    from gravity_spark.functions import text as tx

    toks = tx.tokenize(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") >= k
    )
    n = F.size("__toks") - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice("__toks", i, k), " ")).alias("h"),
        ),
    )
    # r10 (guide §2.3): g feeds both the dup-count agg and the join
    # back — persisted so the tokenize + per-position md5 subtree runs
    # once (it dominated the query: 1.96 → 1.58 s warm). The cache is
    # O(total tokens), disk-spillable. A count-window over h measured
    # faster still (0.98 s) but was REJECTED: it concentrates every
    # occurrence of a hot gram in one unsplittable window task, while
    # the groupBy keeps map-side combine and the join back stays
    # AQE-skew-splittable — the 100 TB shape this function documents.
    g = base.select(id_col, F.explode(grams).alias("e")).select(
        id_col, F.col("e.pos").alias("pos"), F.col("e.h").alias("h")
    ).persist()
    dup = g.groupBy("h").count().filter(F.col("count") >= min_count).select("h")
    marks = g.join(dup, "h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > k),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = marks.withColumn("__brk", brk).withColumn(
        "__island", F.sum("__brk").over(w)
    )
    return islands.groupBy(id_col, "__island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_tokens"),
    ).select(id_col, "span_start", "span_end", "span_tokens")
