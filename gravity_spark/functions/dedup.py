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
            bucket membership (functions/graph.py) turn pairs into
            clusters.
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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gravity_spark.functions.graph import connected_components_bipartite
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
