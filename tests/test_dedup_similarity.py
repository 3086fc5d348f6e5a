from pyspark.sql import functions as F

from gravity_spark.functions.dedup import (
    NUM_MINHASH,
    banded_pairs,
    exact_dedup,
    minhash_bands,
    minhash_signature,
    simhash16,
    subblocked_self_join,
)
from gravity_spark.functions.similarity import (
    brute_force_topk,
    cosine_similarity,
    lsh_bucket_topk,
)
from gravity_spark.functions.text import tokenize


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    return spark.createDataFrame(
        [
            (1, base, "a"),
            (2, base + "!!", "a"),                      # near-dup of 1
            (3, base.replace("quick", "slow"), "a"),    # near-dup of 1
            (4, "completely different content about spark query engines and shuffles", "b"),
            (5, "EXACT text", "b"),
            (6, "exact TEXT", "b"),                     # exact dup of 5 after normalization
        ],
        "doc_id long, text string, source string",
    )


def test_exact_dedup_normalized(spark):
    out = sorted(r["doc_id"] for r in exact_dedup(_docs(spark)).collect())
    assert out == [1, 3, 4, 5]  # 2 dups of 1 (same tokens), 6 dup of 5


def test_minhash_lsh_finds_near_dups(spark):
    banded = minhash_bands(minhash_signature(_docs(spark)))
    pairs = {(r["id_a"], r["id_b"]) for r in banded_pairs(banded).collect()}
    assert (1, 2) in pairs and (5, 6) in pairs  # identical token sets always collide
    assert all(4 not in p for p in pairs)  # no shared token, no shared minimum


def test_minhash_jaccard_estimate(spark):
    sig = {r["doc_id"]: r for r in minhash_signature(_docs(spark)).collect()}
    agree = sum(sig[1][f"m{i}"] == sig[2][f"m{i}"] for i in range(NUM_MINHASH))
    assert agree / NUM_MINHASH == 1.0  # same token set → identical signatures


def test_simhash_hamming(spark):
    sh = {r["doc_id"]: r["simhash16"] for r in simhash16(_docs(spark)).collect()}
    near = bin(sh[1] ^ sh[2]).count("1")
    far = bin(sh[1] ^ sh[4]).count("1")
    assert near == 0  # identical token set
    assert far > near


def test_simhash_pairs(spark):
    # dedup_method_agreement's banding: two 8-bit bands, hamming <= 3 verify
    sh = simhash16(_docs(spark))
    bands = F.array(
        F.struct(F.lit(0).alias("band"), (F.col("simhash16") % 256).alias("bh")),
        F.struct(F.lit(1).alias("band"), F.expr("simhash16 div 256").alias("bh")),
    )
    shb = sh.select("doc_id", "simhash16", F.explode(bands).alias("e")).select(
        "doc_id", "simhash16", "e.band", "e.bh"
    )
    near = F.bit_count(F.col("a.simhash16").bitwiseXOR(F.col("b.simhash16"))) <= 3
    pairs = {(r["id_a"], r["id_b"]) for r in banded_pairs(shb, near).collect()}
    assert (1, 2) in pairs
    assert (5, 6) in pairs


def test_ngram_jaccard_pairs_blocked(spark):
    g = _docs(spark).select(
        "doc_id", "source", F.array_distinct(tokenize(F.col("text"))).alias("toks")
    )
    inter = F.size(F.array_intersect("a.toks", "b.toks"))
    union = F.size(F.array_union("a.toks", "b.toks"))
    joined = subblocked_self_join(g, "source").select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        (inter / union).alias("jaccard"),
    )
    every = {(r["id_a"], r["id_b"]): r["jaccard"] for r in joined.collect()}
    # the sub-blocks partition the pair set: each same-source pair once
    assert sorted(every) == [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]
    pairs = {k: v for k, v in every.items() if v >= 0.5}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert all(a != 4 and b != 4 for a, b in pairs)  # different content filtered


def test_minhash_signature_stream_matches_batch(spark, tmp_path):
    """The signature picks its physical form from ``isStreaming``; both
    forms must give the same bands and both drop a doc with no tokens."""
    docs = _docs(spark).select("doc_id", "text").unionByName(
        spark.createDataFrame([(7, "?! ..."), (8, "")], "doc_id long, text string")
    )
    docs.coalesce(1).write.json(str(tmp_path / "in"))
    batch = sorted(minhash_bands(minhash_signature(docs)).collect())
    stream = spark.readStream.schema("doc_id long, text string").json(str(tmp_path / "in"))
    assert stream.isStreaming
    q = (
        minhash_bands(minhash_signature(stream))
        .writeStream.format("memory")
        .queryName("mh_stream_vs_batch")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    streamed = sorted(spark.table("mh_stream_vs_batch").collect())
    assert streamed == batch
    assert {r["doc_id"] for r in batch} == {1, 2, 3, 4, 5, 6}


def _vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
        (5, [0.8, 0.2, 0.1, 0.0]),   # close to 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    vecs = _vectors(spark)
    q = vecs.filter(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    corpus = vecs.filter(F.col("vec_id") != 1)
    out = brute_force_topk(corpus, q, k=2)
    got = [r["vec_id"] for r in out.orderBy("rank").collect()]
    assert got == [2, 5]


def test_lsh_bucket_topk_agrees_on_same_bucket(spark):
    vecs = _vectors(spark)
    q = vecs.filter(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    corpus = vecs.filter(F.col("vec_id") != 1)
    out = lsh_bucket_topk(corpus, q, k=2, dims=(0,))
    got = [r["vec_id"] for r in out.orderBy("rank").collect()]
    # bucket on sign(dim0)>0 keeps 2 and 5, excludes 3 (0.0 → not >0) and 4
    assert got == [2, 5]


def test_cosine_similarity_bounds(spark):
    df = spark.createDataFrame([(1,)], "x int")
    sim_same = df.select(
        cosine_similarity(
            F.array(F.lit(1.0), F.lit(2.0)), F.array(F.lit(1.0), F.lit(2.0))
        ).alias("s")
    ).collect()[0]["s"]
    sim_opp = df.select(
        cosine_similarity(
            F.array(F.lit(1.0), F.lit(0.0)), F.array(F.lit(-1.0), F.lit(0.0))
        ).alias("s")
    ).collect()[0]["s"]
    assert abs(sim_same - 1.0) < 1e-12
    assert abs(sim_opp + 1.0) < 1e-12


def test_connected_components_chain_and_singleton(spark):
    from gravity_spark.functions.graph import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 10-11,
    # singleton 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    vertices = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 4, 10, 11, 20]], ["doc_id"]
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_bipartite_matches_pairwise(spark):
    from gravity_spark.functions.graph import connected_components_bipartite

    # buckets: {1,2} share b1; {2,3} share b2 (chain via buckets);
    # {10,11} share b3; 20 has a private bucket (singleton)
    members = spark.createDataFrame(
        [(1, "b1"), (2, "b1"), (2, "b2"), (3, "b2"),
         (10, "b3"), (11, "b3"), (20, "b4")],
        ["doc_id", "bucket"],
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components_bipartite(members).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


# ---- prefix-filter exactness: property-based vs brute force ----------

def _brute_force_pairs(token_sets, t_num, t_den):
    """O(n²) reference: all pairs with t_den*|∩| >= t_num*|∪|."""
    out = set()
    ids = sorted(token_sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = token_sets[a], token_sets[b]
            inter = len(sa & sb)
            union = len(sa | sb)
            if union > 0 and t_den * inter >= t_num * union:
                out.add((a, b))
    return out


def test_prefix_filter_matches_brute_force_property(spark):
    """Property test: on randomized corpora (small vocab → dense
    near-dup structure, the algorithm's worst case) the prefix-filter
    join emits EXACTLY the brute-force pair set, across thresholds.
    Hypothesis drives the corpus shapes; Spark evaluation is batched
    per corpus (one deterministic derandomized run, no deadline)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from gravity_spark.functions.dedup import prefix_filter_pairs

    token_set = st.sets(st.sampled_from([f"t{i}" for i in range(8)]),
                        min_size=1, max_size=6)
    corpus = st.lists(token_set, min_size=2, max_size=12)

    @settings(max_examples=12, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.too_slow])
    @given(corpus=corpus, thresh=st.sampled_from([(1, 2), (7, 10), (9, 10)]))
    def run(corpus, thresh):
        t_num, t_den = thresh
        token_sets = {i: s for i, s in enumerate(corpus)}
        df = spark.createDataFrame(
            [(i, sorted(s)) for i, s in token_sets.items()],
            "doc_id long, toks array<string>",
        )
        got_rows = prefix_filter_pairs(df, "doc_id", "toks", t_num, t_den).collect()
        got = {(r.id_a, r.id_b) for r in got_rows}
        expected = _brute_force_pairs(token_sets, t_num, t_den)
        assert got == expected
        # reported jaccard values are exact rationals of the two sets
        for r in got_rows:
            sa, sb = token_sets[r.id_a], token_sets[r.id_b]
            assert r.jaccard == len(sa & sb) / len(sa | sb)

    run()


def test_embedding_near_dup_banded_lsh(spark):
    """Banded sign-LSH near-dup: planted near-identical vectors are
    found, and the blocking key cardinality is ≥256 effective buckets
    (round-1 verdict: the old single 6-bit bucket = 64 groups was a
    scale-killer; the self-join group key must grow with corpus size)."""
    import random

    from gravity_spark.functions.similarity import (
        default_bands,
        embedding_near_dup_pairs,
        sign_bucket,
    )
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = []
    for i in range(200):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
    # plant a near-dup pair: vec 1000 is vec 0 with tiny jitter (same signs)
    jitter = [v + (0.001 if v > 0 else -0.001) for v in rows[0][1]]
    rows.append((1000, jitter))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = embedding_near_dup_pairs(df, threshold=0.95)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1000) in got

    # pair appears once despite colliding in all 8 bands
    assert len(got) == len(set(got))
    dup_check = pairs.groupBy("id_a", "id_b").count().filter("count > 1").count()
    assert dup_check == 0

    # blocking-key design: 8 bands × 256 buckets per band
    bands = default_bands()
    assert len(bands) == 8 and all(len(b) == 8 for b in bands)
    # effective bucket-id space per band is 2^8 = 256; verify the
    # computed bucket for an all-positive vector saturates 8 bits
    one = spark.createDataFrame([(1, [1.0] * 64)], "vec_id long, embedding array<float>")
    val = one.select(sign_bucket(F.col("embedding"), bands[0]).alias("b")).collect()[0]["b"]
    assert val == 255


def test_kmeans_assign_deterministic_and_complete(spark, sf_dir):
    from gravity_spark.functions.similarity import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a1 = kmeans_assign(emb, k=8, rounds=2)
    a2 = kmeans_assign(emb, k=8, rounds=2)
    rows1 = {r.vec_id: r.cluster for r in a1.collect()}
    rows2 = {r.vec_id: r.cluster for r in a2.collect()}
    assert rows1 == rows2  # bit-identical across runs
    assert len(rows1) == emb.count()  # every vector assigned exactly once
    assert set(rows1.values()) <= set(range(8))


def test_semdedup_keeps_cluster_minimum(spark, sf_dir):
    """The smallest id in a cluster can never be pruned (only
    smaller-id neighbors prune), and every pruned vector has a kept or
    smaller-id near neighbor in its own cluster."""
    from gravity_spark.functions.similarity import semdedup_prune

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semdedup_prune(emb, k=8, rounds=2, threshold=0.2).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for rows in by_cluster.values():
        smallest = min(rows, key=lambda r: r.vec_id)
        assert smallest.kept


def test_semdedup_prunes_crafted_duplicate(spark):
    from gravity_spark.functions.similarity import semdedup_prune

    # 10 orthogonal-ish vectors + one near-copy of vec 0
    rows = []
    for i in range(10):
        v = [0.0] * 16
        v[i] = 1.0
        rows.append((i, v))
    dup = [0.0] * 16
    dup[0] = 0.99
    dup[1] = 0.01
    rows.append((100, dup))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semdedup_prune(emb, k=2, rounds=1, threshold=0.9).collect()}
    assert not out[100].kept  # near-copy of 0 pruned
    assert out[0].kept
    assert out[100].cluster == out[0].cluster


def test_substring_dedup_span_boundaries(spark):
    from gravity_spark.functions.dedup import substring_dedup_spans

    shared = " ".join(f"s{i}" for i in range(12))  # 12-token shared run
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"{shared} zeta eta theta iota kappa xyz"),
            (3, "totally unique words nine eight seven six five four three"),
            # internal repetition: the same 8-token run twice in one doc
            (4, "r1 r2 r3 r4 r5 r6 r7 r8 mid1 mid2 mid3 mid4 mid5 mid6 mid7 mid8 mid9 r1 r2 r3 r4 r5 r6 r7 r8"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.span_start, r.span_end): r.span_tokens
           for r in substring_dedup_spans(docs, k=8).collect()}
    # doc 1: shared run occupies tokens 3..14 → one maximal span
    assert out[(1, 3, 14)] == 12
    # doc 2: same run at tokens 1..12
    assert out[(2, 1, 12)] == 12
    # doc 3: nothing duplicated
    assert not any(d == 3 for d, _, _ in out)
    # doc 4: both copies of the internal run marked (1..8 and 18..25)
    assert out[(4, 1, 8)] == 8
    assert out[(4, 18, 25)] == 8


def test_substring_dedup_adjacent_marks_merge(spark):
    from gravity_spark.functions.dedup import substring_dedup_spans

    # two docs sharing one long 20-token run: every k-gram inside is
    # duplicated → marks must merge into ONE span, not 13 overlapping ones
    run = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, f"{run} tail1 tail2"), (2, f"head1 head2 {run}")],
        "doc_id long, text string",
    )
    spans = substring_dedup_spans(docs, k=8).collect()
    assert sorted((r.doc_id, r.span_start, r.span_end) for r in spans) == [
        (1, 1, 20),
        (2, 3, 22),
    ]


def test_lsh_precision_recall_truth_subblock_identical(spark):
    """The r11 sub-blocked truth self-join in dedup_lsh_precision_recall
    (join key (source, doc_id%8) instead of source alone — parallelism,
    guide §2.5) must produce the IDENTICAL exact-Jaccard>=0.5 pair set:
    cross-check the query's per-source n_truth against a Python-set
    recomputation over the same tokenized arrays at sf0.001."""
    from gravity_spark.functions import text as tx
    from gravity_spark.queries import REGISTRY, T

    sf = "/root/testdata/sf0.001"
    out = {
        r["source"]: r["n_truth"]
        for r in REGISTRY["dedup_lsh_precision_recall"].spark(spark, sf).collect()
    }
    all_docs = T(spark, sf, "documents")
    eval_sources = [
        r["source"]
        for r in all_docs.select("source").distinct().orderBy("source").limit(5).collect()
    ]
    g = (
        all_docs.filter(F.col("source").isin(eval_sources))
        .select(
            "doc_id",
            "source",
            F.array_distinct(tx.tokenize(F.col("text"))).alias("toks"),
        )
        .collect()
    )
    by_src: dict = {}
    for r in g:
        by_src.setdefault(r["source"], []).append((r["doc_id"], set(r["toks"])))
    naive = {}
    for src, rows in by_src.items():
        n = 0
        rows = sorted(rows)
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i][1], rows[j][1]
                inter = len(a & b)
                union = len(a | b)
                if 2 * inter >= union:
                    n += 1
        naive[src] = n
    assert {s: out[s] for s in naive} == naive


def test_method_agreement_without_candidate_pairs(spark, tmp_path):
    """Two unrelated docs: neither sketch yields a pair, so the
    agreement ratio is 0/0. The oracle answers NULL; the Spark side
    must too, not raise REMAINDER_BY_ZERO under ANSI mode."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gravity_spark.queries import REGISTRY

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "spark shuffles partitions across executors every night",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": texts,
                "lang": ["en", "en"],
                "source": ["a", "a"],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    q = REGISTRY["dedup_method_agreement"]
    got = [tuple(r) for r in q.spark(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = con.execute(q.oracle).fetchall()
    assert got == want == [(0, 0, 0, None)]
