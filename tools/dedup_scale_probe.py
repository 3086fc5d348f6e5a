"""Dedup-stack scale probe: numbers behind the 100 TB claims.

Replicates the documents corpus N× with DISTINCT content per replica
(every token gains a replica suffix, so every shingle — and thus every
MinHash band bucket — is replica-local, while each replica preserves
the original corpus's internal near-dup structure). Then times the
three stages of the dedup pipeline at each multiplier and records
rows/sec plus shuffle-write bytes from the Spark REST API:

    banding     — MinHash signatures → (doc_id, bucket) membership
    pairs       — banded self-join → distinct candidate pairs
    components  — bipartite doc↔bucket min-label propagation (+ rounds)

Expected (and what BASELINE.md records): pair generation scales
near-linearly in corpus size (bucket sizes don't grow with N — no
super-linear bucket blow-up), and components converge in a bounded
number of rounds independent of N. The bucket-size histogram
(dedup_bucket_stats' shape) is printed as the skew gate: max bucket
size should stay flat as the corpus grows.

Usage:
    python tools/dedup_scale_probe.py [sf_dir] [mult [mult ...]]
    # default: /root/testdata/sf0.01 at 1, 10, 50
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from gravity_spark.functions import dedup as D
from gravity_spark.functions.text import tokenize

_REPLICA_OFFSET = 10_000_000


def probe_session() -> SparkSession:
    """get_spark's configs with the UI enabled — the REST API is where
    per-stage shuffle metrics live."""
    n = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("dedup_scale_probe")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
    )
    if os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark_graft_tmp", exist_ok=True)
        b = b.config("spark.local.dir", "/dev/shm/spark_graft_local")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_write_bytes(spark: SparkSession) -> int:
    """Total shuffle-write bytes across all completed stages so far."""
    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages", timeout=10) as r:
            stages = json.loads(r.read().decode())
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1


def replicated_corpus(spark: SparkSession, sf_dir: str, mult: int):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if mult == 1:
        return docs
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    # token-level ALNUM suffix (tokenize splits on non-alphanumerics, so
    # the suffix must stay inside the token): EVERY token differs across
    # replicas, so LSH buckets never span replicas and bucket sizes stay
    # flat as N grows; within a replica the original near-dup structure
    # is intact
    text = F.array_join(
        F.transform(
            tokenize(F.col("text")),
            lambda t: F.concat(t, F.lit("x"), F.col("rep").cast("string")),
        ),
        " ",
    )
    return docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * F.lit(_REPLICA_OFFSET)).alias("doc_id"),
        text.alias("text"),
    )


def run_one(spark: SparkSession, sf_dir: str, mult: int) -> dict:
    corpus = replicated_corpus(spark, sf_dir, mult)
    n_docs = corpus.count()
    out: dict = {"mult": mult, "docs": n_docs}

    # --- stage 1: signatures + banding --------------------------------
    # the graded signature (dedup_minhash_signature / _pairs /
    # _components): explode word tokens → md5 → per-doc min of rotated
    # hashes — one shuffle on doc_id — then two md5 bands per doc
    sw0, t0 = shuffle_write_bytes(spark), time.time()
    banded = D.minhash_bands(D.minhash_signature(corpus)).persist()
    members = banded.select(
        "doc_id", F.concat(F.col("band"), F.lit("#"), F.col("bh")).alias("bucket")
    )
    n_members = members.count()
    t1, sw1 = time.time(), shuffle_write_bytes(spark)
    out["banding"] = {
        "rows": n_members,
        "sec": round(t1 - t0, 2),
        "docs_per_sec": round(n_docs / (t1 - t0), 1),
        "shuffle_mb": round((sw1 - sw0) / 1e6, 1) if sw1 >= 0 else None,
    }

    # skew gate: the bucket-size histogram's tail
    sizes = members.groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.agg(
        F.max("sz").alias("max_sz"),
        F.expr("sum(sz * (sz - 1) div 2)").cast("long").alias("pair_load"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).collect()[0]
    out["buckets"] = {
        "n": hist["n_buckets"],
        "max_size": hist["max_sz"],
        "pair_load": hist["pair_load"],
    }

    # --- stage 2: candidate pair join ---------------------------------
    sw0, t0 = shuffle_write_bytes(spark), time.time()
    pairs = D.banded_pairs(banded)
    n_pairs = pairs.count()
    t1, sw1 = time.time(), shuffle_write_bytes(spark)
    out["pairs"] = {
        "rows": n_pairs,
        "sec": round(t1 - t0, 2),
        "docs_per_sec": round(n_docs / (t1 - t0), 1),
        "shuffle_mb": round((sw1 - sw0) / 1e6, 1) if sw1 >= 0 else None,
    }

    # --- stage 3: components (bipartite, no pair materialization) -----
    sw0, t0 = shuffle_write_bytes(spark), time.time()
    stats: dict = {}
    comp = D.connected_components_bipartite(members, stats=stats)
    n_clusters = comp.groupBy("component").count().filter(F.col("count") > 1).count()
    t1, sw1 = time.time(), shuffle_write_bytes(spark)
    out["components"] = {
        "dup_clusters": n_clusters,
        "rounds": stats.get("rounds"),
        "sec": round(t1 - t0, 2),
        "docs_per_sec": round(n_docs / (t1 - t0), 1),
        "shuffle_mb": round((sw1 - sw0) / 1e6, 1) if sw1 >= 0 else None,
    }
    banded.unpersist()
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    mults = [int(x) for x in sys.argv[2:]] or [1, 10, 50]
    spark = probe_session()
    for m in mults:
        print(json.dumps(run_one(spark, sf_dir, m)), flush=True)


if __name__ == "__main__":
    main()
