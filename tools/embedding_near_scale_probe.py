"""Shuffle-bytes evidence for the r10 §17 trade (VERDICT r10 item 8):
dedup_embedding_near's keys-only banded LSH self-join (vectors attach
to the deduped pair set by id) vs the old shape (embedding payloads
ride the band-replicated candidate shuffle) at increasing corpus
multipliers.

The claim under test: the old shape's shuffle bytes grow as
payload × bands × 2 sides (+ the distinct re-shuffles the payload
pairs), the new shape's as keys × bands + 2 × payload — so once the
corpus leaves the AQE-broadcast regime (where the local bench pays two
extra broadcast joins, the honest r10 cost) the payload crossings
dominate and the keys-only shape wins. Replicas get a replica-seeded
deterministic ±1 diagonal sign flip: orthogonal, so within-replica
cosine structure (and near-dup pairs per replica) is preserved exactly
while bucket patterns decorrelate across replicas.

Usage:
    python tools/embedding_near_scale_probe.py [sf_dir] [mult ...]
    # default: /root/testdata/sf0.1 at 1, 4, 8
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.probe_spark import probe_session, shuffle_write_bytes
from gravity_spark.functions.similarity import (
    cosine_similarity,
    default_bands,
    embedding_near_dup_pairs,
    sign_bucket,
)

_REPLICA_OFFSET = 10_000_000


def replicated_embeddings(spark, sf_dir: str, mult: int):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    if mult == 1:
        return emb
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    # deterministic per-(replica, dim) ±1: flips are an orthogonal
    # diagonal, so every within-replica cosine is bit-preserved while
    # sign-LSH buckets decorrelate across replicas
    flipped = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x
        * F.when(F.pmod(F.xxhash64(F.col("rep"), i), 2) == 0, 1.0).otherwise(-1.0),
    )
    return emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * F.lit(_REPLICA_OFFSET)).alias("vec_id"),
        flipped.alias("embedding"),
    )


def old_shape_pairs(corpus, threshold: float = 0.95):
    """The pre-r10 shape: embeddings ride the banded self-join."""
    bands = default_bands()
    entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                sign_bucket(F.col("embedding"), dims).alias("bucket"),
            )
            for i, dims in enumerate(bands)
        ]
    )
    banded = corpus.select(
        "vec_id", "embedding", F.explode(entries).alias("bb")
    ).select(
        "vec_id",
        "embedding",
        F.col("bb.band").alias("__band"),
        F.col("bb.bucket").alias("__bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.embedding").alias("__va"),
            F.col("b.embedding").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = cosine_similarity(
        F.col("__va").cast("array<double>"), F.col("__vb").cast("array<double>")
    )
    return cand.select("id_a", "id_b", F.round(sim, 6).alias("sim")).filter(
        F.col("sim") >= threshold
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mults = [int(x) for x in sys.argv[2:]] or [1, 4, 8]
    spark = probe_session()
    for m in mults:
        corpus = replicated_embeddings(spark, sf_dir, m).persist()
        n = corpus.count()
        row: dict = {"mult": m, "vectors": n}
        for label, fn in (
            ("old_payload_rides", lambda c: old_shape_pairs(c)),
            ("new_keys_only", lambda c: embedding_near_dup_pairs(c)),
        ):
            sw0, t0 = shuffle_write_bytes(spark), time.time()
            n_pairs = fn(corpus).count()
            t1, sw1 = time.time(), shuffle_write_bytes(spark)
            row[label] = {
                "pairs": n_pairs,
                "sec": round(t1 - t0, 2),
                "shuffle_mb": round((sw1 - sw0) / 1e6, 1) if sw1 >= 0 else None,
            }
        corpus.unpersist()
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
