"""Streaming minhash dedup gate: verdicts in epoch 2 must depend on
bucket state built in epoch 1 (the incremental-corpus path)."""

import glob
import os
import shutil

import pyspark.sql.functions as F
import pytest

from gravity_spark.functions.dedup import minhash_bands, minhash_signature
from gravity_spark.streaming.windows import minhash_bucket_gate


@pytest.mark.parametrize("salt", [None, 1024, 3])
def test_gate_rejects_cross_batch_near_dup(spark, tmp_path, salt):
    text_a = "the quick brown fox jumps over the lazy dog again and again today"
    text_c = "completely different content about spark structured streaming state"
    batch1 = [(1, text_a), (2, text_c)]
    # doc 10 = exact copy of doc 1 (same buckets), doc 11 = novel
    batch2 = [(10, text_a), (11, "novel words that appear nowhere else at all")]

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for idx, rows in enumerate([batch1, batch2]):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        part = str(tmp_path / f"w{idx}")
        df.coalesce(1).write.mode("overwrite").json(part)
        dst = str(stream_dir / f"{idx:03d}.json")
        shutil.move(glob.glob(f"{part}/part-*.json")[0], dst)
        os.utime(dst, (1700000000 + idx * 60,) * 2)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(stream_dir))
    )
    # salt=None: per-bucket state keys (scale path); salt=1024: the
    # default coarse sharding; salt=3: forces many buckets per salt
    # key, exercising the in-handler regroup
    gate = minhash_bucket_gate(
        minhash_bands(minhash_signature(stream)), salt_buckets=salt
    )
    verdicts = {}

    def handle(df, epoch_id):
        for r in (
            df.groupBy("doc_id").agg(F.min("owner").alias("own")).collect()
        ):
            verdicts[r.doc_id] = (r.own == r.doc_id, epoch_id)

    q = (
        gate.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    assert verdicts[1][0] and verdicts[2][0]  # first batch all new
    is_new_10, epoch_10 = verdicts[10]
    is_new_11, _ = verdicts[11]
    assert not is_new_10  # duplicate of doc 1, seen one epoch earlier
    assert is_new_11
    assert epoch_10 > verdicts[1][1]  # decided in a LATER epoch than doc 1


def test_salted_state_value_bounded_at_bench_corpus(spark):
    """Salted-gate state-value audit (r7 verdict task 6): the registry
    query runs ``salt_buckets=1024`` — the bounded-state fast path whose
    tradeoff is per-key state VALUE size (an HDFS-backed store rewrites
    a key's whole value per update). This pins the bound at the bench
    corpus: the per-salt-key owners map, JSON-encoded exactly as the
    handler stores it, stays far under 16 KiB (measured 378 bytes max at
    sf0.1 — 2,525 occupied buckets over 1,024 salt keys). The value
    grows ~linearly with occupied-buckets/1024, so a deployment whose
    bucket count reaches the millions should pass ``salt_buckets=None``
    (one long per bucket, sharded across RocksDB stores) — the
    documented scale path in minhash_bucket_gate's docstring."""
    import os

    import pytest as _pytest

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf):
        _pytest.skip(f"bench corpus {sf} not present")
    from gravity_spark.queries import T

    docs = T(spark, sf, "documents").select("doc_id", "text")
    keyed = minhash_bands(minhash_signature(docs)).withColumn(
        "gk", F.pmod(F.xxhash64("band", "bh"), F.lit(1024))
    )
    per_bucket = keyed.groupBy("gk", "band", "bh").agg(F.min("doc_id").alias("mid"))
    # exact byte size of json.dumps(owners_map, separators=(",", ":")):
    # '"band:bh":<id>' per entry + commas (over-counted by <=1) + braces
    sizes = (
        per_bucket.groupBy("gk")
        .agg(
            F.sum(
                F.length(
                    F.concat_ws(
                        "",
                        F.lit('"'), F.col("band"), F.lit(":"), F.col("bh"),
                        F.lit('":'), F.col("mid").cast("string"), F.lit(","),
                    )
                )
            ).alias("jlen")
        )
        .collect()
    )
    assert sizes, "banding produced no buckets"
    assert max(r.jlen + 2 for r in sizes) < 16 * 1024
