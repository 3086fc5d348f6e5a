"""Streaming-stateful state-size probe: the measured numbers behind the
100 TB claims for the custom stateful operators (§6 dedup / §10 graph
probes' sibling — BASELINE.md §11).

The claim under test: state-store size is bounded by the KEY population
(or the watermark horizon), never by the event/corpus volume. Each
probe replays an event feed at 1×/10×/50× replication as a multi-epoch
availableNow stream and records, per micro-batch, the state operator's
own metrics (numRowsTotal / numRowsUpdated / numRowsRemoved /
memoryUsedBytes from StreamingQueryProgress.stateOperators):

  rate_limit — streaming_rate_limit_stateful's operator
               (windows.py::rate_limit_stateful). Replication adds
               events for the SAME users, so state rows must stay flat
               at #users while input grows 50×: 2 BIGINTs per user,
               whatever the feed volume.
  mh_gate    — streaming_minhash_dedup_gate's operator
               (windows.py::minhash_bucket_gate). Replicas carry NEW
               doc ids but IDENTICAL text (the near-dup ingest case the
               gate exists for), so they land in the SAME LSH buckets:
               state rows must stay flat at #distinct (band, bucket)
               while the doc stream grows 50×.
  wm_dedup   — horizon eviction. Replicas carry DISJOINT keys shifted
               LATER in time (copy r at +r·span), streamed in time
               order through dropDuplicatesWithinWatermark with a 1-day
               watermark: end-of-run state must hold only the keys
               within the horizon of the stream's head (~1 slice), with
               numRowsRemoved accounting for the evicted remainder —
               state bounded by the horizon, not the corpus. (The
               registered streaming_dedup_watermark keeps plain
               dropDuplicates on a bounded key DOMAIN — the CDC
               idempotency shape, where state = |key domain| by
               design; this probe measures the unbounded-keyspace path
               that needs eviction.)

Usage:
    python tools/streaming_state_probe.py [sf_dir] [mult [mult ...]]
    # default: /root/testdata/sf0.01 at 1, 10, 50
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.probe_spark import probe_session

_OFF = 10_000_000


def _progress(q) -> list[dict]:
    """Per-micro-batch progress dicts, oldest first."""
    out = []
    for p in q.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        else:  # StreamingQueryProgress object
            j = p.json if isinstance(p.json, str) else p.json()
            out.append(json.loads(j))
    return out


def _epoch_rows(q) -> list[dict]:
    rows = []
    for p in _progress(q):
        sos = p.get("stateOperators") or []
        if not sos:
            continue
        so = sos[0]
        rows.append(
            {
                "input": p.get("numInputRows"),
                "state_rows": so.get("numRowsTotal"),
                "updated": so.get("numRowsUpdated"),
                "removed": so.get("numRowsRemoved"),
                "state_mb": round((so.get("memoryUsedBytes") or 0) / 1e6, 3),
            }
        )
    return rows


def _stage_files(parts, tmp: str) -> str:
    """Write each frame as one json file, mtime-ordered => epoch order."""
    stream_dir = os.path.join(tmp, "stream")
    os.makedirs(stream_dir)
    for idx, part in enumerate(parts):
        d = os.path.join(tmp, f"w{idx}")
        part.coalesce(1).write.mode("overwrite").json(d)
        src = glob.glob(f"{d}/part-*.json")[0]
        dst = os.path.join(stream_dir, f"{idx:03d}.json")
        shutil.move(src, dst)
        os.utime(dst, (1_700_000_000 + idx * 60,) * 2)
    return stream_dir


def _run_noop(stream_df, tmp: str, timeout: int = 600):
    q = (
        stream_df.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError("probe stream timed out")
    return q


def probe_rate_limit(spark, sf_dir: str, mult: int, epochs: int = 4) -> dict:
    from gravity_spark.queries import T, _RL_CAP, _RL_COST
    from gravity_spark.streaming.windows import rate_limit_stateful

    ev = T(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    if mult > 1:  # more events for the SAME users
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        ev = (
            ev.crossJoin(reps)
            .select(
                "user_id",
                (F.col("event_id") + F.col("rep") * _OFF).alias("event_id"),
                (F.col("ts_us") + F.col("rep")).alias("ts_us"),
            )
        )
    ev = ev.persist()
    n_events, n_users = ev.count(), ev.select("user_id").distinct().count()
    hi = ev.agg(F.max("event_id")).collect()[0][0] + 1
    step = (hi // epochs) + 1
    parts = [
        ev.filter(
            (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
        )
        for i in range(epochs)
    ]
    tmp = tempfile.mkdtemp(prefix="ssp_rl_", dir="/dev/shm")
    try:
        stream_dir = _stage_files(parts, tmp)
        ev.unpersist()
        stream = (
            spark.readStream.schema("user_id long, event_id long, ts_us long")
            .option("maxFilesPerTrigger", "1")
            .json(stream_dir)
        )
        q = _run_noop(rate_limit_stateful(stream, _RL_CAP, _RL_COST), tmp)
        rows = _epoch_rows(q)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    final = rows[-1] if rows else {}
    return {
        "events": n_events,
        "users": n_users,
        "epochs": rows,
        "state_rows_final": final.get("state_rows"),
        # the law under test: one state cell per USER, not per event
        "state_eq_users": bool(final.get("state_rows") == n_users),
    }


def probe_mh_gate(spark, sf_dir: str, mult: int, epochs: int = 3) -> dict:
    from gravity_spark.functions.dedup import minhash_bands, minhash_signature
    from gravity_spark.queries import T
    from gravity_spark.streaming.windows import minhash_bucket_gate

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    if mult > 1:  # new ids, IDENTICAL text => same LSH buckets
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * _OFF).alias("doc_id"), "text"
        )
    docs = docs.persist()
    n_docs = docs.count()
    # predicted state size: distinct (band, bucket) of the batch banding
    banded = minhash_bands(minhash_signature(docs))
    n_buckets = banded.select("band", "bh").distinct().count()
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    step = (hi // epochs) + 1
    parts = [
        docs.filter(
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
        )
        for i in range(epochs)
    ]
    tmp = tempfile.mkdtemp(prefix="ssp_mh_", dir="/dev/shm")
    try:
        stream_dir = _stage_files(parts, tmp)
        docs.unpersist()
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .json(stream_dir)
        )
        # scale path (salt_buckets=None): one state cell per occupied
        # bucket — the per-key law this probe was written to measure
        q = _run_noop(
            minhash_bucket_gate(minhash_bands(minhash_signature(stream)), salt_buckets=None),
            tmp,
        )
        rows = _epoch_rows(q)
        # salted fast path: state rows = occupied salt keys, bounded by
        # the salt count regardless of flood size
        tmp2 = tempfile.mkdtemp(prefix="ssp_mh_salt_", dir="/dev/shm")
        try:
            stream2 = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .json(stream_dir)
            )
            q2 = _run_noop(
                minhash_bucket_gate(
                    minhash_bands(minhash_signature(stream2)), salt_buckets=1024
                ),
                tmp2,
            )
            rows_salted = _epoch_rows(q2)
        finally:
            shutil.rmtree(tmp2, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    final = rows[-1] if rows else {}
    final_salted = rows_salted[-1] if rows_salted else {}
    return {
        "docs": n_docs,
        "distinct_buckets": n_buckets,
        "epochs": rows,
        "state_rows_final": final.get("state_rows"),
        # the law under test: one state cell per OCCUPIED BUCKET, not per doc
        "state_eq_buckets": bool(final.get("state_rows") == n_buckets),
        "epochs_salted": rows_salted,
        "state_rows_final_salted": final_salted.get("state_rows"),
        # salted law: cells = occupied salt keys ≤ 1024, flood-invariant
        "state_le_salt": bool((final_salted.get("state_rows") or 1 << 60) <= 1024),
    }


def probe_wm_dedup(spark, sf_dir: str, mult: int, max_files: int = 6) -> dict:
    from gravity_spark.queries import T

    base = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    span = base.agg(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("s")
    ).collect()[0]["s"] + 2 * 86400  # copies 2 days apart: outside the 1-day horizon
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    ev = base.crossJoin(reps).select(
        (F.col("user_id") + F.col("rep") * _OFF).alias("user_id"),  # disjoint keys
        "event_type",
        F.timestamp_seconds(
            F.unix_timestamp("ts") + F.col("rep") * F.lit(int(span))
        ).alias("ts"),
        "rep",
    ).persist()
    n_events = ev.count()
    n_keys = ev.select("user_id", "event_type").distinct().count()
    base_keys = base.select("user_id", "event_type").distinct().count()
    # group the time-ordered copies into <= max_files epoch files
    n_files = min(mult, max_files)
    per = (mult + n_files - 1) // n_files
    parts = [
        ev.filter(
            (F.col("rep") >= i * per) & (F.col("rep") < (i + 1) * per)
        ).drop("rep")
        for i in range(n_files)
    ]
    tmp = tempfile.mkdtemp(prefix="ssp_wm_", dir="/dev/shm")
    try:
        stream_dir = _stage_files(parts, tmp)
        ev.unpersist()
        stream = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .json(stream_dir)
        )
        deduped = (
            stream.withWatermark("ts", "1 day")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        )
        q = _run_noop(deduped, tmp)
        rows = _epoch_rows(q)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    final = rows[-1] if rows else {}
    removed = sum(r.get("removed") or 0 for r in rows)
    return {
        "events": n_events,
        "corpus_keys": n_keys,
        "keys_per_horizon_slice": base_keys * per,
        "epochs": rows,
        "state_rows_final": final.get("state_rows"),
        "rows_removed_total": removed,
        # the law under test: end state ~= the horizon's keys, NOT the
        # 50x corpus (eviction actually ran)
        "state_bounded_by_horizon": bool(
            mult == 1
            or (
                (final.get("state_rows") or 0) <= 2 * base_keys * per
                and removed > 0
            )
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    mults = [int(m) for m in sys.argv[2:]] or [1, 10, 50]
    spark = probe_session()
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # state stores
    for mult in mults:
        rec = {"mult": mult}
        rec["rate_limit"] = probe_rate_limit(spark, sf_dir, mult)
        rec["mh_gate"] = probe_mh_gate(spark, sf_dir, mult)
        rec["wm_dedup"] = probe_wm_dedup(spark, sf_dir, mult)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
