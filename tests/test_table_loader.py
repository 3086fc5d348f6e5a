"""The pinned-schema table loader (gravity_spark.tables) and ``T()``:
a table's footers are inferred once per file version, and every later
read builds its DataFrame without a Spark job."""

import itertools
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gravity_spark.queries import T, _normalize_ts
from gravity_spark.tables import parquet_schema

_groups = itertools.count()


def _jobs(spark, fn):
    """Spark jobs submitted while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"table_loader_{next(_groups)}"
    sc.setJobGroup(group, "table loader test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_T_submits_no_job(spark, sf_dir, tmp_path):
    # a private copy, so no earlier test has warmed the cache for it
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    d = str(tmp_path)
    assert _jobs(spark, lambda: T(spark, d, "orders")) >= 1  # infers
    assert _jobs(spark, lambda: T(spark, d, "orders")) == 0  # pinned
    assert T(spark, d, "orders").count() == spark.read.parquet(f"{d}/orders.parquet").count()


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert T(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = T(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_rewritten_directory_is_reinferred(spark, tmp_path):
    """A directory is stamped by the files under it: a rewrite that
    keeps the directory's own mtime and size is still seen."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    st = os.stat(d)
    assert parquet_schema(spark, str(d)).fieldNames() == ["a"]
    pq.write_table(pa.table({"a": [1], "b": [2]}), str(d / "part-0.parquet"))
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert parquet_schema(spark, str(d)).fieldNames() == ["a", "b"]


def test_events_ts_matches_inferring_read(spark, sf_dir):
    pinned = T(spark, sf_dir, "events")
    inferred = _normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    assert pinned.schema == inferred.schema
    assert dict(pinned.dtypes)["ts"] == "timestamp"
    key = ["event_id", "ts", "user_id"]
    assert ([tuple(r) for r in pinned.select(*key).orderBy(*key).collect()]
            == [tuple(r) for r in inferred.select(*key).orderBy(*key).collect()])


def test_nanosecond_ts_matches_inferring_read(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS), the other shape
    ``_normalize_ts`` handles: the pinned read asks for the inferred
    type, so it normalizes the same way."""
    ts = np.array([1704067200123456789, 1704067300987654321], dtype="datetime64[ns]")
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path,
                   version="2.6", coerce_timestamps=None)
    T(spark, str(tmp_path), "events")  # infer and pin
    pinned = T(spark, str(tmp_path), "events")
    inferred = _normalize_ts(spark.read.parquet(path))
    assert pinned.dtypes == inferred.dtypes == [("event_id", "bigint"), ("ts", "timestamp")]
    assert pinned.orderBy("event_id").collect() == inferred.orderBy("event_id").collect()
