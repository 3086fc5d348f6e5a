import os

from gravity_spark.sinks.parquet_merge import ParquetMergeTarget


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, dt string, v string, op string, seq long")


def test_partition_scoped_rewrite(spark, tmp_path):
    t = ParquetMergeTarget(
        spark, str(tmp_path / "tgt"), ["id"],
        "id long, dt string, v string", partition_col="dt",
    )
    t.apply_batch(_batch(spark, [
        (1, "2024-01-01", "a", "insert", 1),
        (2, "2024-01-01", "b", "insert", 2),
        (3, "2024-01-02", "c", "insert", 3),
    ]), epoch_id=0)
    assert t.partition_version("2024-01-01") == 1
    assert t.partition_version("2024-01-02") == 1

    # second batch touches only 2024-01-01
    t.apply_batch(_batch(spark, [
        (1, "2024-01-01", "a2", "update", 4),
        (2, "2024-01-01", "b", "delete", 5),
    ]), epoch_id=1)
    # untouched partition keeps its version (no rewrite)
    assert t.partition_version("2024-01-01") == 2
    assert t.partition_version("2024-01-02") == 1

    state = {(r["id"]): (r["dt"], r["v"]) for r in t.read().collect()}
    assert state == {1: ("2024-01-01", "a2"), 3: ("2024-01-02", "c")}


def test_partitioned_idempotent_redelivery(spark, tmp_path):
    t = ParquetMergeTarget(
        spark, str(tmp_path / "tgt2"), ["id"],
        "id long, dt string, v string", partition_col="dt",
    )
    batch = _batch(spark, [(1, "d1", "x", "insert", 1)])
    t.apply_batch(batch, 0)
    t.apply_batch(batch, 0)  # redelivered
    assert [ (r["id"], r["v"]) for r in t.read().collect() ] == [(1, "x")]


def test_partitioned_streaming_pipeline(spark, tmp_path):
    import json as _json

    from pyspark.sql import functions as F

    from gravity_spark.streaming.pipeline import file_cdc_source, run_stream

    src = tmp_path / "cdc"
    src.mkdir()
    with open(src / "p0.json", "w") as f:
        for r in [
            {"type": "dml", "database": "a", "table": "t", "op": "insert",
             "data": {"id": "1", "dt": "d1", "v": "a"}, "pks": {"id": "1"},
             "stream_key": "s", "seq": 1},
            {"type": "dml", "database": "a", "table": "t", "op": "insert",
             "data": {"id": "2", "dt": "d2", "v": "b"}, "pks": {"id": "2"},
             "stream_key": "s", "seq": 2},
        ]:
            f.write(_json.dumps(r) + "\n")

    t = ParquetMergeTarget(
        spark, str(tmp_path / "tgt3"), ["id"],
        "id long, dt string, v string", partition_col="dt",
    )

    def typed(df):
        return df.select(
            F.col("data").getItem("id").cast("long").alias("id"),
            F.col("data").getItem("dt").alias("dt"),
            F.col("data").getItem("v").alias("v"),
            "op", "seq",
        )

    q = run_stream(file_cdc_source(spark, str(src)), t, typed, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()
    assert {r["id"]: r["dt"] for r in t.read().collect()} == {1: "d1", 2: "d2"}


def test_partition_value_path_encoding(spark, tmp_path):
    """Partition values whose Python str() differs from Spark's
    partition-path encoding must survive the staging rename: Spark
    URL-escapes specials (space → %20, colon → %3A) and renders NULL as
    __HIVE_DEFAULT_PARTITION__, so a str(val)-keyed lookup used to see
    'no staged dir' and silently drop the live partition."""
    t = ParquetMergeTarget(
        spark, str(tmp_path / "enc"), ["id"],
        "id long, dt string, v string", partition_col="dt",
    )
    t.apply_batch(_batch(spark, [
        (1, "a b:c", "x", "insert", 1),
        (2, "plain", "y", "insert", 2),
        (3, None, "z", "insert", 3),
    ]), epoch_id=0)
    state = {r["id"]: (r["dt"], r["v"]) for r in t.read().collect()}
    assert state == {1: ("a b:c", "x"), 2: ("plain", "y"), 3: (None, "z")}
    assert t.partition_version("a b:c") == 1

    # update inside the escaped partition bumps only its version
    t.apply_batch(_batch(spark, [(1, "a b:c", "x2", "update", 4)]), epoch_id=1)
    assert t.partition_version("a b:c") == 2
    assert t.partition_version("plain") == 1
    state = {r["id"]: r["v"] for r in t.read().collect()}
    assert state == {1: "x2", 2: "y", 3: "z"}

    # genuine full delete of the escaped partition is still a delete
    t.apply_batch(_batch(spark, [(1, "a b:c", None, "delete", 5)]), epoch_id=2)
    state = {r["id"]: r["v"] for r in t.read().collect()}
    assert state == {2: "y", 3: "z"}


def test_partition_value_empty_string_rejected(spark, tmp_path):
    """'' and NULL share one __HIVE_DEFAULT_PARTITION__ path child, so
    they cannot be staged distinctly — the sink must reject '' loudly at
    apply time rather than misclassify the live partition as deleted."""
    import pytest

    t = ParquetMergeTarget(
        spark, str(tmp_path / "empt"), ["id"],
        "id long, dt string, v string", partition_col="dt",
    )
    with pytest.raises(ValueError, match="empty-string.*partition|sentinel"):
        t.apply_batch(_batch(spark, [
            (1, "", "x", "insert", 1),
            (2, None, "y", "insert", 2),
        ]), epoch_id=0)


def test_partition_value_bool_encoding(spark, tmp_path):
    """Boolean partition column: Spark renders 'true'/'false' in the
    path while Python str() gives 'True'/'False'."""
    t = ParquetMergeTarget(
        spark, str(tmp_path / "encb"), ["id"],
        "id long, flag boolean, v string", partition_col="flag",
    )
    t.apply_batch(spark.createDataFrame(
        [(1, True, "t", "insert", 1), (2, False, "f", "insert", 2)],
        "id long, flag boolean, v string, op string, seq long"), 0)
    state = {r["id"]: (r["flag"], r["v"]) for r in t.read().collect()}
    assert state == {1: (True, "t"), 2: (False, "f")}


def test_vacuum_keeps_current(spark, tmp_path):
    t = ParquetMergeTarget(spark, str(tmp_path / "tv"), ["id"], "id long, v string")
    for i in range(4):
        t.apply_batch(
            spark.createDataFrame([(1, f"v{i}", "update", i)],
                                  "id long, v string, op string, seq long"), i)
    assert t._current_version() == 4
    removed = t.vacuum(keep_last=2)
    assert removed == 2  # v1, v2 removed; v3, v4 kept
    assert [r["v"] for r in t.read().collect()] == ["v3"]

    # partitioned variant
    tp = ParquetMergeTarget(spark, str(tmp_path / "tp"), ["id"],
                            "id long, dt string, v string", partition_col="dt")
    for i in range(3):
        tp.apply_batch(
            spark.createDataFrame([(1, "d1", f"x{i}", "update", i)],
                                  "id long, dt string, v string, op string, seq long"), i)
    removed = tp.vacuum(keep_last=1)
    assert removed == 2
    assert [r["v"] for r in tp.read().collect()] == ["x2"]


def test_time_travel_read_version(spark, tmp_path):
    import pytest

    t = ParquetMergeTarget(spark, str(tmp_path / "tt"), ["id"], "id long, v string")
    for i in range(3):
        t.apply_batch(
            spark.createDataFrame([(1, f"v{i}", "update", i)],
                                  "id long, v string, op string, seq long"), i)
    # VERSION AS OF: each immutable version dir reflects state after batch i
    assert [r["v"] for r in t.read_version(1).collect()] == ["v0"]
    assert [r["v"] for r in t.read_version(2).collect()] == ["v1"]
    assert [r["v"] for r in t.read().collect()] == ["v2"]
    t.vacuum(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.read_version(1)


def test_aggregate_rollup_epoch_guard(spark, tmp_path):
    from gravity_spark.sinks.parquet_merge import AggregateRollupTarget

    t = AggregateRollupTarget(
        spark, str(tmp_path / "agg"), ["k"], ["n"], "k string, n long"
    )
    batch = spark.createDataFrame([("a", 2), ("b", 1)], "k string, n long")
    t.apply_batch(batch, epoch_id=0)
    t.apply_batch(batch, epoch_id=0)  # redelivery: must be a no-op
    assert {r["k"]: r["n"] for r in t.read().collect()} == {"a": 2, "b": 1}
    t.apply_batch(batch, epoch_id=1)  # new epoch: accumulates
    assert {r["k"]: r["n"] for r in t.read().collect()} == {"a": 4, "b": 2}


def _no_coalesce(spark):
    # AQE normally right-sizes tiny writes to one file; disable it while
    # building the fragmented state a parallel merge produces at scale
    import contextlib

    @contextlib.contextmanager
    def ctx():
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return ctx()


def test_compact_bin_packs_small_files(spark, tmp_path):
    t = ParquetMergeTarget(spark, str(tmp_path / "tc"), ["id"], "id long, v string")
    rows = [(i, f"v{i}", "insert", i) for i in range(100)]
    with _no_coalesce(spark):
        t.apply_batch(
            spark.createDataFrame(rows, "id long, v string, op string, seq long")
            .repartition(8), 0)
    before = {(r["id"], r["v"]) for r in t.read().collect()}
    v_before = t._current_version()

    stats = t.compact(target_bytes=10**9)["<table>"]
    assert stats["files_after"] == 1
    assert stats["files_before"] > 1
    # data byte-identical, new version atomically current, old readable
    assert t._current_version() == v_before + 1
    assert {(r["id"], r["v"]) for r in t.read().collect()} == before
    assert t.read_version(v_before).count() == 100
    # already-compact table: no-op, version unchanged
    assert t.compact(target_bytes=10**9)["<table>"]["files_after"] == 1
    assert t._current_version() == v_before + 1


def test_compact_partitioned(spark, tmp_path):
    t = ParquetMergeTarget(spark, str(tmp_path / "tcp"), ["id"],
                           "id long, dt string, v string", partition_col="dt")
    rows = [(i, f"d{i % 2}", f"v{i}", "insert", i) for i in range(60)]
    t.apply_batch(
        spark.createDataFrame(rows, "id long, dt string, v string, op string, seq long"), 0)
    # apply_batch now rebalances its staged write to right-sized files,
    # so fragment each partition's current version BY HAND to build the
    # accumulated-small-files state compaction exists for
    for val in ("d0", "d1"):
        src = str(tmp_path / "tcp" / f"p={val}" / f"v{t.partition_version(val)}")
        frag = src + "_frag"
        with _no_coalesce(spark):
            spark.read.parquet(src).repartition(3).write.parquet(frag)
        import shutil
        shutil.rmtree(src)
        os.replace(frag, src)
    before = {(r["id"], r["v"]) for r in t.read().collect()}
    stats = t.compact(target_bytes=10**9)
    assert set(stats) == {"d0", "d1"}
    assert all(s["files_after"] == 1 for s in stats.values())
    assert {(r["id"], r["v"]) for r in t.read().collect()} == before
    # vacuum reclaims the pre-compaction version dirs
    assert t.vacuum(keep_last=1) == 2


def test_stream_with_compaction_cadence(spark, tmp_path):
    """Maintenance rides the stream's epoch cadence: with
    compact_every=1 each epoch's merge is followed by bin-packing to a
    single file + vacuum, and the final state still equals the LWW
    truth."""
    from pyspark.sql import functions as F

    from gravity_spark.streaming.pipeline import run_stream

    src = str(tmp_path / "src")
    with _no_coalesce(spark):
        spark.createDataFrame(
            [(i, f"v{i}", "insert", i) for i in range(40)],
            "id long, v string, op string, seq long",
        ).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "2").parquet(src)
    )
    t = ParquetMergeTarget(spark, str(tmp_path / "tgt"), ["id"], "id long, v string")
    with _no_coalesce(spark):
        q = run_stream(
            stream, t, lambda df: df.select("id", "v", "op", "seq"),
            str(tmp_path / "ckpt"), compact_every=1,
        )
        q.processAllAvailable()
        q.stop()
    assert t.read().count() == 40
    # current version dir is bin-packed to one file
    cur = t._current_version()
    vdir = str(tmp_path / "tgt" / f"v{cur}")
    n_files = len([e for e in os.listdir(vdir) if e.endswith(".parquet")])
    assert n_files == 1


def test_changes_between_versions(spark, tmp_path):
    """Change data feed between retained versions: insert/update/delete
    classification with pre/post images, unchanged rows dropped."""
    from gravity_spark.sinks.parquet_merge import ParquetMergeTarget

    t = ParquetMergeTarget(
        spark, str(tmp_path / "cdf"), ["id"], "id long, v string, qty long"
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "id long, v string, qty long, op string, seq long"
        )

    t.apply_batch(batch([
        (1, "a", 10, "insert", 1),
        (2, "b", 20, "insert", 2),
        (3, "c", 30, "insert", 3),
    ]))
    v1 = t._current_version()
    t.apply_batch(batch([
        (2, "b2", 21, "update", 4),   # changed
        (3, "c", 30, "update", 5),    # written but value-identical → not in CDF
        (4, "d", 40, "insert", 6),    # new
        (1, "a", 10, "delete", 7),    # gone
    ]))
    v2 = t._current_version()

    cdf = {r["id"]: r for r in t.changes_between(v1, v2).collect()}
    assert set(cdf) == {1, 2, 4}  # id=3 unchanged → absent
    assert cdf[1]["op"] == "delete" and cdf[1]["old_v"] == "a" and cdf[1]["new_v"] is None
    assert cdf[2]["op"] == "update" and cdf[2]["old_qty"] == 20 and cdf[2]["new_qty"] == 21
    assert cdf[4]["op"] == "insert" and cdf[4]["old_v"] is None and cdf[4]["new_v"] == "d"

    # symmetric sanity: reversing the versions flips inserts/deletes
    rev = {r["id"]: r["op"] for r in t.changes_between(v2, v1).collect()}
    assert rev[1] == "insert" and rev[4] == "delete" and rev[2] == "update"


def test_partition_recreated_after_full_delete(spark, tmp_path):
    """A fully deleted partition leaves the manifest but its version
    dirs stay on disk until vacuumed; re-creating the same value writes
    over the stale dir instead of failing the rename."""
    t = ParquetMergeTarget(
        spark, str(tmp_path / "rc"), ["id"],
        "id long, dt string, v string", partition_col="dt",
    )
    t.apply_batch(_batch(spark, [(1, "d1", "a", "insert", 1)]), epoch_id=0)
    t.apply_batch(_batch(spark, [(1, "d1", None, "delete", 2)]), epoch_id=1)
    assert t.partition_version("d1") is None
    t.apply_batch(_batch(spark, [(2, "d1", "b", "insert", 3)]), epoch_id=2)
    assert t.partition_version("d1") == 1
    assert [(r["id"], r["v"]) for r in t.read().collect()] == [(2, "b")]


def test_vacuum_reclaims_fully_deleted_partition(spark, tmp_path):
    """A partition whose rows were all deleted drops out of the
    manifest; vacuum still removes its version dirs, once."""
    root = tmp_path / "vd"
    t = ParquetMergeTarget(
        spark, str(root), ["id"], "id long, dt string, v string", partition_col="dt",
    )
    t.apply_batch(_batch(spark, [(1, "a", "x", "insert", 1),
                                 (2, "b", "y", "insert", 2)]), epoch_id=0)
    seq = 3
    for epoch in range(1, 4):
        t.apply_batch(_batch(spark, [(2, "b", f"y{epoch}", "update", seq)]), epoch_id=epoch)
        seq += 1
    t.apply_batch(_batch(spark, [(1, "a", None, "delete", seq)]), epoch_id=4)
    for epoch in range(5, 8):
        seq += 1
        t.apply_batch(_batch(spark, [(2, "b", f"y{epoch}", "update", seq)]), epoch_id=epoch)
    assert t.partition_version("a") is None and t.partition_version("b") == 7
    assert (root / "p=a" / "v1").exists()

    assert t.vacuum(keep_last=1) == 7  # p=a/v1, p=b/v1..v6
    assert not (root / "p=a" / "v1").exists()
    assert sorted(os.listdir(root / "p=b")) == ["v7"]
    assert t.vacuum(keep_last=1) == 0
    assert [(r["id"], r["v"]) for r in t.read().collect()] == [(2, "y7")]


def test_vacuum_keeps_slash_valued_partition(spark, tmp_path):
    """A value with '/' in it gets one flat scope dir (p=api%2Fv1 is
    value 'api/v1'); vacuum keeps its current version."""
    root = tmp_path / "sl"
    t = ParquetMergeTarget(
        spark, str(root), ["id"], "id long, dt string, v string", partition_col="dt",
    )
    for epoch in range(3):
        op = "insert" if epoch == 0 else "update"
        t.apply_batch(_batch(spark, [(1, "api/v1", f"x{epoch}", op, epoch + 1)]), epoch_id=epoch)
    assert t.partition_version("api/v1") == 3
    assert sorted(os.listdir(root / "p=api%2Fv1")) == ["v1", "v2", "v3"]

    assert t.vacuum(keep_last=1) == 2
    assert sorted(os.listdir(root / "p=api%2Fv1")) == ["v3"]
    assert [(r["id"], r["v"]) for r in t.read().collect()] == [(1, "x2")]


def test_prefix_and_slash_values_in_one_epoch(spark, tmp_path):
    """'api' and 'api/v1' (and the '%' values that escaping must keep
    apart from them) are distinct scopes: one epoch inserting all of
    them commits, reads back, and vacuums without touching a live
    partition."""
    root = tmp_path / "pf"
    t = ParquetMergeTarget(
        spark, str(root), ["id"], "id long, dt string, v string", partition_col="dt",
    )
    vals = ["api", "api/v1", "api%2Fv1", "a%b"]
    t.apply_batch(
        _batch(spark, [(i, d, f"x{i}", "insert", i) for i, d in enumerate(vals)]),
        epoch_id=0,
    )
    t.apply_batch(_batch(spark, [(0, "api", "y0", "update", 9)]), epoch_id=1)
    assert {d: t.partition_version(d) for d in vals} == {
        "api": 2, "api/v1": 1, "api%2Fv1": 1, "a%b": 1,
    }
    want = {(0, "api", "y0"), (1, "api/v1", "x1"), (2, "api%2Fv1", "x2"), (3, "a%b", "x3")}
    assert {(r["id"], r["dt"], r["v"]) for r in t.read().collect()} == want
    assert t.vacuum(keep_last=1) == 1  # api's v1 only
    assert {(r["id"], r["dt"], r["v"]) for r in t.read().collect()} == want
    assert sorted(e for e in os.listdir(root) if e.startswith("p=")) == [
        "p=a%25b", "p=api", "p=api%252Fv1", "p=api%2Fv1",
    ]


def test_vacuum_spares_uncommitted_partition(spark, tmp_path):
    """An epoch puts a new partition's version in place before its
    manifest flip names it; a vacuum in between must leave it."""
    root = tmp_path / "inf"
    t = ParquetMergeTarget(
        spark, str(root), ["id"], "id long, dt string, v string", partition_col="dt",
    )
    t.apply_batch(_batch(spark, [(1, "a", "x", "insert", 1)]), epoch_id=0)
    pending = root / "p=c" / "v1"
    pending.mkdir(parents=True)
    (pending / "part-0.parquet").write_bytes(b"")
    later = os.stat(t._pointer).st_mtime + 1
    os.utime(pending, (later, later))

    assert t.vacuum(keep_last=1) == 0
    assert pending.exists()


def _listing(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def test_narrowing_batch_rejected_before_any_write(spark, tmp_path):
    """A ``score double`` batch into a ``score long`` target used to
    write its version as DOUBLE under a manifest that says long. It is
    refused, naming the column and both types, before a version dir or
    the manifest changes."""
    import pytest

    root = str(tmp_path / "nt")
    t = ParquetMergeTarget(spark, root, ["id"], "id long, score long")
    t.apply_batch(spark.createDataFrame(
        [(1, 10, "insert", 1)], "id long, score long, op string, seq long"), 0)
    with open(os.path.join(root, "_current.json")) as f:
        manifest = f.read()
    files = _listing(root)
    drift = spark.createDataFrame(
        [(1, 2.5, "update", 2)], "id long, score double, op string, seq long")
    with pytest.raises(ValueError, match=r"'score'.*double.*bigint"):
        t.apply_batch(drift, 1)
    with open(os.path.join(root, "_current.json")) as f:
        assert f.read() == manifest
    assert _listing(root) == files
    assert t.schema_ddl == "id long, score long"
    assert [tuple(r) for r in t.read().collect()] == [(1, 10)]


def test_rejected_batch_does_not_evolve_schema(spark, tmp_path):
    """A batch that adds a column and narrows another is refused
    whole: the new column does not reach the declared schema."""
    import pytest

    t = ParquetMergeTarget(spark, str(tmp_path / "ne"), ["id"], "id long, score long")
    bad = spark.createDataFrame(
        [(1, "x", 5, "insert", 1)], "id long, score string, extra int, op string, seq long"
    )
    with pytest.raises(ValueError):
        t.apply_batch(bad, 0)
    assert t.schema_ddl == "id long, score long"


def test_int_batch_upcast_into_bigint_target(spark, tmp_path):
    """Up-casts are applied: an int batch lands as bigint, so every
    version holds the declared type and the pinned read agrees with the
    files."""
    t = ParquetMergeTarget(spark, str(tmp_path / "up"), ["id"], "id bigint, score bigint")
    t.apply_batch(spark.createDataFrame(
        [(1, 7, "insert", 1), (2, 8, "insert", 2)],
        "id int, score int, op string, seq long"), 0)
    t.apply_batch(spark.createDataFrame(
        [(2, 9, "update", 3)], "id int, score int, op string, seq long"), 1)
    df = t.read()
    assert df.dtypes == [("id", "bigint"), ("score", "bigint")]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 7), (2, 9)]
    # the written version itself is bigint, not only the pinned read
    assert t.read_version(t._current_version()).dtypes == df.dtypes


def test_aggregate_rollup_writes_declared_types(spark, tmp_path):
    """The rollup casts its merged output to the declared schema (and
    order): a decimal sum widens to decimal(20,2), which the next
    epoch's pinned decimal(10,2) read would not match."""
    from decimal import Decimal

    from gravity_spark.sinks.parquet_merge import AggregateRollupTarget

    t = AggregateRollupTarget(
        spark, str(tmp_path / "aggt"), ["k"], ["amt"], "amt decimal(10,2), k string"
    )
    batch = spark.createDataFrame(
        [("a", Decimal("2.50")), ("b", Decimal("1.25"))], "k string, amt decimal(10,2)"
    )
    t.apply_batch(batch, epoch_id=0)
    t.apply_batch(batch, epoch_id=1)
    declared = [("amt", "decimal(10,2)"), ("k", "string")]
    assert spark.read.parquet(os.path.join(t.path, "v1")).dtypes == declared
    assert spark.read.parquet(os.path.join(t.path, "v2")).dtypes == declared
    assert {r["k"]: r["amt"] for r in t.read().collect()} == {
        "a": Decimal("5.00"), "b": Decimal("2.50")
    }


def test_unpartitioned_versions_keep_scan_layout(spark, tmp_path):
    """An unpartitioned version is written as planned, with no
    REBALANCE: its files are the current version's scan splits plus the
    epoch's upserts, one AQE-coalesced shuffle read. 32 shuffle
    partitions is the setting under which an unrebalanced write over a
    PERSISTED upsert side (whose partitions AQE never coalesces) wrote
    32 ~1 KB slivers per version; every version must stay at base
    splits + 1 files or fewer, and the table equal to the last-write-
    wins model."""
    import random

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        t = ParquetMergeTarget(spark, str(tmp_path / "lay"), ["id"], "id long, v string")
        rng = random.Random(8)
        model: dict = {}
        seq = 0
        for epoch in range(10):
            rows = []
            for _ in range(200):
                seq += 1
                k = rng.randrange(300)
                op = "delete" if rng.random() < 0.1 else "update"
                rows.append((k, f"e{epoch}s{seq}", op, seq))
                if op == "delete":
                    model.pop(k, None)
                else:
                    model[k] = f"e{epoch}s{seq}"
            splits = t.read().rdd.getNumPartitions()
            t.apply_batch(
                spark.createDataFrame(rows, "id long, v string, op string, seq long"),
                epoch_id=epoch,
            )
            vdir = os.path.join(t.path, f"v{t._current_version()}")
            files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
            assert len(files) <= splits + 1, (epoch, splits, len(files))
            assert len(files) < 32, f"epoch {epoch} wrote {len(files)} sliver files"
    finally:
        spark.conf.set(key, before)
    assert {r["id"]: r["v"] for r in t.read().collect()} == model
