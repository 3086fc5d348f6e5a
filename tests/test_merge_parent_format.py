"""A merge target written by the earlier layout re-opens unchanged.

The manifest and version dirs below are written by hand, in the format
``ParquetMergeTarget`` has always used: ``_current.json`` with the keys
``version``, ``epoch``, ``partitions``, ``schema`` and ``pk``; version
dirs ``v{n}`` at the root (unpartitioned) or under ``p=<value>``
(partitioned)."""

import json
import os

from gravity_spark.sinks.parquet_merge import ParquetMergeTarget

SCHEMA = "id bigint, d string, v string"
KEYS = {"version", "epoch", "partitions", "schema", "pk"}


def _write(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).write.parquet(path)


def _manifest(root, m):
    with open(os.path.join(root, "_current.json"), "w") as f:
        json.dump({**m, "schema": SCHEMA, "pk": ["id"]}, f)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA + ", op string, seq long")


def _state(t):
    return {r["id"]: (r["d"], r["v"]) for r in t.read().collect()}


def test_unpartitioned_parent_layout(spark, tmp_path):
    root = str(tmp_path / "u")
    _write(spark, f"{root}/v2", [(1, "a", "old")])
    _write(spark, f"{root}/v3", [(1, "a", "x"), (2, "b", "y")])
    _manifest(root, {"version": 3, "epoch": 7, "partitions": {}})

    t = ParquetMergeTarget(spark, root, ["id"], "id bigint")
    assert t.schema_ddl == SCHEMA
    assert _state(t) == {1: ("a", "x"), 2: ("b", "y")}

    t.apply_batch(_batch(spark, [(2, "b", "y2", "update", 1),
                                 (3, "c", "z", "insert", 2)]), epoch_id=8)
    with open(f"{root}/_current.json") as f:
        m = json.load(f)
    assert set(m) == KEYS
    assert (m["version"], m["epoch"], m["partitions"]) == (4, 8, {})
    assert _state(t) == {1: ("a", "x"), 2: ("b", "y2"), 3: ("c", "z")}
    assert t.read_version(3).count() == 2

    assert t.vacuum(keep_last=1) == 2  # v2, v3
    assert sorted(e for e in os.listdir(root) if e.startswith("v")) == ["v4"]
    assert _state(t) == {1: ("a", "x"), 2: ("b", "y2"), 3: ("c", "z")}


def test_partitioned_parent_layout(spark, tmp_path):
    root = str(tmp_path / "p")
    _write(spark, f"{root}/p=a/v1", [(1, "a", "old")])
    _write(spark, f"{root}/p=a/v2", [(1, "a", "x")])
    _write(spark, f"{root}/p=b/v1", [(2, "b", "y")])
    _manifest(root, {"version": 5, "epoch": 2, "partitions": {"a": 2, "b": 1}})

    t = ParquetMergeTarget(spark, root, ["id"], SCHEMA, partition_col="d")
    assert _state(t) == {1: ("a", "x"), 2: ("b", "y")}

    t.apply_batch(_batch(spark, [(1, "a", "x2", "update", 1),
                                 (3, "c", "z", "insert", 2)]), epoch_id=3)
    with open(f"{root}/_current.json") as f:
        m = json.load(f)
    assert set(m) == KEYS
    assert (m["version"], m["epoch"]) == (6, 3)
    assert m["partitions"] == {"a": 3, "b": 1, "c": 1}
    assert _state(t) == {1: ("a", "x2"), 2: ("b", "y"), 3: ("c", "z")}

    assert t.vacuum(keep_last=1) == 2  # p=a/v1, p=a/v2
    assert sorted(os.listdir(f"{root}/p=a")) == ["v3"]
    assert _state(t) == {1: ("a", "x2"), 2: ("b", "y"), 3: ("c", "z")}
