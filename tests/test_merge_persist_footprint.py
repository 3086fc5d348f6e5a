"""Structural regression tests for the CDC apply path, the host-noise-
immune form of the throughput gate's primary check
(tools/throughput_gate.py::structural_check, run here at 200k rows and
in the round gate at 1M). An epoch scans its raw batch exactly once,
and no frame the sink persists is O(batch rows) — the r7 bug persisted
the raw batch. r9 calibration showed wall-clock rows/s alone cannot
separate the classes on this host (HEAD 293k-816k vs pre-fix 122k-536k
in same-day healthy-sentinel windows)."""

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from gravity_spark.sinks.parquet_merge import ParquetMergeTarget
from tools.throughput_gate import spied_persists, structural_check

ROWS = 200_000
KEYS = 500


@pytest.fixture(scope="module")
def struct_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("struct")


@pytest.fixture(scope="module")
def structural(spark, struct_dir):
    return structural_check(spark, str(struct_dir), ROWS, KEYS)


def test_replace_apply_scans_batch_once(spark, structural, struct_dir):
    passed, rec = structural
    assert rec["input_records"] == ROWS + KEYS, (
        f"the epoch read {rec['input_records']} source records, not one "
        f"batch scan plus the base ({ROWS + KEYS})"
    )
    assert all(c <= 2 * KEYS for c in rec["persisted_rows"]), (
        f"persisted footprint {rec['persisted_rows']} is O(batch rows), "
        "not O(keys) — the r7 raw-persist regression class"
    )
    assert passed
    # and the merge itself was correct: last write per key
    target = ParquetMergeTarget(spark, str(struct_dir / "struct_target"), ["k"], "k long, v long")
    rows = {r["k"]: r["v"] for r in target.read().collect()}
    assert len(rows) == KEYS
    assert rows[0] == ROWS - KEYS  # highest seq for key 0


def test_partitioned_apply_persists_collapsed_frame(structural):
    """The partitioned apply reads its epoch frame in two actions (the
    touched-scope collect, then the write), so it persists — the
    collapsed frame, O(keys)."""
    _, rec = structural
    assert rec["partitioned_persisted_rows"], "the partitioned apply no longer persists"
    assert all(c <= 2 * KEYS for c in rec["partitioned_persisted_rows"])


def test_scan_count_catches_a_second_batch_scan(spark, tmp_path):
    """Without exchange reuse the anti-join keys and the upserts each
    run the collapse, so the batch is scanned twice: the check must
    fail."""
    key = "spark.sql.exchange.reuse"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        passed, rec = structural_check(spark, str(tmp_path), ROWS, KEYS)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert not passed
    assert rec["input_records"] >= 2 * ROWS + KEYS


def test_insert_ignore_apply_keeps_raw_batch_persist(spark, tmp_path):
    """Documented exception: the insert-ignore engine reads the raw
    batch three ways (delete marks, first-after-delete collapse,
    deleted keys), so it legitimately persists the batch itself — the
    structural bound applies to the REPLACE/on-dup paths only."""
    target = ParquetMergeTarget(
        spark,
        str(tmp_path / "ti"),
        ["k"],
        "k long, v long",
        engine="mysql-insert-ignore",
    )
    changes = spark.range(1_000).selectExpr(
        "id % 50 AS k", "id AS v", "'insert' AS op", "id AS seq"
    )
    with spied_persists() as persisted:
        target.apply_batch(changes, epoch_id=1)
    assert persisted  # persists, raw-batch-sized is acceptable here
    assert target.read().count() == 50


def test_unpartitioned_apply_runs_no_discovery_collect(
    spark, tmp_path, monkeypatch
):
    """The root scope is always the one scope an unpartitioned epoch
    touches, so its apply collects nothing to the driver: no touched-
    scope discovery job rides the replication tail. The partitioned
    apply, which does discover its touched scopes, shows the spy sees
    a collect."""
    calls = []
    orig = DataFrame.collect

    def spy(self, *a, **k):
        calls.append(self)
        return orig(self, *a, **k)

    def batch(i):
        return spark.range(1_000).selectExpr(
            "id % 50 AS k", "id % 2 AS p", f"id + {i} AS v", "'update' AS op",
            "id AS seq",
        )

    target = ParquetMergeTarget(spark, str(tmp_path / "u"), ["k"], "k long, v long")
    monkeypatch.setattr(DataFrame, "collect", spy)
    target.apply_batch(batch(0).drop("p"), epoch_id=1)
    target.apply_batch(batch(1).drop("p"), epoch_id=2)
    assert calls == []

    part = ParquetMergeTarget(
        spark, str(tmp_path / "p"), ["k"], "k long, p long, v long",
        partition_col="p",
    )
    part.apply_batch(batch(0), epoch_id=1)
    assert calls
