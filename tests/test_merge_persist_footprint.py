"""Structural regression test for the r7 CDC apply-path bug: the merge
sink must persist (and therefore shuffle/cache per epoch) the COLLAPSED
frame — O(distinct keys) — never the raw batch — O(batch rows). This is
the host-noise-immune form of the throughput gate's primary check
(tools/throughput_gate.py::structural_check runs the same spy at 1M
rows inside the round gate); r9 calibration showed wall-clock rows/s
alone cannot separate the classes on this host (HEAD 293k-816k vs
pre-fix 122k-536k in same-day healthy-sentinel windows)."""

from pyspark.sql.classic.dataframe import DataFrame

from gravity_spark.sinks.parquet_merge import ParquetMergeTarget

ROWS = 200_000
KEYS = 500


def _spy_persists(monkeypatch):
    persisted = []
    orig = DataFrame.persist

    def spy(self, *a, **k):
        persisted.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy)
    return persisted


def test_replace_apply_persists_collapsed_frame(spark, tmp_path, monkeypatch):
    target = ParquetMergeTarget(
        spark, str(tmp_path / "t"), ["k"], "k long, v long"
    )
    changes = spark.range(ROWS).selectExpr(
        f"id % {KEYS} AS k", "id AS v", "'update' AS op", "id AS seq"
    )
    persisted = _spy_persists(monkeypatch)
    target.apply_batch(changes, epoch_id=1)
    counts = [df.count() for df in persisted]
    assert counts, "apply_batch no longer persists the epoch frame"
    assert all(c <= 2 * KEYS for c in counts), (
        f"persisted footprint {counts} is O(batch rows), not O(keys) — "
        "the r7 raw-persist regression class"
    )
    # and the merge itself was correct: last write per key
    rows = {r["k"]: r["v"] for r in target.read().collect()}
    assert len(rows) == KEYS
    assert rows[0] == ROWS - KEYS  # highest seq for key 0


def test_insert_ignore_apply_keeps_raw_batch_persist(
    spark, tmp_path, monkeypatch
):
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
    persisted = _spy_persists(monkeypatch)
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
