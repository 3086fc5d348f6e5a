"""Epoch-geometry assertions for every stream the registry runs: a
foreachBatch/availableNow query whose micro-batch count drifts measures
trigger geometry, not compute — the r8 bench disagreed with itself 2.4x
on `streaming_stream_join` for exactly this reason. Every row here pins
its EXACT expected geometry, so any future trigger-planning change
(file-listing order, no-data-batch policy, maxFilesPerTrigger behavior)
becomes a test failure instead of a bench mystery. Each registry stream
runs through `queries._run_available_now` (the CDC pipeline through the
library's `run_stream`); both wait in `queries._await_stream`, which
records the terminated query's geometry from its recentProgress into
`queries.LAST_STREAM_GEOMETRY`.
"""

import pytest

from gravity_spark import queries as Q


def _geom(spark, sf_dir, name):
    Q.LAST_STREAM_GEOMETRY = None
    df = Q.REGISTRY[name].spark(spark, sf_dir)
    df.count()  # streams already ran inside the query fn; force the read too
    assert Q.LAST_STREAM_GEOMETRY is not None, f"{name} recorded no geometry"
    return Q.LAST_STREAM_GEOMETRY


def test_stream_join_single_data_batch(spark, sf_dir):
    # inner join runs with no-data micro-batches disabled (eviction-only
    # trailing batch, no output contribution): exactly 1 batch total
    g = _geom(spark, sf_dir, "streaming_stream_join")
    assert g == {"batches": 1, "data_batches": 1, "nodata_batches": 0}


def test_stream_outer_join_flush_batch(spark, sf_dir):
    # left-outer NEEDS the trailing no-data batch — it is the null-side
    # flush: exactly 1 data batch + 1 flush batch
    g = _geom(spark, sf_dir, "streaming_stream_outer_join")
    assert g["data_batches"] == 1
    assert g["batches"] == 2


def test_window_counts_single_batch(spark, sf_dir):
    g = _geom(spark, sf_dir, "streaming_window_counts")
    assert g["data_batches"] == 1
    assert g["batches"] == 1


def test_late_data_audit_three_epochs(spark, sf_dir):
    # three files fed through maxFilesPerTrigger=1: the admitted/late
    # SEMANTICS depend on this sequencing (epoch A sets the watermark
    # before B and C arrive), so geometry drift here is a correctness
    # bug, not just a bench one
    g = _geom(spark, sf_dir, "streaming_late_data_audit")
    assert g["data_batches"] == 3


def test_replayed_epoch_exactly_two(spark, sf_dir):
    # 2 files (original + byte-identical redelivery) x maxFilesPerTrigger=1:
    # the idempotence claim is "epoch 2 re-applies epoch 1's merge" — it
    # must actually BE two separate merge epochs
    g = _geom(spark, sf_dir, "cdc_replayed_epoch_idempotent")
    assert g["data_batches"] == 2


def test_cdc_pipeline_single_epoch(spark, sf_dir):
    # one parquet file, trigger once: the whole feed lands in one merge
    g = _geom(spark, sf_dir, "streaming_cdc_pipeline")
    assert g["data_batches"] == 1


def test_scd2_maintain_exactly_two_epochs(spark, sf_dir):
    # 2 seq-split files x maxFilesPerTrigger=1: the SCD2 maintenance is
    # specifically a two-epoch history build (close-then-open per key
    # across the seq midpoint), so the epoch count is semantic here too
    g = _geom(spark, sf_dir, "streaming_scd2_maintain")
    assert g["data_batches"] == 2


def test_sessionize_stateful_single_batch(spark, sf_dir):
    # one events file, one availableNow trigger; no watermark, so no
    # trailing no-data batch: each user emits its one update row here
    g = _geom(spark, sf_dir, "streaming_sessionize_stateful")
    assert g == {"batches": 1, "data_batches": 1, "nodata_batches": 0}


def test_minhash_gate_exactly_two_epochs(spark, sf_dir):
    # 2 doc_id-split files x maxFilesPerTrigger=1: the second epoch's
    # verdicts depend on the bucket owners the first one stored
    g = _geom(spark, sf_dir, "streaming_minhash_dedup_gate")
    assert g == {"batches": 2, "data_batches": 2, "nodata_batches": 0}


def test_incremental_rollup_exactly_two_epochs(spark, sf_dir):
    # 4 files x maxFilesPerTrigger=2: two additive merges, each guarded
    # by its epoch id
    g = _geom(spark, sf_dir, "streaming_incremental_rollup")
    assert g == {"batches": 2, "data_batches": 2, "nodata_batches": 0}


def test_rate_limit_exactly_two_epochs(spark, sf_dir):
    # 2 event_id-split files x maxFilesPerTrigger=1: token state carries
    # across the epoch boundary
    g = _geom(spark, sf_dir, "streaming_rate_limit_stateful")
    assert g == {"batches": 2, "data_batches": 2, "nodata_batches": 0}


def test_dedup_watermark_eviction_batch(spark, sf_dir):
    # one data batch, then the watermark's no-data batch that evicts
    # the dedup state (append mode emits in the data batch)
    g = _geom(spark, sf_dir, "streaming_dedup_watermark")
    assert g == {"batches": 2, "data_batches": 1, "nodata_batches": 1}
