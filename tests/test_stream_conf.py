"""_stream_conf must restore every conf it touches — including the
round-7 `extra` dict — even when the body raises; a leaked conf would
silently reshape every later query in a shared session (the driver
runs ALL queries in one vanilla session)."""

import pytest

from gravity_spark.queries import _stream_conf


def test_restores_partitions_and_extras(spark):
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    with _stream_conf(
        spark, partitions=3, extra={"spark.sql.files.maxPartitionBytes": "65536"}
    ):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "65536"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before_mpb


def test_restores_on_exception(spark):
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with _stream_conf(spark, partitions=5):
            raise RuntimeError("body failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts


def test_default_partitions_track_cores(spark):
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    cores = str(spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        with _stream_conf(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == cores
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before_parts)
