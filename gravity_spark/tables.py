"""Parquet table loader with pinned schemas.

``spark.read.parquet(path)`` infers the schema from the parquet footers,
and that inference runs a Spark job every time a DataFrame is built. A
table whose schema is already known needs none: a read with a
user-supplied schema, ``spark.read.schema(s).parquet(path)``, only lists
files (the fixed-schema file source of Structured Streaming).

A caller that declares the schema (the merge sink, whose manifest
records it) reads with it directly. For the rest this loader infers the
schema once per (session, path, file stamp, the ``nanosAsLong``
setting) and pins the result for every later read.

A file's stamp is its ``(st_mtime_ns, st_size)``. A directory's stamp is
the name, mtime and size of every file under it, because rewriting a
directory in place can keep the directory's own mtime and size. A path
that cannot be stat'ed locally (a remote URI, a glob) is inferred on
every read, as before.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the setting that decides how TIMESTAMP(NANOS) columns are inferred
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# inferred schemas kept per session; the oldest path is dropped past this
_MAX_CACHED_PATHS = 1024

_inferred: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _stamp(path: str):
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_mtime_ns, st.st_size
    out = []
    for root, _, files in os.walk(path):
        for name in files:
            f = os.path.join(root, name)
            fs = os.stat(f)
            out.append((os.path.relpath(f, path), fs.st_mtime_ns, fs.st_size))
    return tuple(sorted(out))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of the parquet file or directory at ``path``, inferred
    at most once per (session, path, stamp, ``nanosAsLong``)."""
    try:
        stamp = (_stamp(path), spark.conf.get(_NANOS_AS_LONG, None))
    except OSError:
        return spark.read.parquet(path).schema
    cache = _inferred.setdefault(spark, {})
    key = os.path.abspath(path)
    hit = cache.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    cache.pop(key, None)
    if len(cache) >= _MAX_CACHED_PATHS:
        cache.pop(next(iter(cache)))
    cache[key] = (stamp, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The parquet file or directory at ``path``, read with its schema
    pinned (see ``parquet_schema``)."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)
