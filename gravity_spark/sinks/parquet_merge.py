"""Parquet merge sink: the MySQL-output equivalent for the local harness.

Reference parity: pkg/outputs/mysql/mysql.go:222-482 (routed DML apply)
with the engine variants in gravity_spark.operators.upsert.

Without a transactional table format in the image, a target is a set of
**scopes**. A scope is a directory of immutable ``v{n}`` dirs, and one
manifest (``_current.json``) names each scope's current version:

- an unpartitioned target is the single root scope, ``<path>/v{n}``;
- a partitioned target has one scope per partition value,
  ``<path>/p=<value>/v{n}``, with '%' and '/' in the value escaped as
  ``%25`` and ``%2F``.

Every change (an epoch's merge, a DDL rewrite, a compaction) writes the
next version of each scope it touches, then flips the manifest with one
atomic rename. Readers always see a fully written state, a crash before
the flip leaves the old state current, and superseded versions stay
readable until ``vacuum``. This is the idempotent-sink contract of
Structured Streaming, and the moral equivalent of the reference's
position-flush-after-commit ordering (pkg/position_cache/cache.go:13,261).
At cluster scale a Delta/Iceberg ``MERGE INTO`` replaces the version write.

Manifest keys: ``version`` counts commits (a root scope is rewritten by
every commit, so its current dir is ``v{version}``), ``epoch`` is the
last applied streaming epoch, ``partitions`` maps each partition value
to its version, and ``schema`` / ``pk`` record the live schema so a
re-opened target needs no DDL replay.

Types follow the declared schema exactly:

- writes are cast to the declared types. A batch column may only be
  up-cast (Spark's ``Cast.canUpCast``: int to bigint, float to double,
  widening decimals); any other type difference raises ``ValueError``
  before a job runs or a version dir is written;
- current-state reads (``read``, ``read_partition`` and the state every
  merge, compaction and DDL rewrite starts from) are pinned to the
  manifest schema, so they infer no footers and run no job until the
  caller acts on the frame;
- history reads (``read_version``, ``changes_between``) infer, because a
  retained version may predate a DDL rewrite.

Writes follow the plan as built: a version is written with no reshuffle
of its own, so its files are the merge plan's output partitions (the
current version's scan splits, plus the AQE-coalesced reads of the
epoch's shuffle), and the file size is set by the scan layout rather
than by a REBALANCE of the whole table every epoch.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from functools import lru_cache
from typing import Callable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from gravity_spark.operators.upsert import (
    ENGINE_INSERT_IGNORE,
    ENGINE_ON_DUP_UPDATE,
    ENGINE_REPLACE,
    collapse_changes,
    merge_aggregate,
    merge_changes,
    merge_collapsed,
)

# Spark's partition-path rendering of a NULL partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _can_up_cast(spark: SparkSession, src: DataType, dst: DataType) -> bool:
    """Spark's own up-cast rule, ``Cast.canUpCast`` (the one that guards
    ``Dataset.as``): true when every ``src`` value converts to ``dst``
    without loss of range or precision."""
    parse = spark._jsparkSession.parseDataType
    return spark._jvm.org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
        parse(src.json()), parse(dst.json())
    )


@lru_cache(maxsize=64)
def _parse_ddl(ddl: str) -> StructType:
    """``ddl`` parsed by Spark, once per distinct string: a parse is a
    py4j round trip of a few ms, and the live schema is read on every
    read and apply but changes only on evolution or DDL. The result is
    shared; callers must not mutate it."""
    return StructType.fromDDL(ddl)


def _data_files(d: str) -> list[str]:
    return [
        os.path.join(d, e)
        for e in os.listdir(d)
        if e.endswith(".parquet") and not e.startswith("_")
    ]


class _ScopedVersions:
    """Scopes of immutable ``v{n}`` dirs under ``path``, named by an
    atomically replaced manifest. A scope map is ``{key: version}``; the
    root scope's key is ``None``, and it is the only scope this base
    class knows."""

    def __init__(self, spark: SparkSession, path: str, schema_ddl: str) -> None:
        self.spark = spark
        self.path = path
        self.schema_ddl = schema_ddl
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current.json")

    def _manifest(self) -> dict:
        m = {"version": None, "epoch": None, "partitions": {}}
        if os.path.exists(self._pointer):
            with open(self._pointer) as f:
                m.update(json.load(f))
        return m

    def _write_manifest(self, m: dict) -> None:
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._pointer)

    def _scopes(self, m: dict) -> dict:
        return {} if m["version"] is None else {None: m["version"]}

    def _scope_dir(self, key) -> str:
        if key is None:
            return self.path
        # Spark's own escapes for the two characters that would break a
        # one-dir-per-value layout: '/' would nest ('api/v1' under
        # 'api'), and escaping '%' too keeps the mapping one-to-one
        name = key.replace("%", "%25").replace("/", "%2F")
        return os.path.join(self.path, f"p={name}")

    def _version_dir(self, key, version: int) -> str:
        return os.path.join(self._scope_dir(key), f"v{version}")

    def _commit(self, m: dict, scopes: dict) -> None:
        """Flip manifest ``m`` to the scope map ``scopes``. The root
        scope is named by ``version`` itself, so only partitions are
        listed."""
        self._write_manifest({
            **m,
            "version": (m["version"] or 0) + 1,
            "partitions": {k: v for k, v in scopes.items() if k is not None},
        })

    def _read_scopes(self, scopes: dict, schema_ddl: str | None = None) -> DataFrame:
        """The scopes' named versions, read with ``schema_ddl`` (default:
        the declared schema) pinned. Columns a version lacks (added by
        evolution since it was written) read as NULL."""
        schema = _parse_ddl(schema_ddl or self.schema_ddl)
        paths = [self._version_dir(k, v) for k, v in scopes.items()]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def _write_next(self, scopes: dict, key, df: DataFrame) -> int:
        """Write ``df`` as scope ``key``'s next version; returns it."""
        version = scopes.get(key, 0) + 1
        df.write.mode("overwrite").parquet(self._version_dir(key, version))
        return version

    def read(self) -> DataFrame:
        return self._read_scopes(self._scopes(self._manifest()))

    def vacuum(self, keep_last: int = 2) -> int:
        """Remove superseded version dirs (the retention job every long-
        running stream needs, since each epoch writes new versions).
        Keeps each scope's current version plus ``keep_last - 1``
        predecessors; returns the number of dirs removed. Readers of the
        current manifest are never affected.

        A ``p=<value>`` dir the manifest no longer names held a
        partition whose rows were all deleted. No read reaches its
        versions (``read_version`` is unpartitioned-only), so they go,
        but only those older than the manifest: a newer one was put in
        place by an epoch that has not committed yet (a new partition,
        or one re-created after a full delete)."""
        # stat before reading: a commit in between leaves the cut-off
        # older than the manifest read, never newer
        committed = (
            os.stat(self._pointer).st_mtime_ns
            if os.path.exists(self._pointer)
            else -1
        )
        # scope dir -> newest version to remove (None: a dir no scope names)
        floors = {
            self._scope_dir(key): current - keep_last
            for key, current in self._scopes(self._manifest()).items()
        }
        for entry in os.listdir(self.path):
            d = os.path.join(self.path, entry)
            if entry.startswith("p=") and d not in floors:
                floors[d] = None
        removed = 0
        for d, floor in floors.items():
            for entry in os.listdir(d):
                ver = entry[1:]
                if not (entry.startswith("v") and ver.isdigit()):
                    continue
                vdir = os.path.join(d, entry)
                if floor is None:  # an unnamed partition
                    stale = os.stat(vdir).st_mtime_ns <= committed
                else:
                    stale = int(ver) <= floor
                if stale:
                    shutil.rmtree(vdir, ignore_errors=True)
                    removed += 1
        return removed


class ParquetMergeTarget(_ScopedVersions):
    """A versioned parquet table that accepts change batches.

    Unpartitioned, the table is the root scope and every epoch writes
    its next version. With ``partition_col`` set, each partition value
    is a scope and an epoch rewrites ONLY the scopes it touches, so its
    cost is O(touched partitions), not O(table). The partition column
    must be immutable per key (e.g. a created-date), the standard CDC
    partitioning assumption.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_cols: Sequence[str],
        schema_ddl: str,
        engine: str = ENGINE_REPLACE,
        partition_col: str | None = None,
    ) -> None:
        # fail misconfiguration at sink construction, not mid-stream at
        # the first epoch apply (where it surfaced as merge_collapsed's
        # less-obvious "does not support engine")
        supported = {ENGINE_REPLACE, ENGINE_ON_DUP_UPDATE, ENGINE_INSERT_IGNORE}
        if engine not in supported:
            raise ValueError(
                f"unknown merge engine {engine!r}; supported: {sorted(supported)}"
            )
        super().__init__(spark, path, schema_ddl)
        self.pk_cols = list(pk_cols)
        self.engine = engine
        self.partition_col = partition_col
        # restart recovery: the manifest records the LIVE schema (it may
        # have evolved past the declared one via additive widening or
        # apply_ddl), so a re-opened target agrees with the catalog
        # without replaying the DDL history
        m = self._manifest()
        if m.get("schema"):
            self.schema_ddl = m["schema"]
        if m.get("pk"):
            self.pk_cols = list(m["pk"])

    def _write_manifest(self, m: dict) -> None:
        super()._write_manifest({**m, "schema": self.schema_ddl, "pk": self.pk_cols})

    def _scopes(self, m: dict) -> dict:
        if self.partition_col is None:
            return super()._scopes(m)
        return dict(m["partitions"])

    def _current_version(self) -> int | None:
        return self._manifest()["version"]

    def partition_version(self, value) -> int | None:
        return self._manifest()["partitions"].get(str(value))

    def read_partition(self, value) -> DataFrame:
        ver = self.partition_version(value)
        return self._read_scopes({} if ver is None else {str(value): ver})

    def read_version(self, version: int) -> DataFrame:
        """Time travel: read a historical version (unpartitioned mode).

        Every apply_batch writes a fresh immutable version dir and flips
        the manifest pointer, so prior versions remain readable until
        `vacuum` reclaims them — the same contract as Delta/Iceberg
        `VERSION AS OF`. Raises FileNotFoundError for vacuumed or
        never-written versions. The read infers the version's own
        schema: a version written before a DDL rewrite keeps its
        original column names and types."""
        if self.partition_col is not None:
            raise ValueError("read_version applies to unpartitioned targets")
        out = self._version_dir(None, version)
        if not os.path.isdir(out):
            raise FileNotFoundError(f"version {version} not present (vacuumed?)")
        return self.spark.read.parquet(out)

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Change data feed between two retained versions (the Delta
        CDF / `table_changes` equivalent): one full-outer join on the
        PK classifies every row as insert / update / delete, emitting
        the pre- and post-images side by side (`old_<col>` /
        `new_<col>`). Unchanged rows are dropped with a null-safe
        comparison, so downstream incremental consumers (esmodel-style
        reassembly, audit diffs) read only the delta.

        Scale shape: one co-keyed join of two versions — at warehouse
        scale both sides share the merge sink's PK layout, and the diff
        never materializes unchanged rows past the join filter."""
        a = self.read_version(v_from)
        b = self.read_version(v_to)
        non_pk = [c for c in a.columns if c not in self.pk_cols]
        old = a.select(
            *self.pk_cols,
            F.lit(True).alias("__in_old"),
            *[F.col(c).alias(f"old_{c}") for c in non_pk],
        )
        new = b.select(
            *self.pk_cols,
            F.lit(True).alias("__in_new"),
            *[F.col(c).alias(f"new_{c}") for c in non_pk],
        )
        j = old.join(new, on=self.pk_cols, how="full")
        same = F.lit(True)
        for c in non_pk:
            same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        op = (
            F.when(F.col("__in_old").isNull(), "insert")
            .when(F.col("__in_new").isNull(), "delete")
            .otherwise("update")
        )
        changed = j.filter(
            F.col("__in_old").isNull() | F.col("__in_new").isNull() | ~same
        )
        return changed.select(
            *self.pk_cols,
            op.alias("op"),
            *[F.col(f"old_{c}") for c in non_pk],
            *[F.col(f"new_{c}") for c in non_pk],
        )

    def apply_batch(self, changes: DataFrame, epoch_id: int | None = None) -> None:
        """Idempotent batch apply (safe for foreachBatch redelivery):
        merging an already-applied batch yields the same state.

        The epoch writes the next version of every scope it touches and
        flips the manifest once at the end, so readers see either the
        whole old epoch or the whole new one.
        """
        changes = self._evolve_schema(changes)
        if self.engine == ENGINE_INSERT_IGNORE:
            epoch, merge = changes, merge_changes
        else:
            cols = [f.name for f in _parse_ddl(self.schema_ddl).fields]
            epoch = collapse_changes(cols, changes, self.pk_cols)
            merge = merge_collapsed
        # Persist only where a second action re-reads the epoch frame.
        # Unpartitioned replace/on-dup is ONE action: the anti-join's keys
        # and the union's upserts read the same collapse exchange, which
        # AQE runs once and re-reads as a ReusedExchange, so the raw batch
        # is scanned once with no cache at all. The partitioned path's
        # touched-scope collect precedes its write, so it persists the
        # COLLAPSED frame (O(distinct keys), never the O(batch rows) raw
        # batch: that measured 4.4x slower on the 20M-row throughput
        # probe). The insert-ignore engine reads the RAW batch three ways
        # (delete marks, first-after-delete collapse, deleted keys), so it
        # persists the batch. Either cache is unpersisted in finally, so
        # none leaks across streaming epochs.
        cached = self.engine == ENGINE_INSERT_IGNORE or self.partition_col is not None
        if cached:
            epoch = epoch.persist()
        try:
            m = self._manifest()
            scopes = self._scopes(m)

            def merged(keys: Sequence) -> DataFrame:
                current = {k: scopes[k] for k in keys if k in scopes}
                return merge(
                    self._read_scopes(current),
                    epoch,
                    self.pk_cols,
                    self.engine,
                )

            written = self._write_touched(scopes, epoch, merged, epoch_id)
            if written is not None:
                self._commit({**m, "epoch": epoch_id}, written)
        finally:
            if cached:
                epoch.unpersist()

    def _write_touched(
        self,
        scopes: dict,
        epoch: DataFrame,
        merged: Callable[[Sequence], DataFrame],
        epoch_id: int | None,
    ) -> dict | None:
        """Write the next version of every scope the epoch touches;
        returns the new scope map, or None when it touches none.
        ``merged(keys)`` is the batch merged into those scopes' state.

        The root scope is always the one touched scope, so an
        unpartitioned target runs no discovery job. Its merge is written
        as planned (the module's write rule): exchange reuse, not a
        cache, serves the epoch frame's two reads, so the upserts arrive
        as one AQE-coalesced shuffle read and the untouched rows keep the
        current version's scan splits; a version is its base's files
        plus about one. No REBALANCE: it would reshuffle the whole table
        every epoch, and the slivers it once prevented (32 x ~1 KB files
        per version) came from a persisted upsert side, whose partitions
        AQE never coalesces.
        """
        if self.partition_col is None:
            return {None: self._write_next(scopes, None, merged([None]))}
        return self._write_partitions(scopes, epoch, merged, epoch_id)

    def _write_partitions(
        self,
        scopes: dict,
        epoch: DataFrame,
        merged: Callable[[Sequence], DataFrame],
        epoch_id: int | None,
    ) -> dict | None:
        """ONE merge job per epoch, not one per touched partition: the
        current state of every touched partition is read as one
        DataFrame, merged with the whole batch in one PK-keyed merge
        (safe because the partition column is immutable per key, so
        cross-partition PK collisions cannot exist), and written once
        with partitionBy into a staging dir whose per-partition subdirs
        are then renamed into their versioned slots. Sequential
        per-partition Spark jobs made epoch cost O(partitions × job
        overhead); this shape keeps it O(batch) with one shuffle."""
        pcol = self.partition_col
        # Touched-partition discovery reads the COLLAPSED frame: the
        # touched set is identical to the raw batch's (the partition
        # column is immutable per key, and deletes survive the collapse
        # carrying their partition value), and the discovery job doubles
        # as the cache materialization, so the raw batch is read exactly
        # ONCE per epoch. (A raw-batch discovery variant saves nothing —
        # same job count, the collapse just moves into the broadcast
        # build — and costs a second source scan per epoch. Small-scale
        # band pinned in BASELINE.md §13.)
        # Collect BOTH the value and Spark's own string rendering of it:
        # the staging dir's __p=<fragment> children are written with
        # Spark's partition-path encoding (URL-escaped specials, booleans
        # as 'true'/'false', NULL as __HIVE_DEFAULT_PARTITION__), which
        # differs from Python str() for bools/None/timestamps — matching
        # on str(val) silently treated live partitions as fully deleted.
        touched = [
            (r["_v"], _NULL_PARTITION if r["_s"] is None else r["_s"])
            for r in epoch.select(
                F.col(pcol).alias("_v"), F.col(pcol).cast("string").alias("_s")
            )
            .distinct()
            .collect()
        ]
        if not touched:
            return None
        if any(s == "" for _, s in touched):
            # Spark's partition-path encoding writes '' and NULL to the
            # SAME __HIVE_DEFAULT_PARTITION__ child, so the two cannot be
            # staged (or renamed) distinctly — fail the epoch loudly at
            # apply time instead of misclassifying the live '' partition
            # as a full delete
            raise ValueError(
                f"empty-string value in partition column {pcol!r}: "
                "indistinguishable from NULL under Spark's partition-"
                "path encoding; map '' to a sentinel upstream"
            )
        out = merged([str(v) for v, _ in touched])
        # __p duplicates the partition value for the directory layout
        # only — the data files keep pcol as a normal column, so
        # per-version dirs stay readable standalone
        staging = os.path.join(self.path, f"_stage_e{epoch_id}")
        shutil.rmtree(staging, ignore_errors=True)
        # REBALANCE on the partition column: without it every shuffle
        # task emits a sliver into every touched partition dir. AQE
        # coalesces small partitions into shared tasks and SPLITS a
        # skewed partition value across tasks, so no single writer owns
        # a 100 TB partition.
        out.withColumn("__p", F.col(pcol)).hint("rebalance", "__p").write.mode(
            "overwrite"
        ).partitionBy("__p").parquet(staging)
        # enumerate what Spark ACTUALLY wrote and decode the partition-
        # path fragments (percent-escaping is Spark's own; unquote
        # inverts it exactly since '%' itself is escaped)
        present = {
            unquote(child[len("__p=") :]): child
            for child in os.listdir(staging)
            if child.startswith("__p=")
        }
        scopes = dict(scopes)
        missing = [v for v, s in touched if s not in present]
        if missing:
            # a partition absent from staging means every row was
            # deleted — VERIFY that against the merged frame before
            # dropping it from the manifest; a nonzero count here would
            # be silent data loss (e.g. an encoding form this decoder
            # doesn't cover)
            counts = {
                r["_v"]: r["_c"]
                for r in out.groupBy(F.col(pcol).alias("_v"))
                .agg(F.count(F.lit(1)).alias("_c"))
                .collect()
            }
            for val in missing:
                if counts.get(val, 0) > 0:
                    raise RuntimeError(
                        f"partition {val!r} has {counts[val]} merged "
                        "rows but no staged output dir — refusing to "
                        "drop it from the manifest"
                    )
                scopes.pop(str(val), None)
        for val, s in touched:
            if s not in present:
                continue  # verified full delete above
            key = str(val)
            version = scopes.get(key, 0) + 1
            dst = self._version_dir(key, version)
            # a dir no manifest names: left by a crashed epoch, or by a
            # since-deleted partition of the same value
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(self._scope_dir(key), exist_ok=True)
            os.replace(os.path.join(staging, present[s]), dst)
            scopes[key] = version
        shutil.rmtree(staging, ignore_errors=True)
        return scopes

    def _evolve_schema(self, changes: DataFrame) -> DataFrame:
        """Additive schema evolution (the supported subset of mid-stream
        DDL, SURVEY §7): columns new in the batch extend the target
        schema; existing rows read as NULL for them. Non-additive DDL
        (drops/renames/type changes) requires an explicit migration
        (``apply_ddl``) — same restriction the reference's barrier flow
        effectively has; a batch column of another type is up-cast or
        refused by ``_widen``.
        """
        declared = _parse_ddl(self.schema_ddl)
        declared_names = {f.name for f in declared.fields}
        new_fields = [
            f
            for f in changes.schema.fields
            if f.name not in ("op", "seq") and f.name not in declared_names
        ]
        evolved = StructType([*declared.fields, *new_fields])
        # align the batch to the (possibly wider) declared schema: old-
        # schema changes arriving after evolution get NULL-filled too.
        # Widen first: a rejected batch leaves the schema as it was
        widened = self._widen(changes, evolved, ("op", "seq"))
        if new_fields:
            self.schema_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in evolved.fields
            )
        return widened

    def _widen(
        self, df: DataFrame, declared: StructType, extra: Sequence[str] = ()
    ) -> DataFrame:
        """``df`` as the ``declared`` schema, then ``extra``: each declared
        column cast to its declared type, and declared columns it lacks
        (added by evolution) as NULL. Only up-casts are applied; any other
        type difference raises ValueError, since the version would
        otherwise hold a type its manifest does not declare. A declared
        column may itself be named op/seq (e.g. an SCD2 version table
        keyed on (user_id, seq)) — select each column once, or the
        duplicate attribute breaks downstream resolution."""
        have = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for f in declared.fields:
            t = have.get(f.name)
            if t is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif t == f.dataType:
                cols.append(F.col(f.name))
            elif _can_up_cast(self.spark, t, f.dataType):
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                raise ValueError(
                    f"column {f.name!r} is {t.simpleString()} in the batch but "
                    f"declared {f.dataType.simpleString()}, and "
                    f"{t.simpleString()} does not up-cast to it"
                )
        names = [f.name for f in declared.fields]
        return df.select(*cols, *[c for c in extra if c not in names])

    def apply_ddl(self, actions: Sequence[tuple]) -> bool:
        """Physically apply structured DDL actions (from
        ``operators.ddl.DdlResult.actions``) to the target — the
        NON-additive half of mid-stream DDL. The reference applies any
        ALTER to the output by AST rewrite (pkg/outputs/mysql/
        mysql.go:222-440, rename/modify covered by integration_test/
        mysql_mysql_test.go DDL cases); here a rename/drop/modify
        rewrites every scope into its NEW version dir and flips the
        manifest, so history versions stay readable under their
        original schema and readers never see a half-rewritten table.

        add-col stays lazy (schema widens, old rows read NULL — no data
        rewrite, same as additive evolution). truncate writes an empty
        next version of every scope. Returns True if new versions were
        written.

        Scale shape: one column-projection rewrite per scope — the same
        cost class as a Delta/Iceberg physical column drop; nothing
        funnels through the driver.
        """
        from gravity_spark.core.catalog import mysql_to_spark_type

        if not actions:
            return False
        # the current versions were written under the pre-DDL schema, and
        # are read under it: read under the new one, a renamed column
        # would be looked up by its new name and come back all NULL
        old_ddl = self.schema_ddl
        # (visible_name, source_name_or_None, spark_type) per column;
        # folding the actions over this list yields both the new schema
        # and the old→new projection in one pass
        fields = [
            [f.name, f.name, f.dataType]
            for f in _parse_ddl(self.schema_ddl).fields
        ]
        rewrite = truncate = False
        for act in actions:
            kind = act[0]
            if kind == "add-col":
                _, name, mtype = act
                if name not in [f[0] for f in fields]:
                    fields.append([name, None, mysql_to_spark_type(mtype)])
            elif kind == "drop-col":
                if act[1] in self.pk_cols:
                    raise ValueError(
                        f"cannot DROP primary-key column {act[1]!r} of a merge target"
                    )
                before = len(fields)
                fields = [f for f in fields if f[0] != act[1]]
                rewrite = rewrite or len(fields) != before
            elif kind == "modify-col":
                _, name, mtype = act
                new_t = mysql_to_spark_type(mtype)
                for f in fields:
                    if f[0] == name and f[2] != new_t:
                        f[2] = new_t
                        rewrite = True
            elif kind == "rename-col":
                _, old, new, mtype = act
                new_t = mysql_to_spark_type(mtype)
                for f in fields:
                    if f[0] == old:
                        if old != new or f[2] != new_t:
                            rewrite = True
                        f[0], f[2] = new, new_t
                self.pk_cols = [new if c == old else c for c in self.pk_cols]
                if self.partition_col == old:
                    self.partition_col = new
            elif kind == "truncate":
                truncate = True

        self.schema_ddl = ", ".join(f"{n} {t.simpleString()}" for n, _, t in fields)
        m = self._manifest()
        scopes = self._scopes(m)
        if not (rewrite or truncate) or not scopes:
            # schema-only: persist the widened schema so a restarted
            # target agrees with the catalog without replaying DDL
            self._write_manifest(m)
            return False

        def project(df: DataFrame) -> DataFrame:
            if truncate:
                return self.spark.createDataFrame([], self.schema_ddl)
            # the pre-DDL read carries every source column
            return df.select(*[
                F.lit(None).cast(t).alias(name)
                if src is None
                else F.col(src).cast(t).alias(name)
                for name, src, t in fields
            ])

        self._commit(m, {
            k: self._write_next(scopes, k, project(self._read_scopes({k: v}, old_ddl)))
            for k, v in scopes.items()
        })
        return True

    def compact(self, target_bytes: int = 128 * 1024 * 1024) -> dict:
        """Small-file compaction (the OPTIMIZE bin-packing job): rewrite
        each scope's current data into right-sized files as its NEW
        version and flip the manifest — data is byte-identical, readers
        are never disturbed, and a crashed compaction leaves the old
        version current (same atomicity as apply_batch). Streaming CDC
        merges naturally produce file counts tied to shuffle
        parallelism, not data volume; at 100 TB unmanaged small files
        dominate scan open/seek cost, so compaction cadence is the knob
        that keeps scan cost proportional to bytes. Returns per-scope
        (files_before, files_after), keyed by partition value or
        ``"<table>"`` for the root scope."""
        m = self._manifest()
        scopes = self._scopes(m)
        compacted = dict(scopes)
        result: dict = {}
        for key, ver in scopes.items():
            files = _data_files(self._version_dir(key, ver))
            n_target = max(1, math.ceil(sum(map(os.path.getsize, files)) / target_bytes))
            n_after = len(files)
            if n_target < len(files):
                df = self._read_scopes({key: ver}).repartition(n_target)
                compacted[key] = self._write_next(scopes, key, df)
                n_after = len(_data_files(self._version_dir(key, compacted[key])))
            result["<table>" if key is None else key] = {
                "files_before": len(files),
                "files_after": n_after,
            }
        if compacted != scopes:
            self._commit(m, compacted)
        return result


class AggregateRollupTarget(_ScopedVersions):
    """Continuous-aggregate target: per-key ADDITIVE partials merged via
    one union + re-aggregation per epoch (operators.upsert.
    merge_aggregate) into the root scope. The manifest records the last
    applied epoch, so a foreachBatch redelivery of the same epoch is a
    no-op — addition is not idempotent, so exactly-once here is epoch-
    guarded rather than merge-idempotent (the counterpart of the
    reference's position-flush dedup, pkg/position_cache/cache.go:13).
    """

    def __init__(self, spark, path: str, key_cols, agg_cols, schema_ddl: str):
        super().__init__(spark, path, schema_ddl)
        self.key_cols = list(key_cols)
        self.agg_cols = list(agg_cols)

    def apply_batch(self, partials: DataFrame, epoch_id: int) -> None:
        m = self._manifest()
        if m["epoch"] is not None and epoch_id <= m["epoch"]:
            return  # epoch already applied (redelivery after restart)
        scopes = self._scopes(m)
        merged = merge_aggregate(
            self._read_scopes(scopes), partials, self.key_cols, self.agg_cols
        )
        # every version holds exactly the declared types, which the
        # pinned read of the next epoch relies on
        merged = merged.select(*[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in _parse_ddl(self.schema_ddl).fields
        ])
        # written as planned (see the module docstring): merge_aggregate
        # ends in a groupBy shuffle that AQE already coalesces
        version = self._write_next(scopes, None, merged)
        self._commit({**m, "epoch": epoch_id}, {None: version})
