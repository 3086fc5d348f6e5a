"""Merge engines: apply a collapsed change batch to a target relation.

Reference parity (pkg/sql_execution_engine/*):
  - mysql_replace_engine.go:115-144 — REPLACE INTO + DELETE (default):
    upsert wins, delete removes.
  - mysql_insert_ignore_engine.go:16-90 — first-writer-wins insert.
  - mysql_insert_on_dupkey_update_engine.go:32-120 — upsert via ON
    DUPLICATE KEY UPDATE.
  - conflict_engine.go:25-300 — optimistic CC: apply update only if the
    target row still equals the change's Old image; losers go to an
    audit relation (conflict.log).
  - pkg/outputs/mysql/mysql.go:452-482 — DELETE-boundary batch splitting
    is unnecessary here: a single relational merge applies mixed ops
    atomically.

Without Delta in the harness image, MERGE is expressed relationally:
    result = (target ⟕anti changes.keys) ∪ upserts
One shuffle on the PK for the anti-join + union — at scale this is the
same cost profile as Delta MERGE's inner join + rewrite, and the
anti-join broadcasts automatically when the change batch is small
(the common CDC case: small batch vs huge target).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gravity_spark.operators.collapse import collapse_last_write_wins

ENGINE_REPLACE = "mysql-replace-engine"
ENGINE_INSERT_IGNORE = "mysql-insert-ignore"
ENGINE_ON_DUP_UPDATE = "mysql-insert-on-duplicate-key-update"
ENGINE_CONFLICT = "conflict-detect-engine"


def collapse_changes(
    target_cols: Sequence[str],
    changes: DataFrame,
    pk_cols: Sequence[str],
    op_col: str = "op",
    order_col: str = "seq",
) -> DataFrame:
    """LWW-collapse a change batch to one row per PK, projected to the
    target's columns + ``op_col`` — the (tiny, key-cardinality) frame
    ``merge_collapsed`` reads twice. Both reads share the one collapse
    exchange: inside a single action AQE runs that shuffle once and
    re-reads it as a ReusedExchange, so the raw batch is scanned once
    with no cache. A sink that reads the frame in a second action (the
    partitioned merge's touched-scope collect) persists THIS, never the
    raw batch: the collapsed footprint is O(distinct keys), not O(batch
    rows) (measured on the 20M-row throughput probe: persisting the raw
    batch cost 3.5 µs/row marginal vs 0.8 µs/row with the collapsed
    persist)."""
    last = collapse_last_write_wins(
        changes, key_cols=list(pk_cols), order_col=order_col
    )
    # the target may itself declare a column named `op` (the same case
    # _evolve_schema's dedup supports) — select it once, or the duplicate
    # attribute breaks merge_collapsed's op filter with an ambiguous-
    # reference error
    return last.select(*target_cols, *([op_col] if op_col not in target_cols else []))


def merge_collapsed(
    target: DataFrame,
    last: DataFrame,
    pk_cols: Sequence[str],
    engine: str = ENGINE_REPLACE,
    op_col: str = "op",
) -> DataFrame:
    """Merge an already-collapsed batch (one row per PK) into ``target``
    for the replace-family engines. ``last`` is read twice (keys +
    upserts); when it ends in an exchange (``collapse_changes``) one
    action runs that exchange once and reuses it for both reads."""
    pk = list(pk_cols)
    value_cols = [c for c in target.columns]
    keys = last.select(*pk)
    untouched = target.join(keys, on=pk, how="left_anti")
    if engine in (ENGINE_REPLACE, ENGINE_ON_DUP_UPDATE):
        upserts = last.filter(F.col(op_col) != "delete").select(*value_cols)
        return untouched.unionByName(upserts)
    raise ValueError(f"merge_collapsed does not support engine {engine!r}")


def merge_changes(
    target: DataFrame,
    changes: DataFrame,
    pk_cols: Sequence[str],
    engine: str = ENGINE_REPLACE,
    op_col: str = "op",
    order_col: str = "seq",
) -> DataFrame:
    """Apply typed changes (value columns + op + seq) to ``target``.

    ``changes`` carries the target's value columns plus ``op`` in
    {insert, update, delete} and a monotonic ``order_col``; it is
    collapsed to last-write-wins per PK first, so applying is
    idempotent — re-applying the same batch yields the same target
    (exactly-once via idempotence, replacing the reference's sliding-
    window ack, pkg/position_cache/cache.go:13).
    """
    pk = list(pk_cols)
    value_cols = [c for c in target.columns]

    if engine in (ENGINE_REPLACE, ENGINE_ON_DUP_UPDATE):
        last = collapse_changes(value_cols, changes, pk, op_col, order_col)
        return merge_collapsed(target, last, pk, engine, op_col)
    if engine == ENGINE_INSERT_IGNORE:
        # sequential INSERT IGNORE + DELETE semantics (utils.go:109-127):
        # a key's final value is the FIRST non-delete change after its
        # LAST delete; keys in the target with no delete keep the target
        # row (first-writer-wins — IGNORE can never overwrite).
        # One hash shuffle: both the per-key last-delete mark and the
        # had-delete flag ride the same unordered window partitioning.
        # NULL order values are handled by TWO deliberately different
        # rules (r9-advisor note — both pinned in
        # tests/test_collapse_upsert.py):
        # - after-last-delete FILTER: NULL is the minimum — a NULL-seq
        #   change is "before" every delete, so it survives only when
        #   its key saw NO delete at all, and a NULL-seq delete kills
        #   only other NULL-seq changes (non-NULL ones are after it);
        # - WINNER SELECTION (the ascending collapse below): NULL
        #   always LOSES — a NULL-seq change wins its key only when no
        #   non-NULL-seq competitor survived the filter.
        w_all = Window.partitionBy(*pk)
        del_mark = F.max(
            F.when(F.col(op_col) == "delete", F.col(order_col))
        ).over(w_all)
        had_del = F.max(
            F.when(F.col(op_col) == "delete", F.lit(True))
        ).over(w_all)
        marked = changes.withColumn("__del_seq", del_mark).withColumn(
            "__had_del", had_del
        )
        after_last_delete = F.col("__had_del").isNull() | (
            F.col(order_col).isNotNull()
            & (
                F.col("__del_seq").isNull()
                | (F.col(order_col) > F.col("__del_seq"))
            )
        )
        first = collapse_last_write_wins(
            marked.filter((F.col(op_col) != "delete") & after_last_delete),
            key_cols=pk,
            order_col=order_col,
            ascending=True,
        ).select(*value_cols)
        deleted_keys = (
            changes.filter(F.col(op_col) == "delete").select(*pk).distinct()
        )
        survivors = target.join(deleted_keys, on=pk, how="left_anti")
        inserts = first.join(survivors.select(*pk), on=pk, how="left_anti")
        return survivors.unionByName(inserts)
    raise ValueError(f"unknown engine {engine!r}")


def merge_aggregate(
    target: DataFrame,
    partials: DataFrame,
    key_cols: Sequence[str],
    agg_cols: Sequence[str],
) -> DataFrame:
    """Additive merge for incremental aggregate maintenance
    (continuous-aggregate / materialized-view upkeep): the target holds
    per-key partial sums/counts and each batch contributes additive
    partials. union + one hash re-aggregation — no join, map-side
    combine, and the result is invariant to how the stream was split
    into batches (addition commutes), which is what makes the streaming
    rollup exactly-once under epoch-guarded apply."""
    cols = list(key_cols) + list(agg_cols)
    u = target.select(*cols).unionByName(partials.select(*cols))
    return u.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in agg_cols]
    )


def merge_with_conflict_detect(
    target: DataFrame,
    changes: DataFrame,
    pk_cols: Sequence[str],
    old_prefix: str = "old_",
    op_col: str = "op",
    order_col: str = "seq",
) -> tuple[DataFrame, DataFrame]:
    """Conflict-detect engine: CAS on the old image.

    ``changes`` carries value columns, ``old_<col>`` pre-image columns,
    op and seq. Updates whose pre-image no longer matches the target row
    are NOT applied; they are returned as the conflict audit relation
    (reference logs them to conflict.log, conflict_engine.go:25-300).

    Returns (new_target, conflicts).
    """
    pk = list(pk_cols)
    value_cols = list(target.columns)
    non_pk = [c for c in value_cols if c not in pk]

    last = collapse_last_write_wins(changes, key_cols=pk, order_col=order_col).cache()

    t = target.alias("t")
    c = last.alias("c")
    joined = c.join(t, on=pk, how="left")

    old_matches = F.lit(True)
    for col in non_pk:
        old_matches = old_matches & (
            F.col(f"t.{col}").eqNullSafe(F.col(f"c.{old_prefix}{col}"))
        )
    exists = F.col(f"t.{non_pk[0]}").isNotNull() if non_pk else F.lit(True)

    is_update = F.col(f"c.{op_col}") == "update"
    conflict = is_update & exists & ~old_matches

    conflicts = joined.filter(conflict).select(
        *[F.col(f"c.{col}").alias(col) for col in value_cols], F.col(f"c.{op_col}").alias(op_col)
    )
    applied = joined.filter(~conflict)

    keys_applied = applied.select(*[F.col(f"c.{k}").alias(k) for k in pk])
    untouched = target.join(keys_applied, on=pk, how="left_anti")
    upserts = applied.filter(F.col(f"c.{op_col}") != "delete").select(
        *[F.col(f"c.{col}").alias(col) for col in value_cols]
    )
    return untouched.unionByName(upserts), conflicts


PREVIEW_WOULD_INSERT = "would_insert"
PREVIEW_WOULD_UPDATE = "would_update"
PREVIEW_WOULD_DELETE = "would_delete"
PREVIEW_CONFLICT = "conflict"
PREVIEW_DELETE_SKIP = "delete_skip"


def preview_conflicts(
    target: DataFrame,
    changes: DataFrame,
    pk_cols: Sequence[str],
    old_prefix: str = "old_",
    op_col: str = "op",
    enable_delete: bool = True,
) -> DataFrame:
    """Conflict-PREVIEW engine: dry-run classification, no writes.

    Mirrors conflict_preview_engine.go:71-135 (the reference's
    ErrRowConflict / ErrDeleteRowSkip semantics), which probes the
    target with count(*) existence queries per change and never
    mutates it:

      - insert: a target row under the change's unique key exists →
        ``conflict``; else ``would_insert``.
      - update: target must hold a row matching the FULL old image
        (same key, every column null-safe-equal to ``old_<col>``) or it
        is a ``conflict``; if the target ALREADY matches the full new
        image the update is also a ``conflict`` (the reference's second
        count(*) probe); else ``would_update``.
      - delete: with delete disabled every delete is ``delete_skip``;
        otherwise the target must match the full data image
        (``would_delete``) or it is a ``conflict``.

    Each change row is classified independently against the CURRENT
    target (the reference previews one-message batches). One left join
    on the PK — the image comparisons are projections on the joined
    row, since a full-image match must share the unique key. Returns
    the target's value columns (from the change) + op + ``outcome``;
    the target DataFrame is untouched.
    """
    pk = list(pk_cols)
    value_cols = list(target.columns)
    non_pk = [c for c in value_cols if c not in pk]

    t = target.withColumn("__exists", F.lit(True)).alias("t")
    c = changes.alias("c")
    joined = c.join(t, on=pk, how="left")

    exists = F.coalesce(F.col("t.__exists"), F.lit(False))
    old_match = F.lit(True)
    new_match = F.lit(True)
    for col in non_pk:
        old_match = old_match & F.col(f"t.{col}").eqNullSafe(
            F.col(f"c.{old_prefix}{col}")
        )
        new_match = new_match & F.col(f"t.{col}").eqNullSafe(F.col(f"c.{col}"))

    op = F.col(f"c.{op_col}")
    outcome = (
        F.when(
            op == "insert",
            F.when(exists, PREVIEW_CONFLICT).otherwise(PREVIEW_WOULD_INSERT),
        )
        .when(
            op == "update",
            F.when(
                exists & old_match & ~new_match, PREVIEW_WOULD_UPDATE
            ).otherwise(PREVIEW_CONFLICT),
        )
        .otherwise(
            F.lit(PREVIEW_DELETE_SKIP)
            if not enable_delete
            else F.when(exists & new_match, PREVIEW_WOULD_DELETE).otherwise(
                PREVIEW_CONFLICT
            )
        )
    )
    return joined.select(
        *[F.col(f"c.{col}").alias(col) for col in value_cols],
        op.alias(op_col),
        outcome.alias("outcome"),
    )


def merge_with_manual_sql(
    target: DataFrame,
    changes: DataFrame,
    sql: str,
    pk_cols: Sequence[str],
    order_col: str = "seq",
) -> DataFrame:
    """Manual engine: user-supplied SQL decides the merge
    (pkg/sql_execution_engine/manual_engine.go:19-120 — per-row SQL
    template; here one declarative statement per batch, which Catalyst
    optimizes with the rest of the plan).

    The SQL sees two views: ``target`` (current state) and ``changes``
    (the batch, already collapsed last-write-wins per PK); it returns
    the NEW target relation.
    """
    spark = target.sparkSession
    last = collapse_last_write_wins(changes, key_cols=list(pk_cols), order_col=order_col)
    target.createOrReplaceTempView("target")
    last.createOrReplaceTempView("changes")
    return spark.sql(sql)


def add_missing_columns(changes: DataFrame, target: DataFrame, defaults: dict | None = None) -> DataFrame:
    """Fill columns present in target but absent from the change batch
    with defaults (pkg/outputs/mysql/add_missing_column.go:10-30)."""
    defaults = defaults or {}
    out = changes
    for field in target.schema.fields:
        if field.name not in changes.columns:
            out = out.withColumn(
                field.name, F.lit(defaults.get(field.name)).cast(field.dataType)
            )
    return out
