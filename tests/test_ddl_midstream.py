"""Mid-stream DDL: a DDL message between micro-batches evolves the
catalog and the sink schema additively (SURVEY §7 'DDL propagation')."""

import json

from pyspark.sql import functions as F

from gravity_spark.core.catalog import Catalog, ColumnDef, TableDef
from gravity_spark.sinks.parquet_merge import ParquetMergeTarget
from gravity_spark.streaming.pipeline import file_cdc_source, run_stream


def _write(src, rows):
    src.mkdir(exist_ok=True)
    with open(src / f"p{len(list(src.iterdir()))}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_mid_stream_ddl_additive_evolution(spark, tmp_path):
    catalog = Catalog()
    catalog.put(TableDef("app", "t", [
        ColumnDef("id", "bigint", is_pk=True),
        ColumnDef("v", "varchar(10)"),
    ]))

    src = tmp_path / "cdc"
    target = ParquetMergeTarget(spark, str(tmp_path / "tgt"), ["id"], "id bigint, v string")

    def typed(df):
        # the projection consults the LIVE catalog per batch — new DDL
        # columns appear automatically
        return catalog.get("app", "t").typed_projection(df)

    # batch 1: plain inserts under the original schema
    _write(src, [
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "1", "v": "a"}, "pks": {"id": "1"}, "stream_key": "s", "seq": 1},
    ])
    q = run_stream(file_cdc_source(spark, str(src)), target, typed,
                   str(tmp_path / "ck"), catalog=catalog, current_db="app")
    q.processAllAvailable()

    # batch 2: DDL adds a column, then a row uses it
    _write(src, [
        {"type": "ddl", "database": "app", "table": "t",
         "ddl_statement": "ALTER TABLE app.t ADD COLUMN score int",
         "stream_key": "s", "seq": 2},
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "2", "v": "b", "score": "42"}, "pks": {"id": "2"},
         "stream_key": "s", "seq": 3},
    ])
    q.processAllAvailable()
    q.stop()

    assert [c.name for c in catalog.get("app", "t").columns] == ["id", "v", "score"]
    rows = {r["id"]: r for r in target.read().collect()}
    assert rows[2]["score"] == 42
    assert rows[1]["score"] is None  # pre-evolution row reads NULL
    assert rows[1]["v"] == "a"


def test_mid_stream_ddl_nonadditive_rename_drop(spark, tmp_path):
    """RENAME COLUMN and DROP COLUMN mid-stream are applied to the sink
    PHYSICALLY (reference: any ALTER hits the target by AST rewrite,
    pkg/outputs/mysql/mysql.go:222-440): the merge target's next version
    carries the new layout, prior versions stay readable, and a
    re-opened target agrees with the catalog."""
    catalog = Catalog()
    catalog.put(TableDef("app", "t", [
        ColumnDef("id", "bigint", is_pk=True),
        ColumnDef("v", "varchar(10)"),
        ColumnDef("tag", "varchar(10)"),
    ]))

    src = tmp_path / "cdc"
    target = ParquetMergeTarget(
        spark, str(tmp_path / "tgt"), ["id"], "id bigint, v string, tag string"
    )

    def typed(df):
        return catalog.get("app", "t").typed_projection(df)

    # batch 1: two rows under the original 3-column schema
    _write(src, [
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "1", "v": "a", "tag": "x"}, "pks": {"id": "1"},
         "stream_key": "s", "seq": 1},
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "2", "v": "b", "tag": "y"}, "pks": {"id": "2"},
         "stream_key": "s", "seq": 2},
    ])
    q = run_stream(file_cdc_source(spark, str(src)), target, typed,
                   str(tmp_path / "ck"), catalog=catalog, current_db="app")
    q.processAllAvailable()
    v_before = target._current_version()

    # batch 2: rename v→name, drop tag; then DML under the NEW names
    _write(src, [
        {"type": "ddl", "database": "app", "table": "t",
         "ddl_statement":
             "ALTER TABLE app.t CHANGE COLUMN v name varchar(10), DROP COLUMN tag",
         "stream_key": "s", "seq": 3},
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "3", "name": "c"}, "pks": {"id": "3"},
         "stream_key": "s", "seq": 4},
        {"type": "dml", "database": "app", "table": "t", "op": "update",
         "data": {"id": "1", "name": "a2"}, "pks": {"id": "1"},
         "stream_key": "s", "seq": 5},
    ])
    q.processAllAvailable()
    q.stop()

    # catalog rewired
    assert [c.name for c in catalog.get("app", "t").columns] == ["id", "name"]
    # sink physically rewritten: renamed data preserved, dropped col gone
    final = target.read()
    assert set(final.columns) == {"id", "name"}
    rows = {r["id"]: r for r in final.collect()}
    assert rows[2]["name"] == "b"      # pre-DDL value under the new name
    assert rows[1]["name"] == "a2"     # post-DDL update applied
    assert rows[3]["name"] == "c"
    # history: the pre-DDL version still reads under the OLD schema
    old = target.read_version(v_before)
    assert set(old.columns) == {"id", "v", "tag"}
    assert {r["tag"] for r in old.collect()} == {"x", "y"}

    # restart: a fresh handle on the same path recovers the live schema
    # (manifest, not constructor arg) and agrees with the catalog
    reopened = ParquetMergeTarget(
        spark, str(tmp_path / "tgt"), ["id"], "id bigint, v string, tag string"
    )
    assert reopened.schema_ddl == "id bigint, name string"
    assert set(reopened.read().columns) == set(
        c.name for c in catalog.get("app", "t").columns
    )


def test_ddl_mid_batch_barrier_ordering(spark, tmp_path):
    """DDL arriving MID-batch (same micro-batch as surrounding DML) is
    a barrier at its seq position: DML the binlog ordered before it
    merges under the pre-DDL schema, DML after it under the post-DDL
    schema. Applying the DDL batch-first would NULL the pre-DDL row's
    renamed value; a mid-batch TRUNCATE would resurrect rows the binlog
    says are erased. Reference flushes in-flight DML before any ALTER
    (pkg/outputs/mysql/mysql.go:222-440)."""
    catalog = Catalog()
    catalog.put(TableDef("app", "t", [
        ColumnDef("id", "bigint", is_pk=True),
        ColumnDef("v", "varchar(10)"),
    ]))
    src = tmp_path / "cdc"
    target = ParquetMergeTarget(
        spark, str(tmp_path / "tgt"), ["id"], "id bigint, v string"
    )

    def typed(df):
        return catalog.get("app", "t").typed_projection(df)

    # ONE file = one micro-batch: insert under old name, rename, insert
    # under new name
    _write(src, [
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "1", "v": "a"}, "pks": {"id": "1"},
         "stream_key": "s", "seq": 1},
        {"type": "ddl", "database": "app", "table": "t",
         "ddl_statement": "ALTER TABLE app.t CHANGE COLUMN v name varchar(10)",
         "stream_key": "s", "seq": 2},
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "3", "name": "c"}, "pks": {"id": "3"},
         "stream_key": "s", "seq": 3},
    ])
    q = run_stream(file_cdc_source(spark, str(src)), target, typed,
                   str(tmp_path / "ck"), catalog=catalog, current_db="app")
    q.processAllAvailable()
    q.stop()
    rows = {r["id"]: r["name"] for r in target.read().collect()}
    # id=1's value survives the rename (was lost when DDL ran batch-first)
    assert rows == {1: "a", 3: "c"}


def test_truncate_mid_batch_erases_prior_inserts(spark, tmp_path):
    """TRUNCATE at seq k erases exactly the rows with seq < k, even
    when they share a micro-batch."""
    catalog = Catalog()
    catalog.put(TableDef("app", "t", [
        ColumnDef("id", "bigint", is_pk=True),
        ColumnDef("v", "varchar(10)"),
    ]))
    src = tmp_path / "cdc"
    target = ParquetMergeTarget(
        spark, str(tmp_path / "tgt"), ["id"], "id bigint, v string"
    )

    def typed(df):
        return catalog.get("app", "t").typed_projection(df)

    _write(src, [
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "1", "v": "gone"}, "pks": {"id": "1"},
         "stream_key": "s", "seq": 1},
        {"type": "ddl", "database": "app", "table": "t",
         "ddl_statement": "TRUNCATE TABLE app.t",
         "stream_key": "s", "seq": 2},
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "2", "v": "kept"}, "pks": {"id": "2"},
         "stream_key": "s", "seq": 3},
    ])
    q = run_stream(file_cdc_source(spark, str(src)), target, typed,
                   str(tmp_path / "ck"), catalog=catalog, current_db="app")
    q.processAllAvailable()
    q.stop()
    assert {(r["id"], r["v"]) for r in target.read().collect()} == {(2, "kept")}


def test_apply_ddl_partitioned_and_truncate(spark, tmp_path):
    """Partitioned targets rewrite every partition on non-additive DDL
    (per-partition version bump, one manifest flip); TRUNCATE produces
    an empty next version with history retained."""
    target = ParquetMergeTarget(
        spark, str(tmp_path / "pt"), ["id"],
        "id bigint, d string, v string", partition_col="d",
    )
    batch = spark.createDataFrame(
        [(1, "a", "x", "insert", 1), (2, "b", "y", "insert", 2)],
        "id long, d string, v string, op string, seq long",
    )
    target.apply_batch(batch, 0)
    assert target.apply_ddl([("rename-col", "v", "val", "varchar(10)")])
    df = target.read()
    assert set(df.columns) == {"id", "d", "val"}
    assert {r["val"] for r in df.collect()} == {"x", "y"}

    target.apply_ddl([("truncate",)])
    assert target.read().count() == 0
    # dropping a PK column is refused — merge identity would be lost
    import pytest
    with pytest.raises(ValueError):
        target.apply_ddl([("drop-col", "id")])


def test_ddl_for_other_table_does_not_rewrite_sink(spark, tmp_path):
    """With table scoping, another table's DDL updates the catalog but
    never physically rewrites this stream's sink."""
    catalog = Catalog()
    catalog.put(TableDef("app", "t", [
        ColumnDef("id", "bigint", is_pk=True), ColumnDef("v", "varchar(10)"),
    ]))
    catalog.put(TableDef("app", "other", [
        ColumnDef("id", "bigint", is_pk=True), ColumnDef("x", "varchar(10)"),
    ]))
    src = tmp_path / "cdc"
    target = ParquetMergeTarget(spark, str(tmp_path / "tgt"), ["id"],
                                "id bigint, v string")

    def typed(df):
        return catalog.get("app", "t").typed_projection(df)

    _write(src, [
        {"type": "dml", "database": "app", "table": "t", "op": "insert",
         "data": {"id": "1", "v": "a"}, "pks": {"id": "1"},
         "stream_key": "s", "seq": 1},
        {"type": "ddl", "database": "app", "table": "other",
         "ddl_statement": "ALTER TABLE app.other DROP COLUMN x",
         "stream_key": "s", "seq": 2},
    ])
    q = run_stream(file_cdc_source(spark, str(src)), target, typed,
                   str(tmp_path / "ck"), catalog=catalog, current_db="app",
                   table="t")
    q.processAllAvailable()
    q.stop()
    # other's catalog entry lost the column...
    assert [c.name for c in catalog.get("app", "other").columns] == ["id"]
    # ...but this sink's schema is untouched
    assert target.schema_ddl == "id bigint, v string"
    assert set(target.read().columns) == {"id", "v"}


def test_apply_ddl_rewrite_reads_pre_ddl_schema(spark, tmp_path):
    """A rewrite reads the current version under the schema it was
    written with. Read under the post-DDL schema, a renamed column is
    looked up by its new name in the old files and every value comes
    back NULL. History keeps the original column names and types."""
    target = ParquetMergeTarget(
        spark, str(tmp_path / "t"), ["id"], "id bigint, v string, n int"
    )
    target.apply_batch(spark.createDataFrame(
        [(1, "a", 10, "insert", 1), (2, "b", 2**31 - 1, "insert", 2)],
        "id long, v string, n int, op string, seq long",
    ), 0)
    v_before = target._current_version()

    assert target.apply_ddl([("rename-col", "v", "name", "varchar(10)")])
    df = target.read()
    assert df.dtypes == [("id", "bigint"), ("name", "string"), ("n", "int")]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a", 10), (2, "b", 2**31 - 1)]

    assert target.apply_ddl([("modify-col", "n", "bigint")])
    df = target.read()
    assert df.dtypes == [("id", "bigint"), ("name", "string"), ("n", "bigint")]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a", 10), (2, "b", 2**31 - 1)]
    # the rewritten files hold the new type, not only the pinned read
    assert target.read_version(target._current_version()).dtypes == df.dtypes

    old = target.read_version(v_before)
    assert old.dtypes == [("id", "bigint"), ("v", "string"), ("n", "int")]
    assert sorted(tuple(r) for r in old.collect()) == [(1, "a", 10), (2, "b", 2**31 - 1)]
