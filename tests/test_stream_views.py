"""Memory-sink registry queries leave nothing in the session's catalog.

Each of these queries runs its stream into an in-memory table and
returns that table's rows. The driver runs every query in one
long-lived session, so a view left behind per call would keep its rows
on the driver heap for the life of the session. After one call of each,
``spark.catalog.listTables()`` must hold no new view, and the rows the
returned frame still collects must equal the query's DuckDB oracle
(the comparison ``tools/check_oracle.py`` makes).
"""

import duckdb
import pytest

from gravity_spark import queries as Q
from tools.check_oracle import TABLES, canon, values_equal

MEMORY_SINK_QUERIES = [
    "streaming_window_counts",
    "streaming_stream_join",
    "streaming_stream_outer_join",
    "streaming_sessionize_stateful",
    "streaming_dedup_watermark",
    "streaming_static_join",
    "streaming_topk_trending",
    "streaming_late_data_audit",
    "streaming_rate_limit_stateful",
    "streaming_sliding_window_counts",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


def _views(spark):
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("name", MEMORY_SINK_QUERIES)
def test_memory_sink_query_leaves_no_view(spark, sf_dir, duck, name):
    before = _views(spark)
    df = Q.REGISTRY[name].spark(spark, sf_dir)
    assert _views(spark) - before == set()

    s_cols, s_rows = canon([tuple(r) for r in df.collect()], list(df.columns))
    res = duck.execute(Q.REGISTRY[name].oracle)
    d_cols, d_rows = canon(res.fetchall(), [d[0] for d in res.description])
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows) > 0
    bad = [
        (x, y) for x, y in zip(s_rows, d_rows)
        if not all(values_equal(a, b) for a, b in zip(x, y))
    ]
    assert not bad, bad[:3]
