"""``sessionization`` splits a session on a gap of more than 1800 s,
measured in fractional seconds as DuckDB's ``epoch()`` measures it.
Whole-second gaps (``unix_timestamp`` differences) disagree with the
oracle whenever the fractional parts straddle the threshold."""

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from gravity_spark.queries import oracle_sql, queries

T0 = datetime(2024, 1, 1)


def _events(path):
    # (user, first event offset s, gap s): whole-second gap in the comment
    users = [
        (1, 0.5, 1800.4),  # 0.5 → 1800.9: whole-second gap 1800, a new session
        (2, 0.7, 1800.4),  # 0.7 → 1801.1: whole-second gap 1801, a new session
        (3, 0.9, 1799.6),  # 0.9 → 1800.5: whole-second gap 1800, same session
    ]
    ts, uid = [], []
    for u, start, gap in users:
        ts += [T0 + timedelta(seconds=start), T0 + timedelta(seconds=start + gap)]
        uid += [u, u]
    n = len(ts)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": ["view"] * n,
        "value": [1.0] * n,
        "props": ["{}"] * n,
    }), f"{path}/events.parquet")


def test_sessionization_fractional_gap_matches_oracle(spark, tmp_path):
    _events(tmp_path)
    got = {
        r["user_id"]: r["n_sessions"]
        for r in queries()["sessionization"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = {
        u: n for u, n, _ in con.execute(oracle_sql()["sessionization"]).fetchall()
    }
    assert oracle == {1: 2, 2: 2, 3: 1}
    assert got == oracle
