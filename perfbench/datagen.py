"""Seeded inputs for the benchmark workloads.

Two generators, both pure numpy/pyarrow so that input creation never
touches the system under test:

- ``ChangeLog``: a CDC change stream for one table (``app.users``) as
  envelope-JSON lines, plus the generator's own last-write-wins model of
  the replica. Every change carries a global ``seq``; a row's values are
  a function of (id, seq), so the expected replica is fully described by
  each live key's last seq.
- ``write_registry_tables``: the ten registry tables (TPC-H-style star
  schema, ``events``, ``documents``, ``embeddings``) at a given scale,
  with the schemas and value distributions of the repository's test data.
"""

from __future__ import annotations

import json
import os

import numpy as np

TABLE_DDL = "id long, name string, email string, score long"
SNAPSHOT_SEQ = 0
# share of rows addressed to another table; the ``accept`` filter drops them
OTHER_TABLE_SHARE = 0.05
UPDATE_SHARE = 0.9  # of the table's changes; inserts and deletes split the rest
SKEW = 3.0  # update key position = live count * u**SKEW, u uniform


def snapshot_score(ids, salt: int):
    """Snapshot score of ``ids``; the same arithmetic works on numpy
    arrays and on Spark columns."""
    return (ids * 2654435761 + salt) % 1_000_003


class ChangeLog:
    """Replica model plus a generator of change files.

    ``n_keys`` live keys exist after the snapshot. Each change file holds
    ``rows`` changes: updates of live keys drawn with a power-law skew (a
    few keys change often), and equal numbers of inserts of fresh keys
    and deletes of live keys, so the live key count stays ``n_keys``.
    Rows for another table ride along and are filtered out by the
    pipeline.
    """

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = np.random.default_rng(seed)
        # point-lookup keys come from their own stream, so the change
        # files do not depend on how many lookups ran before them
        self.lookup_rng = np.random.default_rng([seed, 1])
        self.salt = int(self.rng.integers(1, 1_000_000))
        self.next_id = n_keys
        self.next_seq = SNAPSHOT_SEQ + 1
        # live[:n_live] holds the live key ids (order is arbitrary)
        self.live = np.arange(n_keys, dtype=np.int64)
        self.n_live = n_keys
        # last_seq[id]: SNAPSHOT_SEQ = snapshot value, -1 = deleted
        self.last_seq = np.full(n_keys, SNAPSHOT_SEQ, dtype=np.int64)

    # -- model ---------------------------------------------------------
    def live_ids(self) -> np.ndarray:
        return np.sort(self.live[: self.n_live])

    def expected_score(self, ids: np.ndarray) -> np.ndarray:
        seqs = self.last_seq[ids]
        return np.where(seqs == SNAPSHOT_SEQ, snapshot_score(ids, self.salt), seqs)

    def expected_sum(self) -> int:
        return int(self.expected_score(self.live[: self.n_live]).sum())

    def sample_live(self, k: int) -> np.ndarray:
        idx = self.lookup_rng.integers(0, self.n_live, size=k)
        return np.unique(self.live[idx])

    # -- changes -------------------------------------------------------
    def _grow(self, n_new: int) -> None:
        need = self.next_id + n_new
        if need > len(self.last_seq):
            grown = np.full(max(need, len(self.last_seq) * 3 // 2), -1, dtype=np.int64)
            grown[: len(self.last_seq)] = self.last_seq
            self.last_seq = grown

    def next_file(self, rows: int) -> tuple[str, int]:
        """Advance the model by one change file; return (text, dml rows).

        Deletes hit distinct keys live at the start of the file, updates
        hit the remaining live keys, inserts use fresh ids; so every
        change is valid against the replica state at its seq."""
        rng = self.rng
        n_other = int(rows * OTHER_TABLE_SHARE)
        n_dml = rows - n_other
        n_ins = n_del = int(n_dml * (1.0 - UPDATE_SHARE) / 2)
        n_upd = n_dml - n_ins - n_del
        self._grow(n_ins)
        n_live = self.n_live
        del_pos = rng.choice(n_live, size=n_del, replace=False)
        keep = np.ones(n_live, bool)
        keep[del_pos] = False
        survivors = self.live[:n_live][keep]
        deleted = self.live[del_pos]
        upd = survivors[(len(survivors) * rng.random(n_upd) ** SKEW).astype(np.int64)]
        ins = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        # 0 update, 1 insert, 2 delete, 3 other table; shuffled into seq order
        ops = np.concatenate([
            np.zeros(n_upd, np.int8), np.ones(n_ins, np.int8),
            np.full(n_del, 2, np.int8), np.full(n_other, 3, np.int8),
        ])
        keys = np.concatenate([upd, ins, deleted, np.zeros(n_other, np.int64)])
        order = rng.permutation(rows)
        ops, keys = ops[order], keys[order]
        seqs = np.arange(self.next_seq, self.next_seq + rows, dtype=np.int64)

        dml = ops != 3
        np.maximum.at(self.last_seq, keys[dml & (ops != 2)], seqs[dml & (ops != 2)])
        self.last_seq[deleted] = -1
        self.live[: n_live - n_del] = survivors
        self.live[n_live - n_del : n_live - n_del + n_ins] = ins
        self.n_live = n_live - n_del + n_ins
        self.next_id += n_ins
        self.next_seq += rows

        names = ("update", "insert", "delete")
        ts = _iso(1_704_067_200 + int(seqs[0]) // 1000)
        out = []
        for op, key, seq in zip(ops.tolist(), keys.tolist(), seqs.tolist()):
            if op == 3:
                out.append(
                    '{"type":"dml","database":"app","table":"audit_log","op":"insert",'
                    f'"seq":{seq},"pks":{{"id":"{seq}"}},"data":{{"id":"{seq}","msg":"m{seq}"}}}}'
                )
            else:
                out.append(
                    f'{{"type":"dml","database":"app","table":"users","op":"{names[op]}",'
                    f'"ts":"{ts}","seq":{seq},"pks":{{"id":"{key}"}},'
                    f'"data":{{"id":"{key}","name":"n{seq}","email":"u{key}@e{seq % 97}.io",'
                    f'"score":"{seq}","password":"p{seq % 1000}"}}}}'
                )
        return "\n".join(out) + "\n", n_dml


def _iso(epoch_s: int) -> str:
    d, s = divmod(epoch_s - 1_704_067_200, 86400)
    return f"2024-01-{1 + d % 28:02d}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}Z"


def snapshot_frame(spark, n_keys: int, salt: int):
    """The snapshot as typed insert rows (op, seq) for ``apply_batch``,
    built on the executors from ``range`` so no rows cross py4j."""
    from pyspark.sql import functions as F

    return spark.range(n_keys).select(
        F.col("id"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("name"),
        F.concat(F.lit("u"), F.col("id").cast("string"), F.lit("@s.io")).alias("email"),
        snapshot_score(F.col("id"), salt).alias("score"),
        F.lit("insert").alias("op"),
        F.lit(SNAPSHOT_SEQ).cast("long").alias("seq"),
    )


def write_model(log: ChangeLog, path: str) -> None:
    """The expected replica as parquet: each live id, its score, and
    whether it still holds its snapshot values (name and email follow
    from these by rule)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = log.live_ids()
    pq.write_table(pa.table({
        "id": ids,
        "score": log.expected_score(ids),
        "snap": log.last_seq[ids] == SNAPSHOT_SEQ,
    }), path)


# ---------------------------------------------------------------------
# registry tables
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def _days(rng, n, start: str, end: str):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def write_registry_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the registry tables for scale ``sf`` as parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    def i32(a):
        return pa.array(a, pa.int32())

    tables = {
        "region": pa.table({
            "r_regionkey": i32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(n_cust, -999.99, 9999.99),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _PTYPES[rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(n_li, 900.0, 105000.0),
            "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(26.0 * 1e6, n_ev).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (t0 + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word strings; 5% are a copy of an earlier
    # document plus " dup" (the near-duplicates the dedup queries find)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            idx = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[j] for j in idx))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
