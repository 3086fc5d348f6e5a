"""The registry's names, their registration order and their oracle text
are frozen: bench.py iterates REGISTRY in order (per-query records line
up across rounds), perfbench's sampled workload names its queries, and
each oracle is the graded truth of its query. Moving a query's helpers
between modules must leave all three untouched.

tests/registry_order.txt holds one line per entry: the name, then the
sha256 of its oracle SQL (``-`` for a rows-only entry)."""

import hashlib
from pathlib import Path


def test_registry_order_is_frozen():
    from gravity_spark.queries import REGISTRY

    lines = (Path(__file__).parent / "registry_order.txt").read_text().splitlines()
    frozen = [tuple(line.split()) for line in lines]
    assert len(frozen) == 292
    assert [name for name, _ in frozen] == list(REGISTRY)
    got = [
        (n, "-" if q.oracle is None else hashlib.sha256(q.oracle.encode()).hexdigest())
        for n, q in REGISTRY.items()
    ]
    assert got == frozen
