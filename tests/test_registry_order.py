"""The registry's names and their registration order are frozen:
bench.py iterates REGISTRY in order (per-query records line up across
rounds) and perfbench's sampled workload names its queries. Moving a
query's helpers between modules must leave both untouched."""

from pathlib import Path


def test_registry_order_is_frozen():
    from gravity_spark.queries import REGISTRY

    frozen = (Path(__file__).parent / "registry_order.txt").read_text().split()
    assert len(frozen) == 292
    assert list(REGISTRY) == frozen
