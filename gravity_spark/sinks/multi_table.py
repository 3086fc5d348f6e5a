"""Multi-table fan-out sink: one CDC stream → many merge targets.

Reference parity: the batch-table-scheduler's per-(db,table) dispatch
(batch_table_scheduler.go:390-604) — table-level parallelism with
per-key ordering inside each table. Here the fan-out happens inside one
foreachBatch: the batch is split by routed (database, table), each
slice typed via the catalog and merged into its own target. Slices are
independent Spark jobs, so tables still proceed in parallel (driver
threads), while per-key ordering is preserved by the per-slice LWW
collapse — the same guarantee matrix as the reference's scheduler.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gravity_spark.core.catalog import Catalog
from gravity_spark.sinks.parquet_merge import ParquetMergeTarget

# driver threads applying table slices at once
MAX_PARALLEL_TABLES = 8


class MultiTableMergeSink:
    """Routes envelope batches to per-table ParquetMergeTargets.

    ``targets``: {(database, table): ParquetMergeTarget}; the catalog
    provides the typed projection per table. Unrouted tables are
    dropped (router-as-accept-list, binlog_tailer.go:317-325).
    """

    def __init__(
        self,
        targets: Mapping[tuple[str, str], ParquetMergeTarget],
        catalog: Catalog,
    ) -> None:
        self.targets = dict(targets)
        self.catalog = catalog

    def apply_batch(self, changes: DataFrame, epoch_id: int | None = None) -> None:
        present = [
            (r["database"], r["table"])
            for r in changes.select("database", "table").distinct().collect()
        ]
        work = [key for key in present if key in self.targets]
        if not work:
            return
        # cache once: every slice filters the same batch
        cached = changes.persist()
        try:
            def apply_one(key: tuple[str, str]) -> None:
                db, tbl = key
                slice_df = cached.filter(
                    (F.col("database") == db) & (F.col("table") == tbl)
                )
                typed = self.catalog.get(db, tbl).typed_projection(slice_df)
                self.targets[key].apply_batch(typed, epoch_id)

            if len(work) == 1:
                apply_one(work[0])
            else:
                with ThreadPoolExecutor(
                    max_workers=min(MAX_PARALLEL_TABLES, len(work))
                ) as pool:
                    list(pool.map(apply_one, work))
        finally:
            cached.unpersist()

    def read(self, database: str, table: str) -> DataFrame:
        return self.targets[(database, table)].read()
