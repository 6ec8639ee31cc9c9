"""Data-lake table sink: the reference's BigQuery load semantics on Spark.

Reference behavior preserved (bigquery.py:42-47): full-refresh = drop target
then load; incremental = append. Fixed by construction: the reference never
awaits its LoadJob (bigquery.py:25-28 — a failed load can still be recorded
as Success); Spark writes are synchronous actions, so a returned load IS a
completed load, and tests assert it.

Tables are parquet directories under a warehouse root (one 'dataset', like
the reference's hard-coded ``g_sheets``, bigquery.py:9). At cluster scale
the same API fronts saveAsTable/Delta; the parquet layout keeps v1
dependency-free. A table that needs compaction or transactional commits is
an ``io.snapshots.SnapshotTable``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    """A directory-backed 'dataset' of parquet tables."""

    def __init__(self, spark: SparkSession, root: str, dataset: str = "g_sheets") -> None:
        self.spark = spark
        self.root = os.path.join(root, dataset)
        os.makedirs(self.root, exist_ok=True)  # reference auto-creates, bigquery.py:13-16

    def _path(self, table: str) -> str:
        # Reject names that would escape (or BE) the dataset root: an empty
        # destination (the Job dataclass default) used to resolve to the root
        # itself, so a full-refresh load could rmtree the whole dataset.
        # ':' covers Windows drive-relative names ('C:evil' contains no
        # separator yet os.path.join resolves it OUTSIDE the root).
        if (
            not table
            or table in (".", "..")
            or "/" in table
            or ":" in table
            or os.sep in table
            or (os.altsep and os.altsep in table)
        ):
            raise ValueError(f"invalid table name: {table!r}")
        return os.path.join(self.root, table)

    def table_exists(self, table: str) -> bool:
        """Catalog probe (reference table_exists, bigquery.py:31-35)."""
        return os.path.isdir(self._path(table))

    def drop(self, table: str) -> None:
        """DROP TABLE (reference delete, bigquery.py:38-39)."""
        shutil.rmtree(self._path(table), ignore_errors=True)

    def load(self, df: DataFrame, table: str, incremental: bool = False) -> str:
        """Load a DataFrame: full-refresh (drop + recreate) unless
        ``incremental`` (append) — reference load(), bigquery.py:42-47.
        Synchronous: when this returns, the data is on disk."""
        # Spark's overwrite mode replaces the directory contents itself; an
        # explicit drop() first would only widen the reader-visible
        # missing-table window and add a failure point before the write.
        mode = "append" if incremental else "overwrite"
        df.write.mode(mode).parquet(self._path(table))
        return f"{os.path.basename(self.root)}.{table}"

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._path(table))
