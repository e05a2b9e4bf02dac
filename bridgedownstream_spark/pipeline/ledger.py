"""Processed-files ledger: job-bookmark-equivalent incremental semantics.

The reference relies on Glue job bookmarks — ``transformation_ctx`` on the
read and write plus ``job.commit()`` make each run process only files not
seen by a previous successful run (json_s3_to_parquet.py:74,103,233); the
schema-change protocol's "reset the bookmark" step clears that state
(docs/schema_change_protocol.md §3e; introspection
src/scripts/bookmarks/get-bookmarks.py:19-27).

Spark-first: the bookmark is just a tiny parquet table of processed file
paths per dataset, read with its declared schema (no inference job). It
holds one row per input file — file-count scale, not data scale: at 100 TB
that is millions of paths, which fit on the driver. New work is therefore a
**driver-side set difference** of the file listing against
:meth:`FileLedger.processed_paths`, and a commit is the same difference
followed by one append of the new paths, after the sink write succeeds —
mirroring the reference's post-write ``job.commit()`` ordering so a failed
run reprocesses rather than drops files.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from bridgedownstream_spark.pipeline.fsutil import delete_path, path_exists

__all__ = ["FileLedger"]

#: the ledger table's declared schema
LEDGER_SCHEMA = "file_path string"


class FileLedger:
    """Per-dataset processed-file bookkeeping in a parquet table
    ``(dataset, file_path)`` under ``ledger_root``."""

    def __init__(self, spark: SparkSession, ledger_root: str):
        self.spark = spark
        self.root = ledger_root

    def _path(self, dataset: str) -> str:
        return os.path.join(self.root, f"dataset={dataset}")

    def processed_files(self, dataset: str) -> DataFrame:
        """The ledger as a DataFrame (empty if never committed). Existence
        is checked explicitly — a transient read failure must propagate,
        not masquerade as an empty ledger (which would reprocess and
        double-append every file)."""
        path = self._path(dataset)
        if not path_exists(self.spark, path):
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(path)

    def processed_paths(self, dataset: str) -> set[str]:
        """The ledger's file paths on the driver: one scan job, none for a
        dataset never committed."""
        if not path_exists(self.spark, self._path(dataset)):
            return set()
        return {r.file_path for r in self.processed_files(dataset).collect()}

    def commit(self, paths: Iterable[str], dataset: str) -> int:
        """Record files as processed; returns how many were new. Idempotent:
        paths already in the ledger, or repeated in the input, are recorded
        once. Call AFTER the sink write succeeds — the reference's
        ``job.commit()`` ordering."""
        paths = set(paths)
        if not paths:
            return 0
        new = list(paths - self.processed_paths(dataset))
        if new:
            # an Arrow table becomes a JVM-local relation: the append is
            # one job with no Python worker behind it
            rows = pa.table({"file_path": pa.array(new, pa.string())})
            self.spark.createDataFrame(rows).coalesce(1).write.mode(
                "append"
            ).parquet(self._path(dataset))
        return len(new)

    def reset(self, dataset: str) -> None:
        """Bookmark reset (schema-change protocol §3e): forget the dataset's
        processed files so the next run reprocesses everything. Goes
        through the Hadoop FS API so it works on object stores too."""
        path = self._path(dataset)
        if path_exists(self.spark, path):
            delete_path(self.spark, path)
