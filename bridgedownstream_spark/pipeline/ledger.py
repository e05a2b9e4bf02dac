"""Processed-files ledger: job-bookmark-equivalent incremental semantics.

The reference relies on Glue job bookmarks — ``transformation_ctx`` on the
read and write plus ``job.commit()`` make each run process only files not
seen by a previous successful run (json_s3_to_parquet.py:74,103,233); the
schema-change protocol's "reset the bookmark" step clears that state
(docs/schema_change_protocol.md §3e; introspection
src/scripts/bookmarks/get-bookmarks.py:19-27).

Spark-first, the bookmark is metadata too: one commit log per dataset
under ``<ledger_root>/dataset=<name>/``, in the format of Spark's own
checkpoint logs (:mod:`.commitlog`: numbered ``v1`` files of one JSON
``{"path": …}`` per line, compacted every 10th file). It holds one entry
per input file — file-count scale, not data scale: at 100 TB that is
millions of paths, which fit on the driver. Reading and committing are
Hadoop FS calls on the driver, never a Spark job, so a re-run with nothing
new launches none. New work is a **driver-side set difference** of the
file listing against :meth:`FileLedger.processed_files`, compared through
:func:`~.commitlog.path_key`; a commit is the same difference followed by
one new log file, after the sink write succeeds — mirroring the
reference's post-write ``job.commit()`` ordering so a failed run
reprocesses rather than drops files.

Both stages bookmark through this class: the study workflow's stage 1
(:mod:`~bridgedownstream_spark.streaming.ingest_stream`) logs the
archives it has ingested under ``ingest_ledger/dataset=archives/``, and
stage 2 (:func:`~bridgedownstream_spark.pipeline.json_to_parquet.run_json_to_parquet`)
the lake files of each dataset under ``ledger/``.

A ledger that cannot be read raises; it is never read as empty, which would
reprocess and double-append every file. Concurrent commits to one dataset
are refused rather than lost: the second writer of a log number raises.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import SparkSession

from bridgedownstream_spark.pipeline.commitlog import (
    append_log,
    path_key,
    path_keys,
    read_log,
)
from bridgedownstream_spark.pipeline.fsutil import delete_path, path_exists

__all__ = ["FileLedger"]


class FileLedger:
    """Per-dataset processed-file bookkeeping: one commit log per dataset
    under ``ledger_root``."""

    def __init__(self, spark: SparkSession, ledger_root: str):
        self.spark = spark
        self.root = ledger_root

    def _path(self, dataset: str) -> str:
        return os.path.join(self.root, f"dataset={dataset}")

    def processed_files(self, dataset: str) -> set[tuple[str, str, str]]:
        """The :func:`~.commitlog.path_key` of every committed file, read
        on the driver: empty for a dataset never committed, and an error,
        never an empty set, for a log that is there but unreadable."""
        return path_keys(self._log(dataset)[1])

    def commit(self, paths: Iterable[str], dataset: str) -> int:
        """Record files as processed; returns how many were new. Idempotent:
        paths already in the ledger, or repeated in the input, are recorded
        once. Call AFTER the sink write succeeds — the reference's
        ``job.commit()`` ordering."""
        fresh = {path_key(p): p for p in paths}
        if not fresh:
            return 0
        log = self._log(dataset)
        done = path_keys(log[1])
        new = sorted(p for k, p in fresh.items() if k not in done)
        if new:
            append_log(
                self.spark, self._path(dataset), [{"path": p} for p in new], log
            )
        return len(new)

    def _log(self, dataset: str) -> tuple[int, list]:
        return read_log(self.spark, self._path(dataset)) or (-1, [])

    def reset(self, dataset: str) -> None:
        """Bookmark reset (schema-change protocol §3e): forget the dataset's
        processed files so the next run reprocesses everything. Goes
        through the Hadoop FS API so it works on object stores too."""
        path = self._path(dataset)
        if path_exists(self.spark, path):
            delete_path(self.spark, path)
