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
new launches none.

Every incremental job runs one unit of work the same way:

1. list its input on the driver;
2. :meth:`FileLedger.new_files` — the listing minus the log, compared
   through :func:`~.commitlog.path_key`; with nothing new the job returns;
3. read only the new files and write the sinks;
4. :meth:`FileLedger.commit` the new files, after the sinks — mirroring
   the reference's post-write ``job.commit()`` ordering, so a failed run
   reprocesses rather than drops files.

Three jobs bookmark through this class: the study workflow's stage 1
(:mod:`~bridgedownstream_spark.streaming.ingest_stream`) logs the
archives it has ingested under ``ingest_ledger/dataset=archives/``; the
append stage 2
(:func:`~bridgedownstream_spark.pipeline.json_to_parquet.run_json_to_parquet`)
and the upsert lake sync
(:func:`~bridgedownstream_spark.streaming.lake_sync.stream_upsert_lake`)
log the lake files of each dataset under their ledger root.

A ledger that cannot be read raises; it is never read as empty, which would
reprocess and double-append every file. A commit appends to the log as
this ledger last read it for the dataset (in :meth:`FileLedger.processed_files`,
which :meth:`FileLedger.new_files` calls), so a run whose log moved on
since its read — another run committed in between — raises at its commit
instead of returning with a second copy in its sinks. So does the second
of two runs that race for one log number: the second writer of a log
number raises.
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
        self._read: dict[str, tuple[int, list]] = {}

    def _path(self, dataset: str) -> str:
        return os.path.join(self.root, f"dataset={dataset}")

    def processed_files(self, dataset: str) -> set[tuple[str, str, str]]:
        """The :func:`~.commitlog.path_key` of every committed file, read
        on the driver: empty for a dataset never committed, and an error,
        never an empty set, for a log that is there but unreadable. The
        next :meth:`commit` of ``dataset`` appends to the log as read here."""
        self._read[dataset] = log = self._log(dataset)
        return path_keys(log[1])

    def new_files(self, listing: Iterable[str], dataset: str) -> list[str]:
        """The paths of ``listing``, in order, that the dataset's log does
        not hold, compared through :func:`~.commitlog.path_key`."""
        done = self.processed_files(dataset)
        return [p for p in listing if path_key(p) not in done]

    def commit(self, paths: Iterable[str], dataset: str) -> int:
        """Record files as processed; returns how many were new. Idempotent:
        paths already in the ledger, or repeated in the input, are recorded
        once. Call AFTER the sink write succeeds — the reference's
        ``job.commit()`` ordering. After a :meth:`processed_files` read the
        commit appends to the log as read there, and raises if another
        writer has appended since; otherwise it reads the log first."""
        fresh = {path_key(p): p for p in paths}
        if not fresh:
            return 0
        log = self._read.pop(dataset, None) or self._log(dataset)
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
