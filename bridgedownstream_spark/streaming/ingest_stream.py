"""Streaming stage 1: archives arriving continuously → NDJSON lake.

The reference's ingest is event-driven: an SQS message per uploaded
archive triggers a Glue workflow run (bootstrap_trigger.py; SURVEY §2.11),
so "new archives only" is enforced by the queue, and an idle study costs
nothing. Spark-first, the same lifecycle is a **file-source stream over the
archive prefix**: the checkpoint records which archives have been handed
to a micro-batch, and ``Trigger.AvailableNow`` drains everything new then
stops — a bookmarked run when invoked from cron, a live ingest daemon when
run with a continuous trigger. No queue, no bespoke ledger.

**A run with nothing new starts no stream.** Restarting the stream is not
free even then: Spark re-opens the last committed batch, and that lists
the batch's archives as root paths, which above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) is a Spark
job of one task per archive. So before starting, :func:`stream_ingest`
reads the checkpoint's own logs on the driver with the commit-log reader
both stages share (:mod:`~bridgedownstream_spark.pipeline.commitlog`),
and returns without a query only when all of these hold:

- nothing is pending: the highest batch id under ``offsets/`` equals the
  highest under ``commits/``, and that batch's offset for the one file
  source (its ``logOffset``) is the last id of the source's log, so a
  batch that was planned but not committed (or files logged but not yet
  planned) still replays;
- every archive in the inbox is in the file-source log (``sources/0/``,
  one JSON ``path`` per entry), compared as URI values
  (:func:`~bridgedownstream_spark.pipeline.commitlog.path_key`);
- the inbox listing is the stream's: one ``listStatus`` of the directory
  :func:`~bridgedownstream_spark.sources.archive.load_archive_files`
  loads, filtered by Hadoop's ``GlobFilter`` with the same pattern, minus
  the names Spark's listing hides.

Anything in doubt starts the stream exactly as before: no checkpoint, an
empty inbox, a log the reader rejects (another version, a line that does
not parse, a gap), more than one source, a glob outside the last path
component, a ``_spark_metadata`` directory in the inbox, or a ``k=v``
directory under it (Spark's partition discovery would then read nested
files). The check
adds no bookmark of its own: the stream's checkpoint is the only one.

Delivery is at-least-once: ``foreachBatch`` appends to the lake and the
quarantine before the checkpoint commits the batch, so a crash between the
two replays that batch into both sinks on the next run.

Each micro-batch runs the SAME stage-1 body as the batch job
(``pipeline.ingest.ingest_archives``: one Python pass per archive — unzip,
validate, judge, route, rewrite — then the quarantine parquet append and
the partitioned NDJSON append), so batch and streaming cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bridgedownstream_spark.pipeline.commitlog import (
    entry_field,
    log_ids,
    path_key,
    path_keys,
    read_entries,
    read_log,
    uri_name,
)
from bridgedownstream_spark.pipeline.fsutil import list_dirs, list_files
from bridgedownstream_spark.pipeline.ingest import ingest_archives
from bridgedownstream_spark.sources.archive import archive_listing, load_archive_files
from bridgedownstream_spark.streaming.drain import drain

__all__ = ["stream_ingest", "BINARY_FILE_SCHEMA"]

#: the binaryFile source's fixed schema — streaming sources require it
#: declared (no inference on a stream)
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def stream_ingest(
    spark: SparkSession,
    archive_path: str,
    manifest: DataFrame,
    archive_map: dict,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None,
    json_root: str,
    checkpoint_root: str,
    quarantine_root: str | None = None,
    app_id: str = "mobile-toolbox",
    timeout_sec: int = 300,
) -> None:
    """Drain all archives not yet seen by ``checkpoint_root`` through the
    stage-1 job, appending to the NDJSON lake (and quarantine), then
    return. Re-running with the same checkpoint ingests only archives that
    arrived since the last run.

    When the checkpoint has committed every archive the stream would list
    and has no batch pending, this returns on the driver without starting
    the query (see the module docstring for the check and its fall-backs);
    otherwise the stream starts as usual, and replays a planned batch that
    was never committed. Delivery stays at-least-once."""
    if _nothing_new(spark, archive_path, checkpoint_root):
        return
    stream = load_archive_files(
        spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA),
        archive_path,
    ).select("path", "content")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        archives = batch_df.withColumn(
            "path", F.regexp_replace("path", "^file:/*", "/")
        ).join(F.broadcast(manifest), "path", "inner")
        ingest_archives(
            archives,
            archive_map=archive_map,
            schema_store=schema_store,
            schema_mapping=schema_mapping,
            dataset_mapping=dataset_mapping,
            json_root=json_root,
            quarantine_root=quarantine_root,
            app_id=app_id,
            mode="append",
        )

    drain(
        stream.writeStream.foreachBatch(process_batch),
        checkpoint_root,
        timeout_sec,
        "stream_ingest",
    )


def _nothing_new(spark: SparkSession, archive_path: str, checkpoint_root: str) -> bool:
    """True only when the stream provably has nothing to give: its
    checkpoint has no pending batch and has logged every archive the
    stream would list. Every doubt answers False."""
    committed = _committed_archives(spark, checkpoint_root)
    if committed is None:
        return False
    listed = _listed_archives(spark, archive_path)
    return bool(listed) and listed <= committed


def _committed_archives(spark: SparkSession, ckpt: str) -> set[tuple] | None:
    """Keys of every archive path the checkpoint's file-source log holds,
    or None unless its last planned batch is committed and planned up to
    the log's last entry, with one source and logs this can read."""
    offsets = log_ids(spark, f"{ckpt}/offsets")
    if not offsets or log_ids(spark, f"{ckpt}/commits")[-1:] != offsets[-1:]:
        return None
    if list_dirs(spark, f"{ckpt}/sources") != ["0"]:
        return None
    try:
        # [batch metadata, the one source's offset]
        offset = read_entries(spark, f"{ckpt}/offsets/{offsets[-1]}")
        log = read_log(spark, f"{ckpt}/sources/0")
        if len(offset) != 2 or log is None:
            return None
        if log[0] != entry_field(offset[1], "logOffset", int):
            return None
        return path_keys(log[1])
    except ValueError:
        return None


def _listed_archives(spark: SparkSession, archive_path: str) -> set[tuple] | None:
    """Keys of the archives the stream lists at ``archive_path``, or None
    when this listing cannot vouch for being the stream's."""
    where = archive_listing(archive_path)
    if where is None:
        return None
    root, pattern = where
    stack = [root]
    while stack:
        d = stack.pop()
        for name in list_dirs(spark, d):
            if name == "_spark_metadata" and d == root:
                return None  # a sink's output: the source reads its log
            if _hidden(name):
                continue
            if "=" in name:
                return None  # partition discovery reads nested files
            stack.append(f"{d}/{name}")
    return {
        path_key(u)
        for u in list_files(spark, root, pattern)
        if not _hidden(uri_name(u))
    }


def _hidden(name: str) -> bool:
    """Spark's rule for a name its file listing skips
    (``HadoopFSUtils.shouldFilterOutPathName``)."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
