"""Streaming stage 1: archives arriving continuously → NDJSON lake.

The reference's ingest is event-driven: an SQS message per uploaded
archive triggers a Glue workflow run (bootstrap_trigger.py; SURVEY §2.11),
so "new archives only" is enforced by the queue. Spark-first, the same
lifecycle is a **file-source stream over the archive prefix**: the
checkpoint records which archives have been handed to a micro-batch, and
``Trigger.AvailableNow`` drains everything new then stops — a bookmarked
run when invoked from cron, a live ingest daemon when run with a
continuous trigger. No queue, no bespoke ledger.

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

from bridgedownstream_spark.pipeline.ingest import ingest_archives
from bridgedownstream_spark.sources.archive import load_archive_files

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
    arrived since the last run."""
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

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_root)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()  # hung drains must raise, not return half-ingested
        raise TimeoutError(
            f"stream_ingest: drain exceeded {timeout_sec}s "
            f"(checkpoint={checkpoint_root})"
        )
