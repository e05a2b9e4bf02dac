"""Incremental stage 1: archives arriving continuously → NDJSON lake.

The reference's ingest is event-driven: an SQS message per uploaded
archive triggers a Glue workflow run (bootstrap_trigger.py; SURVEY §2.11),
so "new archives only" is enforced by the queue, and an idle study costs
nothing. Here stage 1 is bookmarked the way stage 2 is: a **driver-side
diff of the inbox listing against a processed-files ledger**
(:class:`~bridgedownstream_spark.pipeline.ledger.FileLedger`, one commit
log read and appended on the driver), so both stages share one bookmark
mechanism, and a run with nothing new launches no Spark job.

One run of :func:`stream_ingest`:

1. builds the archive scan
   (:func:`~bridgedownstream_spark.sources.archive.load_archive_files`),
   which lists the inbox once on the driver with Spark's own rules (hidden
   ``_``/``.`` names, ``pathGlobFilter``, partition discovery);
2. takes that listing with ``inputFiles()`` — no job — and diffs it
   against the ledger
   (:meth:`~bridgedownstream_spark.pipeline.ledger.FileLedger.new_files`);
   with nothing new it returns;
3. restricts the same scan to the new archives with a
   ``_metadata.file_path`` filter, which Spark applies to the listing it
   already holds (no re-listing, no job of one task per archive);
4. runs the stage-1 body, ``pipeline.ingest.ingest_archives`` (one Python
   pass per archive — unzip, validate, judge, route, rewrite — then the
   quarantine parquet append and the partitioned NDJSON append), the same
   body as the batch job, so batch and incremental runs cannot drift;
5. commits the new archives to the ledger, after both sinks.

Delivery is at-least-once: a crash between the sinks and the commit
leaves those archives unlogged, and the next run ingests them again.
Of two runs on one ledger that overlap, the one that commits second
raises at its commit, after its sinks, as stage 2 does: its ledger log
moved on since its read
(:class:`~bridgedownstream_spark.pipeline.ledger.FileLedger`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.ingest import ingest_archives
from bridgedownstream_spark.pipeline.ledger import FileLedger
from bridgedownstream_spark.sources.archive import load_archive_files, with_manifest

__all__ = ["stream_ingest"]

#: the ledger's one dataset: the archives stage 1 has ingested
_LEDGER_DATASET = "archives"


def stream_ingest(
    spark: SparkSession,
    archive_path: str,
    manifest: DataFrame,
    archive_map: dict,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None,
    json_root: str,
    ledger_root: str,
    quarantine_root: str | None = None,
    app_id: str = "mobile-toolbox",
) -> None:
    """Ingest every archive at ``archive_path`` that the ledger under
    ``ledger_root`` has not logged, appending to the NDJSON lake (and
    quarantine), then log them. Re-running with the same ledger ingests
    only archives that arrived since the last run; with none, it returns
    having launched no Spark job."""
    scan = load_archive_files(spark.read.format("binaryFile"), archive_path)
    ledger = FileLedger(spark, ledger_root)
    new = ledger.new_files(scan.inputFiles(), _LEDGER_DATASET)
    if not new:
        return
    batch = scan.where(F.col("_metadata.file_path").isin([_file_path(u) for u in new]))
    ingest_archives(
        with_manifest(batch, manifest),
        archive_map=archive_map,
        schema_store=schema_store,
        schema_mapping=schema_mapping,
        dataset_mapping=dataset_mapping,
        json_root=json_root,
        quarantine_root=quarantine_root,
        app_id=app_id,
        mode="append",
    )
    ledger.commit(new, _LEDGER_DATASET)


def _file_path(uri: str) -> str:
    """``uri`` as ``_metadata.file_path`` spells it. ``inputFiles()`` and
    ``_metadata.file_path`` both %-escape the path, but the first writes an
    empty authority as ``//`` (``file:///d/a%20b.zip``) and the second
    omits it (``file:/d/a%20b.zip``)."""
    scheme, rest = uri.split(":", 1)
    return f"{scheme}:{rest[2:] if rest.startswith('///') else rest}"
