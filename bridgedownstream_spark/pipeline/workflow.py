"""The one-call study workflow: archives → NDJSON lake → parquet lake.

The reference splits this across cloud machinery — SNS→SQS→Lambda grouping
messages into Glue *workflow runs*, each run executing s3_to_json_s3 then
one json_s3_to_parquet job per dataset discovered by a crawler
(src/lambda/sns_to_glue/app.py:26-57; templates/study-pipeline-infra.j2
workflow wiring). Here the same lifecycle is one function: stage 1, dataset
discovery from the lake layout (no crawler — the ``dataset=`` dirs ARE the
catalog of what arrived), then an incremental stage 2 per discovered
dataset sharing one processed-files ledger (one commit log per dataset,
so the concurrent stage-2 jobs never write the same log).

Scale: stage 2 of each dataset is an independent job over a disjoint
``dataset=`` prefix; on a cluster they can run as concurrent job groups,
but even sequentially the cost is one narrow pass per dataset. Discovery
lists only FIRST-LEVEL directory names — file-count-scale listing never
happens here (the per-dataset scans do their own partition-pruned listing).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from bridgedownstream_spark.pipeline.fsutil import list_dirs
from bridgedownstream_spark.pipeline.json_to_parquet import run_json_to_parquet
from bridgedownstream_spark.pipeline.ledger import FileLedger
from bridgedownstream_spark.pipeline.registry import DatasetRegistry

__all__ = ["discover_datasets", "run_study_workflow"]


def discover_datasets(spark: SparkSession, json_root: str) -> list[str]:
    """Dataset names present in the lake: the ``dataset=<name>`` first-level
    directories. Uses the Hadoop FileSystem API so the same call works on
    file://, s3a://, hdfs:// — one RPC for the top level, never a recursive
    walk."""
    return [
        name.split("=", 1)[1]
        for name in list_dirs(spark, json_root)
        if name.startswith("dataset=")
    ]


def run_study_workflow(
    spark: SparkSession,
    archive_path: str,
    manifest: DataFrame,
    archive_map: dict,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    registry: DatasetRegistry,
    work_root: str,
    dataset_mapping: dict | None = None,
    app_id: str = "mobile-toolbox",
    max_concurrency: int = 4,
) -> dict[str, dict[str, str]]:
    """Run the full two-stage pipeline for one batch of archives.

    Layout under ``work_root``: ``json/`` (stage-1 NDJSON lake),
    ``parquet/`` (stage-2 tables), ``quarantine/`` (invalid members),
    ``ingest_ledger/`` (stage-1 bookmark), ``ledger/`` (stage-2 bookmark).
    Both stages are incremental through the same bookmark, a
    :class:`~bridgedownstream_spark.pipeline.ledger.FileLedger` (commit
    logs read and appended on the driver): each diffs a file listing
    against its ledger on the driver, processes only what is new and
    commits it after the sinks. Stage 1 lists the archive directory once on
    the driver per run (the reference needed the SQS queue to deliver
    only-new archives; the ledger subsumes it, so re-listing ALL archives
    is safe): an ``archive_path`` such as ``inbox/*.zip`` is loaded as
    ``inbox`` with a file-name filter
    (:func:`~bridgedownstream_spark.sources.archive.load_archive_files`; see
    :mod:`~bridgedownstream_spark.streaming.ingest_stream`). Stage 2
    compares each dataset's file listing with its ledger log, so a re-run
    with nothing new reads no data and launches no Spark job.
    Datasets present in the lake but absent from the registry are left
    for a later run (exactly the reference's behavior when the catalog
    lags the data — the crawler sees them, the job has no table yet).

    Stage-2 jobs for distinct datasets run CONCURRENTLY (up to
    ``max_concurrency`` driver threads, one Spark job group per dataset)
    — the reference launches one Glue job per dataset in parallel
    (study-pipeline-infra.j2:112-139), and a small dataset's job would
    otherwise idle the cluster while a large one's scan runs. Safe
    because every per-dataset write (parquet tables, ledger log)
    lands under dataset-scoped paths; on a shared cluster set
    ``spark.scheduler.mode=FAIR`` so the pools actually share executors.

    Returns ``{dataset: {table: parquet_path}}`` for datasets processed.
    """
    from bridgedownstream_spark.streaming.ingest_stream import stream_ingest

    json_root = os.path.join(work_root, "json")
    parquet_root = os.path.join(work_root, "parquet")
    stream_ingest(
        spark,
        archive_path=archive_path,
        manifest=manifest,
        archive_map=archive_map,
        schema_store=schema_store,
        schema_mapping=schema_mapping,
        dataset_mapping=dataset_mapping,
        json_root=json_root,
        ledger_root=os.path.join(work_root, "ingest_ledger"),
        quarantine_root=os.path.join(work_root, "quarantine"),
        app_id=app_id,
    )
    ledger = FileLedger(spark, os.path.join(work_root, "ledger"))
    names = [n for n in discover_datasets(spark, json_root) if n in registry]

    def _stage2(name: str) -> tuple[str, dict[str, str]]:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"stage2-{name}")
        sc.setJobGroup(f"stage2-{name}", f"json→parquet: {name}", True)
        try:
            return name, run_json_to_parquet(
                spark,
                json_root,
                parquet_root,
                name,
                registry,
                mode="append",
                ledger=ledger,
            )
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    if max_concurrency <= 1 or len(names) <= 1:
        return {name: tables for name, tables in map(_stage2, names)}
    with ThreadPoolExecutor(
        max_workers=min(max_concurrency, len(names)),
        thread_name_prefix="stage2",
    ) as pool:
        # ex.map propagates the first failure — a broken dataset fails the
        # workflow loudly, like a failed Glue job run
        return {name: tables for name, tables in pool.map(_stage2, names)}
