"""Stage 1: zip archives → validated, routed, partitioned NDJSON lake.

Spark-first re-expression of the reference's single-node ingest job
(src/glue/jobs/s3_to_json_s3.py:733-832):

    boto3 get_object loop        → binaryFile scan + manifest broadcast join
    zipfile member loop          → mapInPandas fan-out (sources.archive)
    get_json_schema (3 scopes)   → memoized lookup in the validation UDF
                                   (validation.resolve)
    jsonschema.iter_errors       → Arrow-batched mapInPandas (validation)
    remove_expected_validation_errors → array_except projection
    invalid → SQS queue          → quarantine parquet table (replayable scan)
    get_dataset_identifier       → broadcast config joins (router)
    write_file_to_json_dataset   → per-element metadata injection UDF +
                                   partitioned text sink (byte-faithful NDJSON)

One Spark job replaces 150 concurrent Glue runs
(config/prod/glue-job-S3ToJsonS3.yaml:13): parallelism comes from archive
partitioning, and every shuffle in the plan is a broadcast join except the
one record-key window in the validity split.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bridgedownstream_spark.sources.archive import explode_members, read_archives
from bridgedownstream_spark.validation import (
    split_valid_records,
    suppress_expected_errors,
    validate_members,
)

__all__ = [
    "route_datasets",
    "inject_metadata",
    "write_json_lake",
    "run_ingest",
    "ingest_archives",
]

#: S3-object-metadata fields the manifest must provide per archive
#: (reference tests/test_s3_to_json_s3.py:173-197).
MANIFEST_FIELDS = (
    "recordid",
    "assessmentid",
    "assessmentrevision",
    "uploadedon",
    "clientinfo",
)


def route_datasets(
    members: DataFrame,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None = None,
) -> DataFrame:
    """Add ``dataset_identifier``; drop unroutable members.

    Routing precedence (reference get_dataset_identifier,
    s3_to_json_s3.py:493-556): the resolved schema's ``$id`` looked up in
    ``schema_mapping`` wins; otherwise the legacy ``dataset_mapping`` keyed
    by (assessmentid, assessmentrevision, file_name). Both are config-size
    tables → broadcast joins (operator J5), never per-row Python.
    """
    spark = members.sparkSession
    # schema route: url → $id → dataset
    url_rows = [
        (url, schema_mapping[sid])
        for url, schema in schema_store.items()
        if (sid := str(schema.get("$id", ""))) in schema_mapping
    ]
    url_lookup = spark.createDataFrame(
        url_rows or [(None, None)], "schema_url string, ds_by_schema string"
    )
    # legacy route: (assessmentid, revision, filename) → dataset
    legacy_rows = []
    for aid, spec in (dataset_mapping or {}).get("assessmentIdentifier", {}).items():
        for rev, files in spec.get("assessmentRevision", {}).items():
            for fname, ds in files.items():
                legacy_rows.append((aid, str(rev), fname, ds))
    legacy_lookup = spark.createDataFrame(
        legacy_rows or [(None, None, None, None)],
        "assessmentid string, assessmentrevision string, file_name string, "
        "ds_by_legacy string",
    )
    routed = (
        members.join(F.broadcast(url_lookup), "schema_url", "left")
        .join(
            F.broadcast(legacy_lookup),
            ["assessmentid", "assessmentrevision", "file_name"],
            "left",
        )
        .withColumn(
            "dataset_identifier", F.coalesce("ds_by_schema", "ds_by_legacy")
        )
        .drop("ds_by_schema", "ds_by_legacy")
    )
    # files with no mapping are skipped (reference :518-555 returns None)
    return routed.where(F.col("dataset_identifier").isNotNull())


def inject_metadata(members: DataFrame) -> DataFrame:
    """Rewrite each member body with injected metadata and derive the
    partition columns (reference write_file_to_json_dataset,
    s3_to_json_s3.py:592-619):

    - partition fields: year/month/day ints parsed from ``uploadedon``
      (format ``%Y-%m-%dT%H:%M:%S.%fZ``), plus assessmentid + recordid;
    - ArchiveMetadata datasets get EVERY manifest field injected;
    - list-bodies get the fields injected into every element (operator N6);
    - partition *columns* keep the reference's unpadded string forms
      (``month=9``, :628-639) while the injected data fields stay ints —
      the int-in-data/string-in-partition duality, preserved exactly.

    Body rewriting is Python-bound (arbitrary JSON), so it is one
    Arrow-batched ``mapInPandas``; the partition columns are derived
    natively afterwards.
    """
    meta_cols = [c for c in MANIFEST_FIELDS if c in members.columns]
    out_schema = T.StructType(
        list(members.schema.fields)
        + [
            T.StructField("year", T.StringType()),
            T.StructField("month", T.StringType()),
            T.StructField("day", T.StringType()),
        ]
    )

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from datetime import datetime

        for pdf in batches:
            years, months, days, bodies = [], [], [], []
            for rec in pdf.itertuples(index=False):
                uploaded = datetime.strptime(
                    rec.uploadedon, "%Y-%m-%dT%H:%M:%S.%fZ"
                )
                schema_identifier = rec.dataset_identifier.split("_")[0]
                parts = {
                    "year": uploaded.year,
                    "month": uploaded.month,
                    "day": uploaded.day,
                }
                try:
                    j = json.loads(rec.body)
                except json.JSONDecodeError:
                    j = None
                if j is None:
                    body = rec.body
                    if "\n" in body or "\r" in body:
                        # the lake sink is LINE-oriented: a multiline
                        # unparseable body would be split into one garbage
                        # record per physical line. Wrap it into a single
                        # JSON line, byte-recoverable and clearly marked.
                        body = json.dumps({"__unparseable_body__": body})
                elif schema_identifier == "ArchiveMetadata":
                    j.update(parts)
                    for c in meta_cols:
                        j[c] = getattr(rec, c)
                    body = json.dumps(j, indent=None)
                elif isinstance(j, list):
                    for item in j:
                        if isinstance(item, dict):
                            item["assessmentid"] = rec.assessmentid
                            item.update(parts)
                            item["recordid"] = rec.recordid
                    body = json.dumps(j, indent=None)
                else:
                    j["assessmentid"] = rec.assessmentid
                    j.update(parts)
                    j["recordid"] = rec.recordid
                    body = json.dumps(j, indent=None)
                bodies.append(body)
                years.append(str(uploaded.year))
                months.append(str(uploaded.month))
                days.append(str(uploaded.day))
            pdf = pdf.copy()
            pdf["body"] = bodies
            pdf["year"] = years
            pdf["month"] = months
            pdf["day"] = days
            yield pdf

    return members.mapInPandas(rewrite, schema=out_schema)


def write_json_lake(members: DataFrame, json_root: str, mode: str = "append") -> str:
    """Partitioned NDJSON text sink: one line per member body, laid out
    ``dataset=…/assessmentid=…/year=…/month=…/day=…`` (reference
    s3_to_json_s3.py:628-639). Text write keeps bodies byte-faithful —
    undeclared fields survive to stage 2 exactly as the reference's
    raw-JSON puts do."""
    (
        members.select(
            F.col("dataset_identifier").alias("dataset"),
            "assessmentid",
            "year",
            "month",
            "day",
            "body",
        )
        .repartition("dataset", "assessmentid", "year", "month", "day")
        .write.mode(mode)
        .partitionBy("dataset", "assessmentid", "year", "month", "day")
        .text(json_root)
    )
    return json_root


def run_ingest(
    spark: SparkSession,
    archive_path: str,
    manifest: DataFrame,
    archive_map: dict,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None,
    json_root: str,
    quarantine_root: str | None = None,
    app_id: str = "mobile-toolbox",
    mode: str = "append",
    collect_counts: bool = True,
) -> dict[str, int]:
    """The full stage-1 job. Returns counts of valid/quarantined members
    (read back from the sinks; pass ``collect_counts=False`` to skip the
    two verification scans when the caller doesn't need them).

    ``manifest`` must carry ``path`` plus :data:`MANIFEST_FIELDS`.
    """
    archives = read_archives(spark, archive_path, manifest)
    return ingest_archives(
        spark,
        archives,
        archive_map=archive_map,
        schema_store=schema_store,
        schema_mapping=schema_mapping,
        dataset_mapping=dataset_mapping,
        json_root=json_root,
        quarantine_root=quarantine_root,
        app_id=app_id,
        mode=mode,
        collect_counts=collect_counts,
    )


def ingest_archives(
    spark: SparkSession,
    archives: DataFrame,
    archive_map: dict,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None,
    json_root: str,
    quarantine_root: str | None = None,
    app_id: str = "mobile-toolbox",
    mode: str = "append",
    collect_counts: bool = True,
) -> dict[str, int]:
    """Stage-1 body over an already-materialized (path, content, manifest…)
    archive frame — shared verbatim by the batch job (:func:`run_ingest`)
    and the streaming job (streaming/ingest_stream.py), so both lifecycles
    run ONE code path."""
    from pyspark.storagelevel import StorageLevel

    members = explode_members(archives)
    # schema resolution happens inside the validation UDF (per-executor
    # memo over the config-cardinality combos) — a single pass over the
    # archives, with no extra unzip pass to enumerate combos
    members = validate_members(
        members, schema_store, archive_map=archive_map, app_id=app_id
    )
    members = suppress_expected_errors(members)
    # The plan forks here (quarantine sink + lake sink); persist so the
    # unzip/validate chain runs once, spilling to disk rather than
    # recomputing — at scale this is member-stream-sized, bounded by the
    # input archives themselves.
    members = members.persist(StorageLevel.MEMORY_AND_DISK)
    valid, quarantine = split_valid_records(members)

    n_quarantined = -1
    if quarantine_root is not None:
        quarantine.drop("body").write.mode(mode).parquet(quarantine_root)
        if collect_counts:
            n_quarantined = spark.read.parquet(quarantine_root).count()

    routed = route_datasets(valid, schema_store, schema_mapping, dataset_mapping)
    final = inject_metadata(routed)
    write_json_lake(final, json_root, mode=mode)
    members.unpersist()
    n_valid = -1
    if collect_counts:
        n_valid = (
            spark.read.format("text")
            .option("recursiveFileLookup", "true")
            .load(json_root)
            .count()
        )
    return {"valid_members": n_valid, "quarantined_members": n_quarantined}


def prune_quarantine(
    spark: SparkSession, quarantine_root: str, keep_after: str
) -> dict[str, int]:
    """Retention for the quarantine table: drop rows whose ``uploadedon``
    is strictly before ``keep_after`` (ISO timestamp string — the same
    lexicographically-ordered format the manifest carries). Rows with a
    NULL ``uploadedon`` are KEPT: an undatable quarantine row has no age
    to expire on, and silently dropping it on the first retention pass
    would lose the only copy of an unreplayed record (ADVICE r3). Returns
    ``{"kept": n, "dropped": n}``.

    The reference's dead-letter queue ages out by SQS retention
    automatically; a parquet quarantine needs an explicit pass. The table
    is unpartitioned (quarantines are small by contract — they hold
    validation failures, not data), so retention is a filtered rewrite
    with the same read-own-path lineage cut the compactor uses. A record
    already replayed successfully still ages out here; replay is
    idempotent against the lake (dedup-latest), so re-retention and
    replay never conflict.
    """
    from bridgedownstream_spark.pipeline.fsutil import has_data_files

    if not has_data_files(spark, quarantine_root):
        return {"kept": 0, "dropped": 0}
    q = spark.read.parquet(quarantine_root)
    kept = q.where(
        F.col("uploadedon").isNull()
        | (F.col("uploadedon") >= F.lit(keep_after))
    )
    n_total = q.count()
    kept = kept.localCheckpoint(eager=True)  # cut lineage before overwrite
    n_kept = kept.count()
    kept.write.mode("overwrite").parquet(quarantine_root)
    return {"kept": n_kept, "dropped": n_total - n_kept}
