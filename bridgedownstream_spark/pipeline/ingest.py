"""Stage 1: zip archives → validated, routed, partitioned NDJSON lake.

Spark-first re-expression of the reference's single-node ingest job
(src/glue/jobs/s3_to_json_s3.py:651-730,733-832):

    boto3 get_object loop        → binaryFile scan + manifest broadcast join
    per-archive loop             → ONE Arrow-batched mapInPandas over archive
                                   rows (:func:`check_archives`), built from
                                   pieces made on the driver:
      zipfile member loop          → the unzip (``explode_members``)
      get_json_schema (3 scopes)   → memoized lookup in the member checker
      jsonschema.iter_errors       → the member checker (``validate_members``)
      remove_expected_validation_errors → ``remove_expected_errors`` in it
      get_dataset_identifier       → the routing dict (``route_datasets``)
      metadata injection           → the body rewrite (``inject_metadata``)
    invalid → SQS queue          → quarantine parquet table (replayable scan)
    write_file_to_json_dataset   → partitioned text sink (byte-faithful NDJSON)

Like the reference, one archive is one record: the pass judges each archive
from its own members, so the plan has no shuffle before the lake sink's own
partitioning. One Spark job replaces 150 concurrent Glue runs
(config/prod/glue-job-S3ToJsonS3.yaml:13): parallelism comes from archive
partitioning.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from datetime import datetime

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from bridgedownstream_spark.sources.archive import explode_members, read_archives
from bridgedownstream_spark.validation import split_valid_records, validate_members

__all__ = [
    "route_datasets",
    "inject_metadata",
    "check_archives",
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

#: the pass's last columns: set on lake rows, NULL on quarantine rows
_LAKE_COLUMNS = ("dataset_identifier", "year", "month", "day")


def route_datasets(
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None = None,
) -> dict:
    """The routing dict: schema URL → dataset, and
    ``(assessmentid, assessmentrevision, file_name)`` → dataset.

    Routing precedence (reference get_dataset_identifier,
    s3_to_json_s3.py:493-556): the resolved schema's ``$id`` looked up in
    ``schema_mapping`` wins; otherwise the legacy ``dataset_mapping`` keyed
    by (assessmentid, assessmentrevision, file_name). Both are config-size,
    so the dict is built once on the driver and travels with the pass.
    """
    routes: dict = {
        url: schema_mapping[sid]
        for url, schema in schema_store.items()
        if (sid := str(schema.get("$id", ""))) in schema_mapping
    }
    for aid, spec in (dataset_mapping or {}).get("assessmentIdentifier", {}).items():
        for rev, files in spec.get("assessmentRevision", {}).items():
            for fname, ds in files.items():
                routes[(aid, str(rev), fname)] = ds
    return routes


def inject_metadata() -> Callable[[str, str, dict], tuple[str, str, str, str]]:
    """Return the body rewrite of one routed member, ``rewrite(body,
    dataset_identifier, meta) -> (body, year, month, day)`` (reference
    write_file_to_json_dataset, s3_to_json_s3.py:592-619):

    - partition fields: year/month/day ints parsed from ``meta["uploadedon"]``
      (format ``%Y-%m-%dT%H:%M:%S.%fZ``), plus assessmentid + recordid;
    - ArchiveMetadata datasets get every :data:`MANIFEST_FIELDS` field injected;
    - list-bodies get the fields injected into every element (operator N6);
    - the returned partition values keep the reference's unpadded string
      forms (``month=9``, :628-639) while the injected data fields stay
      ints — the int-in-data/string-in-partition duality, preserved exactly;
    - an unparseable multiline body becomes one ``__unparseable_body__``
      JSON line, because the lake sink is line-oriented.
    """

    def rewrite(body, dataset_identifier, meta):
        uploaded = datetime.strptime(meta["uploadedon"], "%Y-%m-%dT%H:%M:%S.%fZ")
        parts = {"year": uploaded.year, "month": uploaded.month, "day": uploaded.day}
        try:
            j = json.loads(body)
        except json.JSONDecodeError:
            j = None
        if j is None:
            if "\n" in body or "\r" in body:
                # one garbage record per physical line otherwise; wrapped,
                # the body stays byte-recoverable and clearly marked
                body = json.dumps({"__unparseable_body__": body})
        elif dataset_identifier.split("_")[0] == "ArchiveMetadata":
            j.update(parts)
            for c in MANIFEST_FIELDS:
                j[c] = meta[c]
            body = json.dumps(j)
        elif isinstance(j, list):
            for item in j:
                if isinstance(item, dict):
                    item["assessmentid"] = meta["assessmentid"]
                    item.update(parts)
                    item["recordid"] = meta["recordid"]
            body = json.dumps(j)
        else:
            j["assessmentid"] = meta["assessmentid"]
            j.update(parts)
            j["recordid"] = meta["recordid"]
            body = json.dumps(j)
        return body, str(uploaded.year), str(uploaded.month), str(uploaded.day)

    return rewrite


def check_archives(
    archives: DataFrame,
    archive_map: dict,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None = None,
    app_id: str = "mobile-toolbox",
) -> DataFrame:
    """Stage 1's one Python pass over (path, content, manifest…) archive
    rows. Each archive is unzipped, each member checked (schema resolution,
    validation, Android expected-error removal), and the archive judged from
    its own members (reference s3_to_json_s3.py:803-832): invalid iff any
    member still has errors.

    - An invalid archive yields only its offending members, body as read.
    - A valid archive yields its routable members, each body rewritten with
      the partition values (unroutable members are skipped, reference
      :518-555).

    Columns: path, member_path, file_name, body, self_ref_schema_url, the
    archive's manifest columns, schema_url, errors, dataset_identifier,
    year, month, day. The pieces are built here on the driver and the pass
    closes over them, never over this module's names: a caller may replace
    those names (the benchmark's tracer wraps them in objects holding the
    SparkContext), and the pass must still pickle to the Python workers.
    """
    meta_cols = [c for c in archives.columns if c not in ("path", "content")]
    unzip = explode_members()
    check = validate_members(schema_store, archive_map, app_id)
    routes = route_datasets(schema_store, schema_mapping, dataset_mapping)
    rewrite = inject_metadata()
    string = T.StringType()
    schema = T.StructType(
        [
            T.StructField(c, string)
            for c in ("path", "member_path", "file_name", "body", "self_ref_schema_url")
        ]
        + [archives.schema[c] for c in meta_cols]
        + [T.StructField("schema_url", string), T.StructField("errors", T.ArrayType(string))]
        + [T.StructField(c, string) for c in _LAKE_COLUMNS]
    )
    columns = schema.fieldNames()

    def fan_out(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            names = list(pdf.columns)
            for values in pdf.itertuples(index=False, name=None):
                rec = dict(zip(names, values))
                meta = {c: rec[c] for c in meta_cols}
                checked = []
                for member_path, file_name, body, self_ref in unzip(rec["content"]):
                    url, errors = check(file_name, body, self_ref, meta)
                    checked.append((member_path, file_name, body, self_ref, url, errors))
                invalid = any(errors for *_, errors in checked)
                for member_path, file_name, body, self_ref, url, errors in checked:
                    lake = (None, None, None, None)
                    if invalid:
                        if not errors:
                            continue
                    else:
                        ds = routes.get(url)
                        if ds is None:
                            key = (meta["assessmentid"], meta["assessmentrevision"], file_name)
                            ds = routes.get(key)
                        if ds is None:
                            continue
                        body, *partition = rewrite(body, ds, meta)
                        lake = (ds, *partition)
                    rows.append(
                        (rec["path"], member_path, file_name, body, self_ref,
                         *meta.values(), url, errors, *lake)
                    )
            yield pd.DataFrame(rows, columns=columns)

    return archives.mapInPandas(fan_out, schema=schema)


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
) -> dict[str, int]:
    """The full stage-1 job; returns :func:`ingest_archives`' counts.

    ``manifest`` must carry ``path`` plus :data:`MANIFEST_FIELDS`.
    """
    return ingest_archives(
        read_archives(spark, archive_path, manifest),
        archive_map=archive_map,
        schema_store=schema_store,
        schema_mapping=schema_mapping,
        dataset_mapping=dataset_mapping,
        json_root=json_root,
        quarantine_root=quarantine_root,
        app_id=app_id,
        mode=mode,
    )


def ingest_archives(
    archives: DataFrame,
    archive_map: dict,
    schema_store: dict[str, dict],
    schema_mapping: dict[str, str],
    dataset_mapping: dict | None,
    json_root: str,
    quarantine_root: str | None = None,
    app_id: str = "mobile-toolbox",
    mode: str = "append",
) -> dict[str, int]:
    """Stage-1 body over an already-materialized (path, content, manifest…)
    archive frame — shared verbatim by the batch job (:func:`run_ingest`)
    and the streaming job (streaming/ingest_stream.py), so both lifecycles
    run ONE code path.

    Returns the members this call wrote: ``{"valid_members": lake lines,
    "quarantined_members": quarantine rows}`` (-1 without a
    ``quarantine_root``), each observed on its own write.
    """
    members = check_archives(
        archives, archive_map, schema_store, schema_mapping, dataset_mapping, app_id
    )
    # both sinks read the pass output; persist so the pass runs once,
    # spilling to disk rather than recomputing
    members = members.persist(StorageLevel.MEMORY_AND_DISK)
    valid, quarantine = split_valid_records(members)
    n_quarantined = -1
    if quarantine_root is not None:
        n_quarantined = _rows_written(
            quarantine.drop("body", *_LAKE_COLUMNS),
            lambda df: df.write.mode(mode).parquet(quarantine_root),
        )
    n_valid = _rows_written(valid, lambda df: write_json_lake(df, json_root, mode=mode))
    members.unpersist()
    return {"valid_members": n_valid, "quarantined_members": n_quarantined}


def _rows_written(df: DataFrame, write: Callable[[DataFrame], object]) -> int:
    """Run ``write(df)`` and return the rows it wrote, counted by an
    :class:`~pyspark.sql.Observation` on the write itself."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    try:
        return obs.get["rows"]
    except Py4JJavaError:
        # AQE prunes the observing node out of a partitioned write whose
        # input turns out empty, which leaves the observation without a
        # row: nothing was written
        return 0


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
