"""Zip-archive source: distributed ingest of zipped JSON archives.

The reference fetches each archive with boto3, opens it with ``zipfile`` and
loops members in driver-side Python (s3_to_json_s3.py:651-730, fetch at
:786-799), scaling by running up to 150 concurrent single-node Glue jobs
(config/prod/glue-job-S3ToJsonS3.yaml:13). Spark-first, the same work is ONE
job: a ``binaryFile`` scan partitions archives across executors and an
Arrow-batched ``mapInPandas`` fans each archive out into its member files —
parallelism scales with the cluster, not with a workflow-concurrency knob.

Record metadata (recordid, assessmentid, assessmentrevision, uploadedon,
clientinfo, …) arrives as a **manifest** DataFrame keyed by file path — the
engine's stand-in for S3 object metadata + workflow run properties
(reference s3_to_json_s3.py:758-782; field list
tests/test_s3_to_json_s3.py:173-197).
"""

from __future__ import annotations

import io
import json
import os
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["read_archives", "load_archive_files", "explode_members", "MEMBER_SCHEMA"]

#: Output schema of :func:`explode_members` (before the manifest columns,
#: which are carried through).
#: marker member emitted for an archive whose zip cannot be opened — it
#: fails validation by construction, routing the record to quarantine
CORRUPT_ARCHIVE_MEMBER = "__corrupt_archive__"

MEMBER_FIELDS = [
    T.StructField("path", T.StringType()),
    T.StructField("member_path", T.StringType()),
    T.StructField("file_name", T.StringType()),
    T.StructField("body", T.StringType()),
    T.StructField("self_ref_schema_url", T.StringType()),
]
MEMBER_SCHEMA = T.StructType(MEMBER_FIELDS)


_GLOB_CHARS = frozenset("*?[]{}\\")


def _has_glob(s: str) -> bool:
    return any(c in _GLOB_CHARS for c in s)


def load_archive_files(reader, path: str) -> DataFrame:
    """Load ``path`` through a ``binaryFile`` batch or stream reader.

    A glob in the last component only (``inbox/*.zip``) loads the parent
    directory with ``pathGlobFilter``: Spark lists that one directory on the
    driver. Loading the glob itself expands it into one root path per
    archive, and above ``spark.sql.sources.parallelPartitionDiscovery
    .threshold`` paths Spark lists those with a job of one task per archive.
    Both forms select the same files — the filter also skips subdirectories
    whose names do not match. Every other path shape, a glob directly under
    a filesystem root included, is loaded unchanged.
    """
    parent, _, pattern = path.rpartition("/")
    listable = parent and not parent.endswith(("/", ":"))
    if listable and _has_glob(pattern) and not _has_glob(parent):
        return reader.option("pathGlobFilter", pattern).load(parent)
    return reader.load(path)


def read_archives(
    spark: SparkSession, path: str, manifest: DataFrame | None = None
) -> DataFrame:
    """Scan zip archives as binary rows; inner-join the manifest (by
    ``path``) so each archive carries its record metadata.

    The binaryFile source splits the archives across tasks (one archive per
    row); archive bodies stay opaque until :func:`explode_members`.
    """
    df = load_archive_files(spark.read.format("binaryFile"), path).select(
        F.col("path"), F.col("content")
    )
    # binaryFile paths are URIs (file:/…); normalize to plain paths so the
    # manifest can use ordinary filesystem paths.
    df = df.withColumn("path", F.regexp_replace("path", "^file:/*", "/"))
    if manifest is not None:
        df = df.join(F.broadcast(manifest), "path", "inner")
    return df


def explode_members(archives: DataFrame, suffix: str = ".json") -> DataFrame:
    """Fan each archive row out into one row per member file.

    Arrow-batched ``mapInPandas``: each batch unzips in memory and yields
    (path, member_path, file_name, body, self_ref_schema_url) plus every
    manifest column of the parent archive. ``self_ref_schema_url`` is the
    per-file JSON-Schema override declared in the archive's own
    ``metadata.json`` (reference get_self_ref_schema_list,
    s3_to_json_s3.py:29-48) — it takes precedence over archive-map
    resolution. The ``microphone.json`` → ``microphone_levels.json`` rename
    (reference :152-154) happens here so every downstream operator sees the
    canonical name.
    """
    meta_cols = [c for c in archives.columns if c not in ("path", "content")]
    out_schema = T.StructType(
        MEMBER_FIELDS + [archives.schema[c] for c in meta_cols]
    )

    def fan_out(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                meta = {c: getattr(rec, c) for c in meta_cols}
                try:
                    zf = zipfile.ZipFile(io.BytesIO(rec.content))
                except zipfile.BadZipFile as e:
                    # NEVER drop silently: a corrupt upload must surface.
                    # The marker member fails validation downstream, so
                    # the whole record lands in the quarantine table where
                    # reconciliation and replay can see it.
                    rows.append(
                        {
                            "path": rec.path,
                            "member_path": "",
                            "file_name": CORRUPT_ARCHIVE_MEMBER,
                            "body": str(e),
                            "self_ref_schema_url": None,
                            **meta,
                        }
                    )
                    continue
                with zf:
                    self_ref = _self_ref_schemas(zf)
                    for member_path in zf.namelist():
                        if not member_path.endswith(suffix):
                            continue
                        orig_name = os.path.basename(member_path)
                        file_name = orig_name
                        if file_name == "microphone.json":
                            file_name = "microphone_levels.json"
                        with zf.open(member_path) as fh:
                            body = fh.read().decode("utf-8", errors="replace")
                        rows.append(
                            {
                                "path": rec.path,
                                "member_path": member_path,
                                "file_name": file_name,
                                "body": body,
                                # self-ref schemas are declared under the
                                # archive's OWN (pre-rename) filenames —
                                # look up the canonical name first, then
                                # the original, so the rename cannot drop
                                # an always-wins override
                                "self_ref_schema_url": self_ref.get(
                                    file_name, self_ref.get(orig_name)
                                ),
                                **meta,
                            }
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return archives.mapInPandas(fan_out, schema=out_schema)


def _self_ref_schemas(zf: zipfile.ZipFile) -> dict[str, str]:
    """filename → jsonSchema URL for files whose schema is declared inside
    the archive's own metadata.json (reference s3_to_json_s3.py:29-48)."""
    if "metadata.json" not in zf.namelist():
        return {}
    try:
        with zf.open("metadata.json") as fh:
            metadata = json.load(fh)
    except (json.JSONDecodeError, KeyError):
        return {}
    out: dict[str, str] = {}
    for file_info in metadata.get("files", []):
        if "jsonSchema" in file_info and "filename" in file_info:
            out[file_info["filename"]] = file_info["jsonSchema"]
    return out
