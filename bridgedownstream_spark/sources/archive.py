"""Zip-archive source: distributed ingest of zipped JSON archives.

The reference fetches each archive with boto3, opens it with ``zipfile`` and
loops members in driver-side Python (s3_to_json_s3.py:651-730, fetch at
:786-799), scaling by running up to 150 concurrent single-node Glue jobs
(config/prod/glue-job-S3ToJsonS3.yaml:13). Spark-first, the same work is ONE
job: a ``binaryFile`` scan partitions archives across executors, and stage
1's single Python pass (``pipeline.ingest.check_archives``) unzips each
archive row with :func:`explode_members` — parallelism scales with the
cluster, not with a workflow-concurrency knob.

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
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_archives", "load_archive_files", "explode_members"]

#: marker member emitted for an archive whose zip cannot be opened — it
#: fails validation by construction, routing the record to quarantine
CORRUPT_ARCHIVE_MEMBER = "__corrupt_archive__"


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
    row); archive bodies stay opaque until stage 1's pass unzips them.
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


def explode_members() -> Callable[[bytes], list[tuple]]:
    """Return the per-archive unzip: archive bytes → one ``(member_path,
    file_name, body, self_ref_schema_url)`` tuple per ``.json`` member.

    ``self_ref_schema_url`` is the per-file JSON-Schema override declared in
    the archive's own ``metadata.json`` (reference
    get_self_ref_schema_list, s3_to_json_s3.py:29-48) — it takes precedence
    over archive-map resolution. The ``microphone.json`` →
    ``microphone_levels.json`` rename (reference :152-154) happens here so
    every later step sees the canonical name. A zip that cannot be opened
    yields the single :data:`CORRUPT_ARCHIVE_MEMBER` member, its body the
    zip error.
    """

    def unzip(content: bytes) -> list[tuple]:
        try:
            zf = zipfile.ZipFile(io.BytesIO(content))
        except zipfile.BadZipFile as e:
            # NEVER drop silently: the marker member fails validation, so
            # the record lands in the quarantine table where
            # reconciliation and replay can see it
            return [("", CORRUPT_ARCHIVE_MEMBER, str(e), None)]
        members = []
        with zf:
            self_ref = _self_ref_schemas(zf)
            for member_path in zf.namelist():
                if not member_path.endswith(".json"):
                    continue
                orig_name = os.path.basename(member_path)
                file_name = orig_name
                if file_name == "microphone.json":
                    file_name = "microphone_levels.json"
                with zf.open(member_path) as fh:
                    body = fh.read().decode("utf-8", errors="replace")
                # self-ref schemas are declared under the archive's OWN
                # (pre-rename) filenames — look up the canonical name
                # first, then the original, so the rename cannot drop an
                # always-wins override
                url = self_ref.get(file_name, self_ref.get(orig_name))
                members.append((member_path, file_name, body, url))
        return members

    return unzip


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
