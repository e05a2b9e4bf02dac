"""Record validation: JSON-Schema checks, expected-error suppression, and
the valid/quarantine split.

Reference semantics (s3_to_json_s3.py:302-490,803-832):

- each member JSON is validated against its resolved schema; a record is
  invalid iff ANY member has errors (:302-415);
- a whitelist of known-benign Android errors is subtracted per file before
  judging validity (:418-490);
- invalid records go to an error queue with errors truncated to 10 per
  file (:813-823); valid records proceed to the dataset writer.

Spark-first: validation is Python-bound (jsonschema has no JVM
equivalent), so :func:`validate_members` builds a per-member checker that
stage 1's single Python pass (``pipeline.ingest.check_archives``) calls
on every member of an archive; the pass then judges the archive from its
own members. The checker subtracts the expected errors in Python
(:func:`remove_expected_errors`); :func:`suppress_expected_errors` is the
same rule as a native ``array_except`` projection over a DataFrame. The
fork into lake and quarantine and the error truncation (``slice``) are
native column work (:func:`split_valid_records`).
"""

from __future__ import annotations

import copy
import json
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bridgedownstream_spark.sources.archive import (
    CORRUPT_ARCHIVE_MEMBER as _CORRUPT_ARCHIVE_MEMBER,
)
from bridgedownstream_spark.validation.resolve import resolve_schema_url

__all__ = [
    "validate_members",
    "remove_expected_errors",
    "suppress_expected_errors",
    "split_valid_records",
    "ANDROID_EXPECTED_ERRORS",
]

#: file_name → benign validation errors to suppress for Android clients
#: (reference remove_expected_validation_errors, s3_to_json_s3.py:418-490;
#: context ETL-312/ETL-358).
ANDROID_EXPECTED_ERRORS: dict[str, list[str]] = {
    "metadata.json": [
        "'appName' is a required property",
        "'files' is a required property",
    ],
    "taskData.json": [
        "Additional properties are not allowed ('type' was unexpected)",
    ],
    "weather.json": [
        "'type' is a required property",
    ],
    "motion.json": [
        (
            "'acceleration' is not one of ['accelerometer', 'gyro', "
            "'magnetometer', 'attitude', 'gravity', 'magneticField', "
            "'rotationRate', 'userAcceleration']"
        ),
        "'stepPath' is a required property",
        "None is not of type 'integer'",
    ],
}


def validate_members(
    schema_store: dict[str, dict],
    archive_map: dict,
    app_id: str = "mobile-toolbox",
) -> Callable[[str, str, str | None, dict], tuple[str | None, list[str]]]:
    """Return the per-member checker ``check(file_name, body,
    self_ref_schema_url, meta) -> (schema_url, errors)``: the governing
    schema's URL and the JSON-Schema validation errors of ``body`` against
    it, less the expected errors of :func:`remove_expected_errors`.

    The URL is ``self_ref_schema_url`` when set, else the ``archive_map``
    resolution of the member's (``meta["assessmentid"]``,
    ``meta["assessmentrevision"]``, ``file_name``) combo
    (:func:`~bridgedownstream_spark.validation.resolve.resolve_schema_url`),
    memoized per combo; compiled validators are memoized per URL. Both
    memos start empty wherever the checker is unpickled, so each Spark task
    resolves and compiles what it meets once.

    ``schema_store`` maps schema URLs to schema documents (the engine's
    stand-in for the reference's HTTP fetch + cache, s3_to_json_s3.py:
    286-299 — schemas are config data and belong in the job's inputs, not
    in per-row network calls). Members with no resolved schema validate
    vacuously (reference skips them with a warning, :374-380). The
    :data:`~bridgedownstream_spark.sources.archive.CORRUPT_ARCHIVE_MEMBER`
    marker always fails, so its record quarantines instead of vanishing.
    """
    store = dict(schema_store)
    validators: dict[str, object] = {}
    resolved: dict[tuple, str | None] = {}

    def validator_for(url: str):
        if url not in validators:
            schema = store.get(url)
            if schema is None:
                validators[url] = None
            else:
                import jsonschema

                cls = jsonschema.validators.validator_for(schema)
                # workaround for python-jsonschema#1012 (reference
                # validate_against_schema, s3_to_json_s3.py:402-409)
                if str(schema.get("$id", "")).startswith("schemas/v0/"):
                    schema = copy.deepcopy(schema)
                    schema["$id"] = ""
                validators[url] = cls(schema=schema)
        return validators[url]

    def check(file_name, body, self_ref_schema_url, meta):
        url = self_ref_schema_url
        if url is None:
            key = (meta["assessmentid"], meta["assessmentrevision"], file_name)
            if key not in resolved:
                resolved[key] = resolve_schema_url(
                    archive_map, app_id, key[0], int(key[1]), file_name
                )
            url = resolved[key]
        if file_name == _CORRUPT_ARCHIVE_MEMBER:
            errors = [f"corrupt archive: {body}"]
        elif url is None or (v := validator_for(url)) is None:
            errors = []
        else:
            try:
                errors = [e.message for e in v.iter_errors(json.loads(body))]
            except json.JSONDecodeError as e:
                errors = [f"invalid JSON: {e.msg}"]
        return url, remove_expected_errors(errors, file_name, meta["clientinfo"])

    return check


def remove_expected_errors(
    errors: list[str], file_name: str, clientinfo: str | None
) -> list[str]:
    """``errors`` less :data:`ANDROID_EXPECTED_ERRORS` for ``file_name`` when
    ``clientinfo`` names an Android client — the per-member Python twin of
    :func:`suppress_expected_errors`, with ``array_except``'s semantics: a
    NULL ``clientinfo`` or an unlisted file keeps ``errors`` as they are,
    otherwise the survivors are deduplicated in first-seen order."""
    allowed = ANDROID_EXPECTED_ERRORS.get(file_name)
    if allowed is None or clientinfo is None or "Android" not in clientinfo:
        return errors
    return list(dict.fromkeys(e for e in errors if e not in allowed))


def suppress_expected_errors(
    members: DataFrame,
    expected: dict[str, list[str]] | None = None,
    condition: Column | None = None,
) -> DataFrame:
    """Subtract whitelisted errors per file name when ``condition`` holds
    (default: Android client, per the reference's whitelist scope,
    s3_to_json_s3.py:440-446). Pure ``array_except`` — no UDF."""
    if expected is None:
        expected = ANDROID_EXPECTED_ERRORS
    if condition is None:
        condition = F.col("clientinfo").contains("Android")
    expr = F.col("errors")
    for fname, allowed in expected.items():
        # each row matches at most one file_name branch, so a single
        # chained when() projection suffices — one codegen'd select
        expr = F.when(
            condition & (F.col("file_name") == fname),
            F.array_except("errors", F.array(*[F.lit(e) for e in allowed])),
        ).otherwise(expr)
    return members.withColumn("errors", expr)


def split_valid_records(
    members: DataFrame, max_errors_per_file: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Fork stage 1's pass output into (valid, quarantine): the pass emits
    only the routed members of valid archives (no errors) and only the
    offending members of invalid ones, so a member's own errors say where
    it goes.

    The quarantine side has its errors truncated to ``max_errors_per_file``
    (reference :814-818 — operator O2 as a native ``slice``).
    """
    has_errors = F.size("errors") > 0
    quarantine = members.where(has_errors).withColumn(
        "errors", F.slice("errors", 1, max_errors_per_file)
    )
    return members.where(~has_errors), quarantine
