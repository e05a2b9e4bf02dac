"""Record validation: JSON-Schema checks, expected-error suppression, and
the valid/quarantine split.

Reference semantics (s3_to_json_s3.py:302-490,803-832):

- each member JSON is validated against its resolved schema; a record is
  invalid iff ANY member has errors (:302-415);
- a whitelist of known-benign Android errors is subtracted per file before
  judging validity (:418-490);
- invalid records go to an error queue with errors truncated to 10 per
  file (:813-823); valid records proceed to the dataset writer.

Spark-first: validation is the one genuinely Python-bound step (jsonschema
has no JVM equivalent), so it runs as an Arrow-batched ``mapInPandas`` with
a compiled-validator cache per executor. Everything around it — suppression
(``array_except``), the validity split (window ``max`` over the record),
error truncation (``slice``) — is native column work.
"""

from __future__ import annotations

import copy
import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bridgedownstream_spark.sources.archive import (
    CORRUPT_ARCHIVE_MEMBER as _CORRUPT_ARCHIVE_MEMBER,
)

__all__ = [
    "validate_members",
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
    members: DataFrame,
    schema_store: dict[str, dict],
    archive_map: dict,
    app_id: str = "mobile-toolbox",
) -> DataFrame:
    """Add a ``schema_url: string`` column, then an ``errors:
    array<string>`` column — the governing schema's URL and the JSON-Schema
    validation errors of ``body`` against it.

    The URL is the member's ``self_ref_schema_url`` when set, else the
    ``archive_map`` resolution of its (assessment, revision, filename)
    combo (:func:`~bridgedownstream_spark.validation.resolve.resolve_schema_url`).
    Resolution happens *inside* the UDF with a per-executor memo on the
    distinct combos, so validation stays a single pass with no extra scan
    to enumerate them.

    ``schema_store`` maps schema URLs to schema documents (the engine's
    stand-in for the reference's HTTP fetch + cache, s3_to_json_s3.py:
    286-299 — schemas are config data and belong in the job's inputs, not
    in per-row network calls). Members with no resolved schema validate
    vacuously (reference skips them with a warning, :374-380).
    """
    out_schema = T.StructType(
        list(members.schema.fields)
        + [
            T.StructField("schema_url", T.StringType()),
            T.StructField("errors", T.ArrayType(T.StringType())),
        ]
    )
    store = {k: v for k, v in schema_store.items()}  # plain dict → task closure

    def do_validate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import jsonschema

        from bridgedownstream_spark.validation.resolve import resolve_schema_url

        validators: dict[str, object] = {}
        resolved: dict[tuple, str | None] = {}

        def validator_for(url: str):
            if url not in validators:
                schema = store.get(url)
                if schema is None:
                    validators[url] = None
                else:
                    cls = jsonschema.validators.validator_for(schema)
                    # workaround for python-jsonschema#1012 (reference
                    # validate_against_schema, s3_to_json_s3.py:402-409)
                    if str(schema.get("$id", "")).startswith("schemas/v0/"):
                        schema = copy.deepcopy(schema)
                        schema["$id"] = ""
                    validators[url] = cls(schema=schema)
            return validators[url]

        def url_of(rec) -> str | None:
            if rec.self_ref_schema_url is not None and not pd.isna(
                rec.self_ref_schema_url
            ):
                return rec.self_ref_schema_url
            key = (rec.assessmentid, rec.assessmentrevision, rec.file_name)
            if key not in resolved:
                resolved[key] = resolve_schema_url(
                    archive_map, app_id, key[0], int(key[1]), key[2]
                )
            return resolved[key]

        for pdf in batches:
            urls = [url_of(rec) for rec in pdf.itertuples(index=False)]
            errs = []
            for file_name, body, url in zip(pdf["file_name"], pdf["body"], urls):
                if file_name == _CORRUPT_ARCHIVE_MEMBER:
                    # marker from explode_members: the archive's zip could
                    # not be opened — always invalid, so the record
                    # quarantines instead of vanishing
                    errs.append([f"corrupt archive: {body}"])
                    continue
                if url is None or pd.isna(url):
                    errs.append([])
                    continue
                v = validator_for(url)
                if v is None:
                    errs.append([])
                    continue
                try:
                    data = json.loads(body)
                except json.JSONDecodeError as e:
                    errs.append([f"invalid JSON: {e.msg}"])
                    continue
                errs.append([e.message for e in v.iter_errors(data)])
            pdf = pdf.copy()
            pdf["schema_url"] = urls
            pdf["errors"] = errs
            yield pdf

    return members.mapInPandas(do_validate, schema=out_schema)


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
    members: DataFrame, record_col: str = "recordid", max_errors_per_file: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Split the member stream into (valid, quarantine) by record-level
    validity: a record is invalid iff any of its members has errors
    (reference s3_to_json_s3.py:803-832).

    The quarantine side keeps only offending members, errors truncated to
    ``max_errors_per_file`` (reference :814-818 — operator O2 as a native
    ``slice``). One window shuffle on the record key; both sides reuse it.
    """
    w = Window.partitionBy(record_col)
    flagged = members.withColumn(
        "__record_invalid__", F.max(F.size("errors") > 0).over(w)
    )
    valid = flagged.where(~F.col("__record_invalid__")).drop("__record_invalid__")
    quarantine = (
        flagged.where(F.col("__record_invalid__"))
        .drop("__record_invalid__")
        .where(F.size("errors") > 0)
        .withColumn("errors", F.slice("errors", 1, max_errors_per_file))
    )
    return valid, quarantine
