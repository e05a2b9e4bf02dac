"""Validation: JSON-Schema resolution, record validation, expected-error
suppression, and validity routing (quarantine split).

- :mod:`.resolve` — archive-map schema resolution (3 scopes + self-ref).
- :mod:`.validate` — JSON-Schema validation UDF, expected-error
  suppression, record-level validity split.
"""

from bridgedownstream_spark.validation.resolve import resolve_schema_url
from bridgedownstream_spark.validation.validate import (
    ANDROID_EXPECTED_ERRORS,
    split_valid_records,
    suppress_expected_errors,
    validate_members,
)

__all__ = [
    "resolve_schema_url",
    "validate_members",
    "suppress_expected_errors",
    "split_valid_records",
    "ANDROID_EXPECTED_ERRORS",
]
