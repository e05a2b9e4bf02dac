"""Validation: JSON-Schema resolution, member checks, expected-error
suppression, and the valid/quarantine fork.

- :mod:`.resolve` — archive-map schema resolution (3 scopes; the self-ref
  override arrives with the member).
- :mod:`.validate` — the per-member checker stage 1's pass calls, the
  Android expected-error whitelist (in Python and as a DataFrame
  projection), and the fork of the pass output into lake and quarantine.
"""

from bridgedownstream_spark.validation.resolve import resolve_schema_url
from bridgedownstream_spark.validation.validate import (
    ANDROID_EXPECTED_ERRORS,
    remove_expected_errors,
    split_valid_records,
    suppress_expected_errors,
    validate_members,
)

__all__ = [
    "resolve_schema_url",
    "validate_members",
    "remove_expected_errors",
    "suppress_expected_errors",
    "split_valid_records",
    "ANDROID_EXPECTED_ERRORS",
]
