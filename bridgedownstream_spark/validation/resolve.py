"""JSON-Schema resolution: which schema governs a given archive member.

The reference resolves per record, driver-side, walking archive-map.json in
three scopes with a per-record self-reference override
(s3_to_json_s3.py:179-282):

1. **self-ref**: the archive's own metadata.json names a jsonSchema for the
   file (:222-228) — always wins;
2. **assessment scope**: among assessments with the member's
   assessmentIdentifier and assessmentRevision ≤ the record's revision,
   the one with the *smallest revision distance* wins (:230-248) — an
   as-of/closest-match lookup (operator P3);
3. **app scope**: the app's ``default`` org files, then ``anyOf`` (:258-268);
4. **inter-app scope**: the top-level ``anyOf`` (:274-281).

Spark-first: resolution inputs have *config cardinality* — distinct
(assessment, revision, filename) combos, bounded by the archive map itself,
not by row count — so the validation UDF
(:func:`~bridgedownstream_spark.validation.validate.validate_members`)
resolves each distinct combo once per executor and memoizes it. 100 TB of
archives with the same few hundred assessment/file combos still resolve in
milliseconds of work, in the same pass that validates them.
"""

from __future__ import annotations

__all__ = ["resolve_schema_url"]


def resolve_schema_url(
    archive_map: dict,
    app_id: str,
    assessment_id: str,
    assessment_revision: int,
    file_name: str,
) -> str | None:
    """Pure-Python 3-scope resolution (no self-ref — that arrives as a
    column from the archive source). Returns the schema URL or None."""
    # 1. assessment scope: closest revision <= record's revision
    valid = [
        a
        for a in archive_map.get("assessments", [])
        if a.get("assessmentIdentifier") == assessment_id
        and a.get("assessmentRevision") <= int(assessment_revision)
    ]
    if valid:
        closest = min(valid, key=lambda a: int(assessment_revision) - a["assessmentRevision"])
        for file in closest.get("files", []):
            if file.get("filename") == file_name:
                return file.get("jsonSchema")
        # NB: reference returns early only when the filename matches;
        # otherwise falls through to app scope (s3_to_json_s3.py:249-257).
    # 2. app scope: default orgs FIRST (first match wins), anyOf only as
    # the fallback — a later scope must never overwrite an earlier match
    for app in archive_map.get("apps", []):
        if app.get("appId") != app_id:
            continue
        for default_org in app.get("default", []):
            for f in default_org.get("files", []):
                if f.get("filename") == file_name and f.get("jsonSchema"):
                    return f["jsonSchema"]
        for f in app.get("anyOf", []):
            if f.get("filename") == file_name and f.get("jsonSchema"):
                return f["jsonSchema"]
    # 3. inter-app scope
    for f in archive_map.get("anyOf", []):
        if f.get("filename") == file_name and "jsonSchema" in f:
            return f["jsonSchema"]
    return None
