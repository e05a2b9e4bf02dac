"""Listing/manifest source tests (S9/S10)."""

from __future__ import annotations

import json

from bridgedownstream_spark.sources.listing import (
    list_lake_files,
    manifest_from_messages,
)


def test_list_lake_files(spark, tmp_path):
    (tmp_path / "dataset=d1").mkdir()
    (tmp_path / "dataset=d1" / "rec1.ndjson").write_text('{"a":1}\n')
    (tmp_path / "dataset=d1" / "rec2.ndjson").write_text('{"a":2}\n')
    out = list_lake_files(spark, str(tmp_path))
    rows = {r["object_name"]: r for r in out.collect()}
    assert set(rows) == {"rec1.ndjson", "rec2.ndjson"}
    assert rows["rec1.ndjson"]["record_stem"] == "rec1"
    assert rows["rec1.ndjson"]["length"] == len('{"a":1}\n')
    assert rows["rec1.ndjson"]["path"].startswith("/")


def test_manifest_from_messages(spark):
    messages = json.dumps(
        [
            {
                "path": "/tmp/a.zip",
                "recordid": "r1",
                "assessmentid": "spelling",
                "assessmentrevision": 3,
                "uploadedon": "2022-09-02T10:11:12.000Z",
                "clientinfo": "iPhone",
            }
        ]
    )
    m = manifest_from_messages(spark, messages)
    r = m.collect()[0]
    assert r["path"] == "/tmp/a.zip" and r["assessmentrevision"] == "3"
    assert m.columns == [
        "path", "recordid", "assessmentid", "assessmentrevision",
        "uploadedon", "clientinfo",
    ]

