"""Stage-1 ingest tests: archive fan-out, schema resolution scopes,
validation, expected-error suppression, quarantine routing, metadata
injection (incl. per-element), and the full stage-1 → stage-2 chain.

Mirrors the reference's unit-test coverage
(/root/reference/tests/test_s3_to_json_s3.py:369-810) hermetically.
"""

from __future__ import annotations

import json
import zipfile

import pytest
from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline import DatasetRegistry, run_json_to_parquet
from bridgedownstream_spark.pipeline.ingest import run_ingest
from bridgedownstream_spark.validation.resolve import resolve_schema_url

WEATHER_SCHEMA = {
    "$id": "schemas/v1/WeatherResult",
    "type": "object",
    "required": ["temperature", "type"],
    "properties": {"temperature": {"type": "number"}, "type": {"type": "string"}},
}
MOTION_SCHEMA = {
    "$id": "schemas/v1/MotionRecord",
    "type": "array",
    "items": {"type": "object", "properties": {"x": {"type": "number"}}},
}

SCHEMA_STORE = {
    "https://example.org/weather": WEATHER_SCHEMA,
    "https://example.org/motion": MOTION_SCHEMA,
}
SCHEMA_MAPPING = {
    "schemas/v1/WeatherResult": "weatherresult_v1",
    "schemas/v1/MotionRecord": "motionrecord_v1",
}
ARCHIVE_MAP = {
    "assessments": [
        {
            "assessmentIdentifier": "spelling",
            "assessmentRevision": 1,
            "files": [{"filename": "weather.json", "jsonSchema": "https://example.org/weather"}],
        },
        {
            # closer revision but > record revision ⇒ must NOT win for rev 3
            "assessmentIdentifier": "spelling",
            "assessmentRevision": 5,
            "files": [{"filename": "weather.json", "jsonSchema": "https://example.org/wrong"}],
        },
    ],
    "apps": [],
    "anyOf": [],
}


def _zip(path, members: dict[str, object]):
    with zipfile.ZipFile(path, "w") as z:
        for name, content in members.items():
            z.writestr(name, json.dumps(content))
    return str(path)


@pytest.fixture(scope="module")
def ingested(tmp_path_factory, spark):
    base = tmp_path_factory.mktemp("ingest")
    arch = base / "archives"
    arch.mkdir()
    # rec1: valid weather + self-ref motion (list body → per-element inject)
    _zip(
        arch / "rec1.zip",
        {
            "metadata.json": {
                "files": [{"filename": "motion.json", "jsonSchema": "https://example.org/motion"}]
            },
            "weather.json": {"temperature": 20.5, "type": "weather"},
            "motion.json": [{"x": 1.0}, {"x": 2.0}],
        },
    )
    # rec2: invalid weather (temperature wrong type) → quarantine
    _zip(
        arch / "rec2.zip",
        {"weather.json": {"temperature": "hot", "type": "weather"}},
    )
    # rec3: Android with exactly the whitelisted weather error → valid
    _zip(arch / "rec3.zip", {"weather.json": {"temperature": 7.0}})
    manifest = spark.createDataFrame(
        [
            (str(arch / "rec1.zip"), "rec1", "spelling", "3", "2022-09-02T10:11:12.000Z", "iPhone 13"),
            (str(arch / "rec2.zip"), "rec2", "spelling", "3", "2022-09-02T10:11:12.000Z", "iPhone 13"),
            (str(arch / "rec3.zip"), "rec3", "spelling", "3", "2022-09-03T00:00:00.000Z", "Android 12; Pixel"),
        ],
        "path string, recordid string, assessmentid string, assessmentrevision string, "
        "uploadedon string, clientinfo string",
    )
    json_root = str(base / "json")
    quarantine_root = str(base / "quarantine")
    counts = run_ingest(
        spark,
        archive_path=str(arch / "*.zip"),
        manifest=manifest,
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=json_root,
        quarantine_root=quarantine_root,
    )
    return {"base": base, "json": json_root, "quarantine": quarantine_root, "counts": counts}


def test_resolve_schema_scopes():
    # closest revision <= record revision wins (P3 as-of semantics)
    assert (
        resolve_schema_url(ARCHIVE_MAP, "mobile-toolbox", "spelling", 3, "weather.json")
        == "https://example.org/weather"
    )
    # revision below every assessment ⇒ no assessment match
    assert resolve_schema_url(ARCHIVE_MAP, "mobile-toolbox", "spelling", 0, "weather.json") is None
    # app + inter-app scopes
    amap = {
        "assessments": [],
        "apps": [
            {
                "appId": "mobile-toolbox",
                "default": [{"files": [{"filename": "a.json", "jsonSchema": "u1"}]}],
                "anyOf": [],
            }
        ],
        "anyOf": [{"filename": "b.json", "jsonSchema": "u2"}],
    }
    assert resolve_schema_url(amap, "mobile-toolbox", "x", 1, "a.json") == "u1"
    assert resolve_schema_url(amap, "mobile-toolbox", "x", 1, "b.json") == "u2"
    assert resolve_schema_url(amap, "other-app", "x", 1, "a.json") is None


def test_valid_records_land_in_lake(spark, ingested):
    # rec1 weather: dataset=weatherresult_v1, partition values unpadded
    path = f"{ingested['json']}/dataset=weatherresult_v1"
    df = spark.read.text(f"{path}/assessmentid=spelling/year=2022/month=9/day=2")
    rows = [json.loads(r["value"]) for r in df.collect()]
    assert len(rows) == 1
    body = rows[0]
    # injected metadata: partition ints in data, recordid (F1/F2)
    assert body["temperature"] == 20.5
    assert body["recordid"] == "rec1"
    assert body["year"] == 2022 and body["month"] == 9 and body["day"] == 2


def test_android_suppression_keeps_record(spark, ingested):
    # rec3's only error was whitelisted for Android → written, not quarantined
    df = spark.read.option("recursiveFileLookup", "true").text(
        f"{ingested['json']}/dataset=weatherresult_v1"
    )
    bodies = [json.loads(r["value"]) for r in df.collect()]
    assert {b["recordid"] for b in bodies} == {"rec1", "rec3"}


def test_quarantine_table(spark, ingested):
    q = spark.read.parquet(ingested["quarantine"])
    rows = q.collect()
    assert {r["recordid"] for r in rows} == {"rec2"}
    (r,) = [r for r in rows if r["file_name"] == "weather.json"]
    assert any("'hot' is not of type 'number'" in e for e in r["errors"])
    # the valid lake must not contain rec2
    lake = spark.read.option("recursiveFileLookup", "true").text(ingested["json"])
    assert not any("rec2" in r["value"] for r in lake.collect())


def test_per_element_injection_list_body(spark, ingested):
    # motion.json (self-ref schema → motionrecord_v1) is a list: every
    # element gets the metadata fields (N6)
    df = spark.read.option("recursiveFileLookup", "true").text(
        f"{ingested['json']}/dataset=motionrecord_v1"
    )
    (line,) = [r["value"] for r in df.collect()]
    arr = json.loads(line)
    assert [e["x"] for e in arr] == [1.0, 2.0]
    assert all(e["recordid"] == "rec1" and e["year"] == 2022 for e in arr)


def test_stage1_to_stage2_chain(spark, ingested, tmp_path):
    # the ingest lake feeds stage 2 directly: weather → flat parquet table
    registry = DatasetRegistry(
        {
            "tables": {
                "weatherresult_v1": {
                    "columns": [
                        {"Name": "recordid", "Type": "string"},
                        {"Name": "temperature", "Type": "double"},
                        {"Name": "type", "Type": "string"},
                    ]
                },
                "motionrecord_v1": {
                    "columns": [
                        {"Name": "recordid", "Type": "string"},
                        {"Name": "x", "Type": "double"},
                    ]
                },
            }
        }
    )
    pq = str(tmp_path / "pq")
    written = run_json_to_parquet(spark, ingested["json"], pq, "weatherresult_v1", registry)
    back = spark.read.parquet(written["weatherresult_v1"])
    got = {r["recordid"]: r for r in back.collect()}
    assert got["rec1"]["temperature"] == 20.5
    assert got["rec3"]["type"] is None  # Android record lacked 'type'
    assert got["rec1"]["year"] == "2022"  # partition col, catalog string type

    # S3 array-of-records: each element of the single NDJSON array line
    # becomes a row natively in the JSON scan
    written2 = run_json_to_parquet(spark, ingested["json"], pq, "motionrecord_v1", registry)
    motion = spark.read.parquet(written2["motionrecord_v1"])
    assert motion.count() == 2
    assert {r["x"] for r in motion.collect()} == {1.0, 2.0}


def test_ingest_counts(ingested):
    assert ingested["counts"]["valid_members"] == 3  # rec1×2 + rec3×1
    assert ingested["counts"]["quarantined_members"] == 1


def test_corrupt_archive_quarantines_not_vanishes(spark, tmp_path):
    """A truncated/corrupt zip must surface in the quarantine table (as a
    __corrupt_archive__ member with the zip error), never silently vanish
    from the pipeline."""
    from bridgedownstream_spark.pipeline.ingest import run_ingest
    from bridgedownstream_spark.sources.archive import CORRUPT_ARCHIVE_MEMBER

    arch = tmp_path / "archives"
    arch.mkdir()
    _zip(arch / "good.zip", {"weather.json": {"temperature": 1.0, "type": "weather"}})
    (arch / "bad.zip").write_bytes(b"this is not a zip archive")
    manifest = spark.createDataFrame(
        [
            (str(arch / "good.zip"), "recG", "spelling", "3",
             "2022-09-02T10:11:12.000Z", "iPhone 13"),
            (str(arch / "bad.zip"), "recB", "spelling", "3",
             "2022-09-02T10:11:12.000Z", "iPhone 13"),
        ],
        "path string, recordid string, assessmentid string, "
        "assessmentrevision string, uploadedon string, clientinfo string",
    )
    q_root = str(tmp_path / "quarantine")
    run_ingest(
        spark,
        archive_path=str(arch / "*.zip"),
        manifest=manifest,
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=str(tmp_path / "json"),
        quarantine_root=q_root,
    )
    q = spark.read.parquet(q_root)
    rows = q.collect()
    assert {r["recordid"] for r in rows} == {"recB"}
    (r,) = rows
    assert r["file_name"] == CORRUPT_ARCHIVE_MEMBER
    assert any("corrupt archive" in e for e in r["errors"])
    # the good record still reaches the lake
    lake = spark.read.option("recursiveFileLookup", "true").text(str(tmp_path / "json"))
    assert any("recG" in row["value"] for row in lake.collect())


def test_prune_quarantine_retention(spark, tmp_path):
    from bridgedownstream_spark.pipeline.ingest import prune_quarantine

    root = str(tmp_path / "quarantine")
    spark.createDataFrame(
        [
            ("r1", "2022-01-05T00:00:00.000Z", ["e1"]),
            ("r2", "2022-06-01T12:00:00.000Z", ["e2"]),
            ("r3", "2023-01-01T00:00:00.000Z", ["e3"]),
            ("r4", None, ["e4"]),  # undatable: must survive every pass
        ],
        "recordid string, uploadedon string, errors array<string>",
    ).coalesce(1).write.parquet(root)
    out = prune_quarantine(spark, root, "2022-06-01T00:00:00.000Z")
    assert out == {"kept": 3, "dropped": 1}
    left = {r.recordid for r in spark.read.parquet(root).collect()}
    assert left == {"r2", "r3", "r4"}
    # idempotent: nothing else ages out at the same cutoff — and the
    # NULL-dated row is still here (ADVICE r3: it must not silently age out)
    assert prune_quarantine(spark, root, "2022-06-01T00:00:00.000Z") == {
        "kept": 3,
        "dropped": 0,
    }
    # missing/empty table: no-op, no crash
    assert prune_quarantine(spark, str(tmp_path / "nope"), "2022-01-01") == {
        "kept": 0,
        "dropped": 0,
    }


def _ingest_batch(spark, tmp_path, name, archives, json_root, quarantine_root):
    """Zip ``archives`` ({recordid: (members, clientinfo)}) into their own
    directory and run one stage-1 append into the shared roots."""
    arch = tmp_path / name
    arch.mkdir()
    rows = []
    for i, (rid, (members, client)) in enumerate(archives.items()):
        path = _zip(arch / f"{name}{i}.zip", members)
        rows.append((path, rid, "spelling", "3", "2022-09-02T10:11:12.000Z", client))
    manifest = spark.createDataFrame(
        rows,
        "path string, recordid string, assessmentid string, "
        "assessmentrevision string, uploadedon string, clientinfo string",
    )
    return run_ingest(
        spark,
        archive_path=str(arch / "*.zip"),
        manifest=manifest,
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=json_root,
        quarantine_root=quarantine_root,
    )


_GOOD = {"weather.json": {"temperature": 1.0, "type": "weather"}}
_BAD = {"weather.json": {"temperature": "hot", "type": "weather"}}


def test_validity_is_per_archive(spark, tmp_path):
    """Two archives share a recordid and only one fails its schema: the
    valid archive still reaches the lake (the reference judges one archive
    as one record), the invalid one's member is quarantined."""
    json_root, q_root = str(tmp_path / "json"), str(tmp_path / "quarantine")
    arch = tmp_path / "shared"
    arch.mkdir()
    manifest = spark.createDataFrame(
        [
            (_zip(arch / "ok.zip", _GOOD), "X", "spelling", "3",
             "2022-09-02T10:11:12.000Z", "iPhone 13"),
            (_zip(arch / "bad.zip", _BAD), "X", "spelling", "3",
             "2022-09-02T10:11:12.000Z", "iPhone 13"),
        ],
        "path string, recordid string, assessmentid string, "
        "assessmentrevision string, uploadedon string, clientinfo string",
    )
    counts = run_ingest(
        spark,
        archive_path=str(arch / "*.zip"),
        manifest=manifest,
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=json_root,
        quarantine_root=q_root,
    )
    assert counts == {"valid_members": 1, "quarantined_members": 1}
    lake = [json.loads(r["value"]) for r in spark.read.text(
        f"{json_root}/dataset=weatherresult_v1/assessmentid=spelling/year=2022/month=9/day=2"
    ).collect()]
    assert [(b["recordid"], b["temperature"]) for b in lake] == [("X", 1.0)]
    (q,) = spark.read.parquet(q_root).collect()
    assert (q["recordid"], q["path"]) == ("X", str(arch / "bad.zip"))
    assert any("'hot' is not of type 'number'" in e for e in q["errors"])


def test_counts_are_per_run_not_cumulative(spark, tmp_path):
    """Appends of disjoint archives into the same roots each report the
    members they wrote, including a run whose lake write is empty."""
    json_root, q_root = str(tmp_path / "json"), str(tmp_path / "quarantine")

    def batch(name, archives):
        return _ingest_batch(spark, tmp_path, name, archives, json_root, q_root)

    first = batch("a", {"a1": (_GOOD, "iPhone 13"), "a2": (_GOOD, "iPhone 13"),
                        "a3": (_BAD, "iPhone 13")})
    second = batch("b", {"b1": (_GOOD, "iPhone 13"), "b2": (_BAD, "iPhone 13")})
    third = batch("c", {"c1": (_BAD, "Android 12")})
    assert first == {"valid_members": 2, "quarantined_members": 1}
    assert second == {"valid_members": 1, "quarantined_members": 1}
    assert third == {"valid_members": 0, "quarantined_members": 1}
    lake = spark.read.option("recursiveFileLookup", "true").text(json_root)
    assert lake.count() == 3
    assert spark.read.parquet(q_root).count() == 3


def test_quarantine_schema(spark, ingested):
    """The quarantine table's columns: the member's identity, its archive's
    manifest, then the schema it failed and the errors (no body)."""
    q = spark.read.parquet(ingested["quarantine"])
    assert q.columns == [
        "path", "member_path", "file_name", "self_ref_schema_url",
        "recordid", "assessmentid", "assessmentrevision", "uploadedon", "clientinfo",
        "schema_url", "errors",
    ]
    assert q.schema["errors"].dataType.simpleString() == "array<string>"
    assert {f.dataType.simpleString() for f in q.schema.fields if f.name != "errors"} == {"string"}
