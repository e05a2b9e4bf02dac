"""Streaming stage-1 ingest: archives drain through the checkpointed
binaryFile stream exactly once; late-arriving archives are picked up by a
re-run without reprocessing the old ones."""

from __future__ import annotations

import json
import zipfile

from bridgedownstream_spark.streaming import stream_ingest

EVENTS_SCHEMA = {
    "$id": "schemas/v1/EventList",
    "type": "array",
    "items": {
        "type": "object",
        "required": ["event_id"],
        "properties": {"event_id": {"type": "integer"}},
    },
}
ARCHIVE_MAP = {
    "assessments": [
        {
            "assessmentIdentifier": "events",
            "assessmentRevision": 1,
            "files": [
                {"filename": "events.json", "jsonSchema": "https://example.org/events"}
            ],
        }
    ],
    "apps": [],
    "anyOf": [],
}
SCHEMA_STORE = {"https://example.org/events": EVENTS_SCHEMA}
SCHEMA_MAPPING = {"schemas/v1/EventList": "eventlist_v1"}


def _zip(path, events):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("events.json", json.dumps(events))
    return str(path)


def _manifest(spark, rows):
    return spark.createDataFrame(
        rows,
        "path string, recordid string, assessmentid string, "
        "assessmentrevision string, uploadedon string, clientinfo string",
    )


def _meta(path, rid):
    return (path, rid, "events", "1", "2024-03-04T00:00:00.000Z", "ios")


def _lake_recordids(spark, json_root) -> list[str]:
    df = (
        spark.read.schema("event_id bigint, recordid string")
        .json(f"{json_root}/dataset=eventlist_v1")
    )
    return sorted(r["recordid"] for r in df.select("recordid").collect())


def test_stream_ingest_is_incremental(spark, tmp_path):
    arch = tmp_path / "archives"
    arch.mkdir()
    rows = [
        _meta(_zip(arch / "r1.zip", [{"event_id": 1}, {"event_id": 2}]), "r1"),
        _meta(_zip(arch / "r2.zip", [{"event_id": 3}]), "r2"),
    ]
    json_root = str(tmp_path / "json")
    ck = str(tmp_path / "ck")

    def drain(manifest_rows):
        stream_ingest(
            spark,
            archive_path=str(arch / "*.zip"),
            manifest=_manifest(spark, manifest_rows),
            archive_map=ARCHIVE_MAP,
            schema_store=SCHEMA_STORE,
            schema_mapping=SCHEMA_MAPPING,
            dataset_mapping=None,
            json_root=json_root,
            checkpoint_root=ck,
            timeout_sec=120,
        )

    drain(rows)
    assert _lake_recordids(spark, json_root) == ["r1", "r1", "r2"]

    # a third archive arrives; the same checkpoint must ingest ONLY it —
    # were r1/r2 reprocessed, their rows would double in the append lake
    rows.append(_meta(_zip(arch / "r3.zip", [{"event_id": 4}]), "r3"))
    drain(rows)
    assert _lake_recordids(spark, json_root) == ["r1", "r1", "r2", "r3"]

    # an immediate re-run with nothing new is a no-op
    drain(rows)
    assert _lake_recordids(spark, json_root) == ["r1", "r1", "r2", "r3"]


def test_flat_inbox_directory_listing_matches_glob(spark, tmp_path):
    # a last-component glob is loaded as its directory plus a file-name
    # filter; the selected archives must be exactly the glob's: no
    # non-matching file and nothing from a subdirectory
    from bridgedownstream_spark.pipeline.ingest import run_ingest

    inbox = tmp_path / "inbox"
    (inbox / "sub").mkdir(parents=True)
    rows = [
        _meta(_zip(inbox / "a.zip", [{"event_id": 1}]), "a"),
        _meta(_zip(inbox / "b.zip", [{"event_id": 2}]), "b"),
        _meta(_zip(inbox / "sub" / "c.zip", [{"event_id": 3}]), "c"),
    ]
    (inbox / "notes.txt").write_text("not an archive")
    pattern = str(inbox / "*.zip")

    globbed = spark.read.format("binaryFile").load(pattern).select("path").collect()
    assert sorted(r["path"].rsplit("/", 1)[1] for r in globbed) == ["a.zip", "b.zip"]

    streamed = str(tmp_path / "json_stream")
    stream_ingest(
        spark,
        archive_path=pattern,
        manifest=_manifest(spark, rows),
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=streamed,
        checkpoint_root=str(tmp_path / "ck"),
        timeout_sec=120,
    )
    assert _lake_recordids(spark, streamed) == ["a", "b"]

    batch = str(tmp_path / "json_batch")
    run_ingest(
        spark,
        archive_path=pattern,
        manifest=_manifest(spark, rows),
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=batch,
        collect_counts=False,
    )
    assert _lake_recordids(spark, batch) == ["a", "b"]


class _RecordingReader:
    def __init__(self):
        self.calls = []

    def option(self, key, value):
        self.calls.append(("option", key, value))
        return self

    def load(self, path):
        self.calls.append(("load", path))
        return self


def test_archive_path_shapes_other_than_last_component_glob_load_unchanged():
    from bridgedownstream_spark.sources.archive import load_archive_files

    def calls(path):
        reader = _RecordingReader()
        load_archive_files(reader, path)
        return reader.calls

    assert calls("s3a://bucket/inbox/*.zip") == [
        ("option", "pathGlobFilter", "*.zip"),
        ("load", "s3a://bucket/inbox"),
    ]
    for unchanged in (
        "/data/in*/*.zip",  # glob in the parent
        "/data/2024-0[1-3]/batch.zip",
        "/data/inbox",  # no glob at all
        "/data/inbox/a.zip",
        "*.zip",  # no parent to list
        "/*.zip",  # filesystem roots
        "file:///*.zip",
    ):
        assert calls(unchanged) == [("load", unchanged)]


def test_glob_in_parent_reads_every_match(spark, tmp_path):
    from bridgedownstream_spark.sources.archive import read_archives

    for d, rid in (("in1", "a"), ("in2", "b"), ("other", "c")):
        (tmp_path / d).mkdir()
        _zip(tmp_path / d / f"{rid}.zip", [{"event_id": 1}])
    got = read_archives(spark, str(tmp_path / "in*" / "*.zip")).collect()
    assert sorted(r["path"].rsplit("/", 2)[1] for r in got) == ["in1", "in2"]
