"""Incremental stage-1 ingest: each archive is ingested once, bookmarked by
a processed-files ledger diffed against the driver's listing; late-arriving
archives are picked up by a re-run without reprocessing the old ones, and a
run with nothing new launches no Spark job."""

from __future__ import annotations

import json
import zipfile

import pytest

from bridgedownstream_spark.pipeline.ledger import FileLedger
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
    path, json_root, ledger = str(arch / "*.zip"), str(tmp_path / "json"), str(tmp_path / "l")

    _ingest(spark, path, rows, json_root, ledger)
    assert _lake_recordids(spark, json_root) == ["r1", "r1", "r2"]

    # a third archive arrives; the same ledger must ingest ONLY it —
    # were r1/r2 reprocessed, their rows would double in the append lake
    rows.append(_meta(_zip(arch / "r3.zip", [{"event_id": 4}]), "r3"))
    _ingest(spark, path, rows, json_root, ledger)
    assert _lake_recordids(spark, json_root) == ["r1", "r1", "r2", "r3"]
    assert _logged(spark, ledger) == {"r1.zip", "r2.zip", "r3.zip"}

    # an immediate re-run with nothing new is a no-op
    _ingest(spark, path, rows, json_root, ledger)
    assert _lake_recordids(spark, json_root) == ["r1", "r1", "r2", "r3"]
    assert _logged(spark, ledger) == {"r1.zip", "r2.zip", "r3.zip"}


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
    _ingest(spark, pattern, rows, streamed, str(tmp_path / "ledger"))
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


def _ingest(spark, archive_path, rows, json_root, ledger):
    stream_ingest(
        spark,
        archive_path=archive_path,
        manifest=_manifest(spark, rows),
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=json_root,
        ledger_root=ledger,
    )


def _inbox(tmp_path, names):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    rows = [
        _meta(_zip(inbox / name, [{"event_id": i}]), f"r{i}")
        for i, name in enumerate(names)
    ]
    return inbox, rows


def _logged(spark, ledger) -> set[str]:
    """File names of the archives the stage-1 ledger holds."""
    keys = FileLedger(spark, ledger).processed_files("archives")
    return {path.rsplit("/", 1)[1] for _, _, path in keys}


def _assert_noop_rerun_launches_no_job(spark, tmp_path, inbox, rows, new_jobs):
    # a run with nothing new launches no Spark job, so it starts no query
    for shape, path in (("glob", str(inbox / "*.zip")), ("dir", str(inbox))):
        json_root, ledger = str(tmp_path / f"json_{shape}"), str(tmp_path / f"l_{shape}")
        _ingest(spark, path, rows, json_root, ledger)
        new_jobs()
        _ingest(spark, path, rows, json_root, ledger)
        assert new_jobs() == [], shape
        assert _lake_recordids(spark, json_root) == ["r0", "r1"], shape


def test_noop_starts_no_query_for_glob_or_directory(spark, tmp_path, new_jobs):
    inbox, rows = _inbox(tmp_path, ["r0.zip", "r1.zip"])
    _assert_noop_rerun_launches_no_job(spark, tmp_path, inbox, rows, new_jobs)


def test_noop_starts_no_query_beside_other_files_and_subdirectories(
    spark, tmp_path, new_jobs
):
    inbox, rows = _inbox(tmp_path, ["r0.zip", "r1.zip"])
    (inbox / "notes.txt").write_text("not an archive")
    (inbox / "sub").mkdir()
    rows.append(_meta(_zip(inbox / "sub" / "c.zip", [{"event_id": 9}]), "c"))
    _assert_noop_rerun_launches_no_job(spark, tmp_path, inbox, rows, new_jobs)


def test_hidden_archives_are_neither_ingested_nor_committed(spark, tmp_path):
    # Spark's listing skips names starting with "_" or "."
    inbox, rows = _inbox(tmp_path, ["r0.zip", "_r1.zip", ".r2.zip"])
    path, json_root, ledger = str(inbox / "*.zip"), str(tmp_path / "json"), str(tmp_path / "l")
    _ingest(spark, path, rows, json_root, ledger)
    assert _lake_recordids(spark, json_root) == ["r0"]
    assert _logged(spark, ledger) == {"r0.zip"}


def test_escaped_names_are_ingested_once(spark, tmp_path, new_jobs):
    # a space is %20 in a URI and "%" is %25: "a b.zip" and "a%20b.zip"
    # are two archives, each ingested once
    names = ["a b.zip", "a%20b.zip", "c%d.zip"]
    inbox, rows = _inbox(tmp_path, names)
    path, json_root, ledger = str(inbox / "*.zip"), str(tmp_path / "json"), str(tmp_path / "l")
    _ingest(spark, path, rows, json_root, ledger)
    assert _lake_recordids(spark, json_root) == ["r0", "r1", "r2"]
    assert _logged(spark, ledger) == set(names)
    new_jobs()
    _ingest(spark, path, rows, json_root, ledger)
    assert new_jobs() == []
    assert _lake_recordids(spark, json_root) == ["r0", "r1", "r2"]


def test_failed_commit_leaves_ledger_unchanged_and_next_run_reprocesses(
    spark, tmp_path, monkeypatch
):
    inbox, rows = _inbox(tmp_path, ["r0.zip"])
    path, json_root, ledger = str(inbox / "*.zip"), str(tmp_path / "json"), str(tmp_path / "l")
    _ingest(spark, path, rows, json_root, ledger)
    rows.append(_meta(_zip(inbox / "r1.zip", [{"event_id": 1}]), "r1"))

    def fail(self, paths, dataset):
        raise OSError("commit failed")

    with monkeypatch.context() as m:
        m.setattr(FileLedger, "commit", fail)
        with pytest.raises(OSError):
            _ingest(spark, path, rows, json_root, ledger)
    # the sinks were written before the commit failed
    assert _lake_recordids(spark, json_root) == ["r0", "r1"]
    assert _logged(spark, ledger) == {"r0.zip"}
    # at-least-once: the unlogged archive is ingested again, then logged
    _ingest(spark, path, rows, json_root, ledger)
    assert _lake_recordids(spark, json_root) == ["r0", "r1", "r1"]
    assert _logged(spark, ledger) == {"r0.zip", "r1.zip"}


def test_commit_after_another_run_committed_raises(spark, tmp_path, monkeypatch):
    # run B runs whole inside run A's commit: A's read of the ledger is
    # stale and its sinks hold a second copy, so A must raise at its
    # commit rather than return as if it had logged its archives
    inbox, rows = _inbox(tmp_path, ["r0.zip"])
    path, json_root, ledger = str(inbox / "*.zip"), str(tmp_path / "json"), str(tmp_path / "l")
    commit = FileLedger.commit

    def run_b_then_commit(self, paths, dataset):
        monkeypatch.setattr(FileLedger, "commit", commit)
        _ingest(spark, path, rows, json_root, ledger)
        return commit(self, paths, dataset)

    monkeypatch.setattr(FileLedger, "commit", run_b_then_commit)
    with pytest.raises(Exception, match="FileAlreadyExists"):
        _ingest(spark, path, rows, json_root, ledger)
    assert _lake_recordids(spark, json_root) == ["r0", "r0"]
    assert _logged(spark, ledger) == {"r0.zip"}
