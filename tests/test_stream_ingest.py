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


class _QueryStarts:
    """Counts streaming queries started on ``spark`` while in use."""

    def __init__(self, spark):
        self._spark = spark
        self.n = 0

    def __enter__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                counter.n += 1

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark.streams.addListener(self._listener)
        return self

    def count(self) -> int:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return self.n

    def __exit__(self, *exc):
        self._spark.streams.removeListener(self._listener)


def _ingest(spark, archive_path, rows, json_root, ck):
    stream_ingest(
        spark,
        archive_path=archive_path,
        manifest=_manifest(spark, rows),
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=json_root,
        checkpoint_root=ck,
        timeout_sec=120,
    )


def test_replays_a_planned_batch_that_was_never_committed(spark, tmp_path):
    # a crash after planning leaves offsets/N without commits/N: the next
    # run must start the stream and commit the batch, never skip it
    arch = tmp_path / "archives"
    arch.mkdir()
    rows = [_meta(_zip(arch / "r1.zip", [{"event_id": 1}]), "r1")]
    json_root, ck = str(tmp_path / "json"), tmp_path / "ck"
    _ingest(spark, str(arch / "*.zip"), rows, json_root, str(ck))
    last = max(int(p.name) for p in (ck / "commits").iterdir() if p.name.isdigit())
    (ck / "commits" / str(last)).unlink()
    (ck / "commits" / f".{last}.crc").unlink(missing_ok=True)

    with _QueryStarts(spark) as starts:
        _ingest(spark, str(arch / "*.zip"), rows, json_root, str(ck))
        assert starts.count() == 1
    assert (ck / "commits" / str(last)).exists()
    assert "r1" in _lake_recordids(spark, json_root)


def test_replays_files_logged_but_never_planned(spark, tmp_path):
    # a crash after the source logged its new files but before the batch
    # was planned leaves sources/0/N with neither offsets/N nor commits/N:
    # those files are still pending, so the stream must start
    inbox, rows = _inbox(tmp_path, 1)
    path, json_root, ck = str(inbox / "*.zip"), str(tmp_path / "json"), tmp_path / "ck"
    _ingest(spark, path, rows, json_root, str(ck))
    rows.append(_meta(_zip(inbox / "r1.zip", [{"event_id": 1}]), "r1"))
    _ingest(spark, path, rows, json_root, str(ck))
    for log in ("offsets", "commits"):
        (ck / log / "1").unlink()
        (ck / log / ".1.crc").unlink(missing_ok=True)

    with _QueryStarts(spark) as starts:
        _ingest(spark, path, rows, json_root, str(ck))
        assert starts.count() == 1
    assert (ck / "commits" / "1").exists()
    assert _lake_recordids(spark, json_root) == ["r0", "r1", "r1"]


def _inbox(tmp_path, n):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    rows = [
        _meta(_zip(inbox / f"r{i}.zip", [{"event_id": i}]), f"r{i}")
        for i in range(n)
    ]
    return inbox, rows


def test_noop_starts_no_query_for_glob_or_directory(spark, tmp_path):
    inbox, rows = _inbox(tmp_path, 2)
    for shape, path in (("glob", str(inbox / "*.zip")), ("dir", str(inbox))):
        json_root, ck = str(tmp_path / f"json_{shape}"), str(tmp_path / f"ck_{shape}")
        _ingest(spark, path, rows, json_root, ck)
        with _QueryStarts(spark) as starts:
            _ingest(spark, path, rows, json_root, ck)
            assert starts.count() == 0, shape
        assert _lake_recordids(spark, json_root) == ["r0", "r1"]


def test_noop_starts_no_query_beside_other_files_and_subdirectories(spark, tmp_path):
    inbox, rows = _inbox(tmp_path, 2)
    (inbox / "notes.txt").write_text("not an archive")
    (inbox / "sub").mkdir()
    rows.append(_meta(_zip(inbox / "sub" / "c.zip", [{"event_id": 9}]), "c"))
    path, json_root, ck = str(inbox / "*.zip"), str(tmp_path / "json"), str(tmp_path / "ck")
    _ingest(spark, path, rows, json_root, ck)
    with _QueryStarts(spark) as starts:
        _ingest(spark, path, rows, json_root, ck)
        assert starts.count() == 0
    assert _lake_recordids(spark, json_root) == ["r0", "r1"]


def test_noop_starts_no_query_past_a_log_compaction(spark, tmp_path):
    key = "spark.sql.streaming.fileSource.log.compactInterval"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        rows, ck = [], tmp_path / "ck"
        json_root = str(tmp_path / "json")
        for i in range(3):
            rows.append(_meta(_zip(inbox / f"r{i}.zip", [{"event_id": i}]), f"r{i}"))
            _ingest(spark, str(inbox / "*.zip"), rows, json_root, str(ck))
        assert (ck / "sources" / "0" / "1.compact").exists()
        with _QueryStarts(spark) as starts:
            _ingest(spark, str(inbox / "*.zip"), rows, json_root, str(ck))
            assert starts.count() == 0
        assert _lake_recordids(spark, json_root) == ["r0", "r1", "r2"]
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_new_archive_starts_the_query(spark, tmp_path):
    inbox, rows = _inbox(tmp_path, 2)
    path, json_root, ck = str(inbox / "*.zip"), str(tmp_path / "json"), str(tmp_path / "ck")
    _ingest(spark, path, rows, json_root, ck)
    rows.append(_meta(_zip(inbox / "r2.zip", [{"event_id": 2}]), "r2"))
    with _QueryStarts(spark) as starts:
        _ingest(spark, path, rows, json_root, ck)
        assert starts.count() == 1
    assert _lake_recordids(spark, json_root) == ["r0", "r1", "r2"]


def test_sink_log_in_inbox_starts_the_query(spark, tmp_path):
    # a _spark_metadata directory makes the source read a sink's log
    # instead of listing: the driver-side listing cannot vouch for that
    inbox, rows = _inbox(tmp_path, 2)
    path, json_root, ck = str(inbox / "*.zip"), str(tmp_path / "json"), str(tmp_path / "ck")
    _ingest(spark, path, rows, json_root, ck)
    (inbox / "_spark_metadata").mkdir()
    with _QueryStarts(spark) as starts:
        _ingest(spark, path, rows, json_root, ck)
        assert starts.count() == 1


def test_unknown_log_version_starts_the_query(spark, tmp_path):
    # the check does not skip on a log it cannot read: the stream starts
    # and Spark itself rejects the log
    import pytest

    inbox, rows = _inbox(tmp_path, 2)
    path, json_root, ck = str(inbox / "*.zip"), str(tmp_path / "json"), tmp_path / "ck"
    _ingest(spark, path, rows, json_root, str(ck))
    log = ck / "sources" / "0" / "0"
    log.write_text("v9" + log.read_text()[2:])
    (ck / "sources" / "0" / ".0.crc").unlink(missing_ok=True)
    with _QueryStarts(spark) as starts:
        with pytest.raises(Exception):
            _ingest(spark, path, rows, json_root, str(ck))
        assert starts.count() == 1
