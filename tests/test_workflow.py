"""One-call study workflow: archives → NDJSON lake → discovered datasets →
incremental parquet lake, with re-runs extending rather than duplicating."""

from __future__ import annotations

import json
import os
import zipfile

from bridgedownstream_spark.pipeline.registry import DatasetRegistry
from bridgedownstream_spark.pipeline.workflow import (
    discover_datasets,
    run_study_workflow,
)

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
REGISTRY = DatasetRegistry(
    {
        "tables": {
            "eventlist_v1": {
                "columns": [
                    {"Name": "event_id", "Type": "bigint"},
                    {"Name": "recordid", "Type": "string"},
                ]
            }
        }
    }
)


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


def test_workflow_end_to_end_and_incremental(spark, tmp_path):
    arch = tmp_path / "archives"
    arch.mkdir()
    work = str(tmp_path / "work")
    rows = [
        _meta(_zip(arch / "r1.zip", [{"event_id": 1}, {"event_id": 2}]), "r1"),
        _meta(_zip(arch / "r2.zip", [{"event_id": 3}]), "r2"),
    ]

    def run(manifest_rows):
        return run_study_workflow(
            spark,
            archive_path=str(arch / "*.zip"),
            manifest=_manifest(spark, manifest_rows),
            archive_map=ARCHIVE_MAP,
            schema_store=SCHEMA_STORE,
            schema_mapping=SCHEMA_MAPPING,
            registry=REGISTRY,
            work_root=work,
        )

    written = run(rows)
    assert discover_datasets(spark, os.path.join(work, "json")) == [
        "eventlist_v1"
    ]
    assert "eventlist_v1" in written
    table = spark.read.parquet(written["eventlist_v1"]["eventlist_v1"])
    assert sorted(
        (r["recordid"], r["event_id"])
        for r in table.select("recordid", "event_id").collect()
    ) == [("r1", 1), ("r1", 2), ("r2", 3)]
    # partition columns came from the layout
    assert {"assessmentid", "year", "month", "day"} <= set(table.columns)

    # second batch: one new archive. Stage 1 appends it; stage 2's ledger
    # must process ONLY the new lake file — were the old ones re-read,
    # r1/r2 rows would double.
    rows.append(_meta(_zip(arch / "r3.zip", [{"event_id": 4}]), "r3"))
    run(rows)
    table = spark.read.parquet(written["eventlist_v1"]["eventlist_v1"])
    assert sorted(
        (r["recordid"], r["event_id"])
        for r in table.select("recordid", "event_id").collect()
    ) == [("r1", 1), ("r1", 2), ("r2", 3), ("r3", 4)]


TAPS_SCHEMA = {
    "$id": "schemas/v1/TapList",
    "type": "array",
    "items": {
        "type": "object",
        "required": ["tap_id"],
        "properties": {"tap_id": {"type": "integer"}},
    },
}
TWO_DS_ARCHIVE_MAP = {
    "assessments": [
        ARCHIVE_MAP["assessments"][0],
        {
            "assessmentIdentifier": "taps",
            "assessmentRevision": 1,
            "files": [
                {"filename": "taps.json", "jsonSchema": "https://example.org/taps"}
            ],
        },
    ],
    "apps": [],
    "anyOf": [],
}
TWO_DS_REGISTRY = DatasetRegistry(
    {
        "tables": {
            "eventlist_v1": {
                "columns": [
                    {"Name": "event_id", "Type": "bigint"},
                    {"Name": "recordid", "Type": "string"},
                ]
            },
            "taplist_v1": {
                "columns": [
                    {"Name": "tap_id", "Type": "bigint"},
                    {"Name": "recordid", "Type": "string"},
                ]
            },
        }
    }
)


def test_workflow_runs_datasets_concurrently(spark, tmp_path):
    """Two datasets in one batch exercise the concurrent stage-2 path (one
    driver thread + Spark job group per dataset — the reference's
    one-Glue-job-per-dataset parallelism). Results must be identical to a
    sequential run."""

    def _tap_zip(path, taps):
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("taps.json", json.dumps(taps))
        return str(path)

    arch = tmp_path / "archives"
    arch.mkdir()
    rows = [
        _meta(_zip(arch / "r1.zip", [{"event_id": 1}, {"event_id": 2}]), "r1"),
        (
            _tap_zip(arch / "r2.zip", [{"tap_id": 7}]),
            "r2",
            "taps",
            "1",
            "2024-03-04T00:00:00.000Z",
            "ios",
        ),
    ]

    def run(work, max_concurrency):
        return run_study_workflow(
            spark,
            archive_path=str(arch / "*.zip"),
            manifest=_manifest(spark, rows),
            archive_map=TWO_DS_ARCHIVE_MAP,
            schema_store={
                "https://example.org/events": EVENTS_SCHEMA,
                "https://example.org/taps": TAPS_SCHEMA,
            },
            schema_mapping={
                "schemas/v1/EventList": "eventlist_v1",
                "schemas/v1/TapList": "taplist_v1",
            },
            registry=TWO_DS_REGISTRY,
            work_root=str(tmp_path / work),
            max_concurrency=max_concurrency,
        )

    concurrent = run("work_par", 4)
    sequential = run("work_seq", 1)
    assert set(concurrent) == set(sequential) == {"eventlist_v1", "taplist_v1"}
    for written in (concurrent, sequential):
        ev = spark.read.parquet(written["eventlist_v1"]["eventlist_v1"])
        assert sorted(r["event_id"] for r in ev.collect()) == [1, 2]
        taps = spark.read.parquet(written["taplist_v1"]["taplist_v1"])
        assert [(r["recordid"], r["tap_id"]) for r in taps.collect()] == [("r2", 7)]


def test_workflow_skips_unregistered_datasets(spark, tmp_path):
    arch = tmp_path / "archives"
    arch.mkdir()
    work = str(tmp_path / "work")
    rows = [_meta(_zip(arch / "r1.zip", [{"event_id": 1}]), "r1")]
    empty_registry = DatasetRegistry({"tables": {}})
    written = run_study_workflow(
        spark,
        archive_path=str(arch / "*.zip"),
        manifest=_manifest(spark, rows),
        archive_map=ARCHIVE_MAP,
        schema_store=SCHEMA_STORE,
        schema_mapping=SCHEMA_MAPPING,
        registry=empty_registry,
        work_root=work,
    )
    # the lake has the dataset, the registry doesn't — left for later
    assert discover_datasets(spark, os.path.join(work, "json")) == [
        "eventlist_v1"
    ]
    assert written == {}


def test_noop_rerun_lists_archive_directory_once(spark, tmp_path, new_jobs):
    # 40 archives exceed spark.sql.sources.parallelPartitionDiscovery
    # .threshold (32): listing them as 40 root paths launches a 40-task
    # job. Stage 1 lists the inbox once on the driver and selects the new
    # archives from that listing, so a cold run has no job with a task per
    # archive. A no-op re-run diffs the listing against the stage-1 ledger
    # and reads the stage-2 ledger on the driver, so it launches no Spark
    # job at all.
    n = 40
    arch = tmp_path / "archives"
    arch.mkdir()
    rows = [
        _meta(_zip(arch / f"r{i:02d}.zip", [{"event_id": i}]), f"r{i:02d}")
        for i in range(n)
    ]
    work = str(tmp_path / "work")

    def run():
        return run_study_workflow(
            spark,
            archive_path=str(arch / "*.zip"),
            manifest=_manifest(spark, rows),
            archive_map=ARCHIVE_MAP,
            schema_store=SCHEMA_STORE,
            schema_mapping=SCHEMA_MAPPING,
            registry=REGISTRY,
            work_root=work,
        )

    def counts():
        lake = spark.read.schema("event_id bigint").json(
            os.path.join(work, "json", "dataset=eventlist_v1")
        )
        return lake.count(), spark.read.parquet(table).count()

    written = run()
    cold = new_jobs()
    assert cold and max(tasks for _, tasks in cold) < n, cold
    table = written["eventlist_v1"]["eventlist_v1"]
    assert counts() == (n, n)

    new_jobs()
    assert run() == {"eventlist_v1": {}}
    assert new_jobs() == []
    assert counts() == (n, n)

    # an archive landed after a no-op is ingested, exactly once
    rows.append(_meta(_zip(arch / "late.zip", [{"event_id": n}]), "late"))
    assert set(run()["eventlist_v1"]) == {"eventlist_v1"}
    assert counts() == (n + 1, n + 1)
    assert run() == {"eventlist_v1": {}}
    assert counts() == (n + 1, n + 1)
