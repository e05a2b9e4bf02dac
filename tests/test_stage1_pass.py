"""Stage 1's one Python pass (``pipeline.ingest.check_archives``): the
pieces it is built from, its plan shape, a run under the benchmark's
tracer, and a seeded batch checked against the generator's ground truth."""

from __future__ import annotations

import io
import json
import os
import zipfile

from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.ingest import (
    MANIFEST_FIELDS,
    check_archives,
    inject_metadata,
    run_ingest,
)
from bridgedownstream_spark.sources.archive import explode_members, read_archives
from bridgedownstream_spark.validation import (
    remove_expected_errors,
    suppress_expected_errors,
)
from perfbench import archives as gen

META = {
    "recordid": "r1",
    "assessmentid": "spelling",
    "assessmentrevision": "3",
    "uploadedon": "2022-09-02T10:11:12.000Z",
    "clientinfo": "iPhone 13",
}


def _zip_bytes(members: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, body in members.items():
            z.writestr(name, body)
    return buf.getvalue()


def test_microphone_rename_keeps_self_ref_declared_under_original_name():
    metadata = {"files": [{"filename": "microphone.json", "jsonSchema": "u-mic"}]}
    content = _zip_bytes({"metadata.json": json.dumps(metadata), "microphone.json": "[1, 2]"})
    assert explode_members()(content) == [
        ("metadata.json", "metadata.json", json.dumps(metadata), None),
        ("microphone.json", "microphone_levels.json", "[1, 2]", "u-mic"),
    ]


def test_corrupt_zip_yields_the_marker_member():
    ((member_path, file_name, body, url),) = explode_members()(b"not a zip")
    assert (member_path, file_name, url) == ("", "__corrupt_archive__", None)
    assert "zip" in body


def test_multiline_unparseable_body_is_wrapped_on_one_line():
    rewrite = inject_metadata()
    body = '{"a": 1,\n  "b": '
    assert rewrite(body, "x_v1", META) == (
        json.dumps({"__unparseable_body__": body}), "2022", "9", "2"
    )
    # a single-line unparseable body is already one lake line
    assert rewrite('{"a": ', "x_v1", META)[0] == '{"a": '


def test_archive_metadata_member_gets_every_manifest_field():
    rewrite = inject_metadata()
    body, year, month, day = rewrite('{"appName": "mtb"}', "ArchiveMetadata_v1", META)
    assert json.loads(body) == {"appName": "mtb", "year": 2022, "month": 9, "day": 2, **META}
    assert list(json.loads(body)) == ["appName", "year", "month", "day", *MANIFEST_FIELDS]
    # other datasets get assessmentid, the partition ints and recordid only
    body, *_ = rewrite('[{"x": 1}, 7]', "motion_v1", META)
    assert json.loads(body) == [
        {"x": 1, "assessmentid": "spelling", "year": 2022, "month": 9, "day": 2,
         "recordid": "r1"},
        7,
    ]


def test_android_suppression_matches_the_array_except_projection(spark):
    w = "'type' is a required property"
    t = "Additional properties are not allowed ('type' was unexpected)"
    rows = [
        ("weather.json", "Android 12; Pixel", [w, "x", "x", w, "y"]),
        ("weather.json", None, [w, "x", "x", w]),
        ("weather.json", "iPhone 13", [w, w]),
        ("taskData.json", "Android 14", [t, t]),
        ("taskData.json", "Android 14", ["z", t, "z"]),
        ("other.json", "Android 14", ["x", "x"]),
        ("motion.json", "Android 14", []),
    ]
    df = spark.createDataFrame(rows, "file_name string, clientinfo string, errors array<string>")
    native = [r["errors"] for r in suppress_expected_errors(df).collect()]
    python = [remove_expected_errors(errs, f, c) for f, c, errs in rows]
    assert python == native
    assert python[0] == ["x", "y"] and python[1] == [w, "x", "x", w]


def _write_archives(arch, n: int) -> list[tuple]:
    arch.mkdir()
    rows = []
    for i in range(n):
        path = str(arch / f"r{i}.zip")
        with open(path, "wb") as f:
            f.write(_zip_bytes({"weather.json": json.dumps({"temperature": i, "type": "w"})}))
        rows.append((path, f"r{i}", "spelling", "3", "2022-09-02T10:11:12.000Z", "iPhone 13"))
    return rows


_WEATHER = {
    "archive_map": {"anyOf": [{"filename": "weather.json", "jsonSchema": "u-weather"}]},
    "schema_store": {"u-weather": {"$id": "schemas/v1/Weather", "type": "object"}},
    "schema_mapping": {"schemas/v1/Weather": "weather_v1"},
}


def test_stage1_is_one_python_pass_with_no_record_key_exchange(spark, tmp_path):
    rows = _write_archives(tmp_path / "archives", 2)
    archives = read_archives(
        spark, str(tmp_path / "archives" / "*.zip"), spark.createDataFrame(rows, gen.MANIFEST_DDL)
    )
    members = check_archives(archives, **_WEATHER)
    plan = members._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "hashpartitioning(recordid" not in plan
    assert "Window" not in plan
    assert members.where(F.size("errors") == 0).count() == 2


def test_run_ingest_under_the_benchmark_tracer(spark, tmp_path):
    """Under the tracer the package's stage-1 names are wrappers holding
    the SparkContext; the pass must still pickle to the Python workers."""
    from perfbench.tracing import Tracer

    rows = _write_archives(tmp_path / "archives", 3)
    tracer = Tracer(spark)
    with tracer.active():
        counts = run_ingest(
            spark,
            archive_path=str(tmp_path / "archives" / "*.zip"),
            manifest=spark.createDataFrame(rows, gen.MANIFEST_DDL),
            dataset_mapping=None,
            json_root=str(tmp_path / "json"),
            quarantine_root=str(tmp_path / "quarantine"),
            **_WEATHER,
        )
    assert counts == {"valid_members": 3, "quarantined_members": 0}
    assert {"explode_members", "validate_members", "route_datasets"} <= {
        s.name for s in tracer.spans
    }


def _lines(root: str) -> int:
    n = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.startswith("part-"):
                with open(os.path.join(dirpath, name)) as f:
                    n += sum(1 for _ in f)
    return n


def test_seeded_batch_matches_ground_truth(spark, tmp_path):
    rows, truth = gen.generate(str(tmp_path / "inbox"), seed=21, n_archives=24, motion_samples=20)
    # the batch exercises both clients, the corrupt zips and a schema failure
    assert {r[5].split()[0] for r in rows} == {"Android", "iPhone"}
    assert truth.invalid_records == 3
    json_root, q_root = str(tmp_path / "json"), str(tmp_path / "quarantine")
    counts = run_ingest(
        spark,
        archive_path=str(tmp_path / "inbox" / "*.zip"),
        manifest=spark.createDataFrame(rows, gen.MANIFEST_DDL),
        archive_map=gen.ARCHIVE_MAP,
        schema_store=gen.SCHEMA_STORE,
        schema_mapping=gen.SCHEMA_MAPPING,
        dataset_mapping=None,
        json_root=json_root,
        quarantine_root=q_root,
    )
    q = spark.read.parquet(q_root)
    assert q.count() == truth.quarantine_rows == counts["quarantined_members"]
    assert q.select("recordid").distinct().count() == truth.invalid_records
    for table in ("taskdata_v1", "archivemetadata_v1"):
        assert _lines(os.path.join(json_root, f"dataset={table}")) == truth.rows[table], table
