"""Stage-2 pipeline tests: registry parsing, schema conformance
(resolveChoice equivalent), NDJSON round-trip, end-to-end json→parquet with
relationalize, and partition pruning on the written lake.

Mirrors the reference's integration test shapes
(/root/reference/tests/test_json_s3_to_parquet.py:387-425) hermetically.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bridgedownstream_spark.pipeline import (
    DatasetRegistry,
    conform_to_schema,
    read_json_dataset,
    run_json_to_parquet,
)
from bridgedownstream_spark.sources import write_ndjson_dataset
from bridgedownstream_spark.streaming import stream_upsert_lake

REGISTRY_YAML = """
tables:
  pytest_nested_table:
    columns:
      - Name: recordid
        Type: string
      - Name: arrayofobjectsfield
        Type: array<struct<filename:string,timestamp:string>>
      - Name: objectfield
        Type: struct<filename:string,timestamp:string>
  pytest_flat_table:
    columns:
      - Name: recordid
        Type: string
      - Name: stringfield
        Type: string
      - Name: intfield
        Type: int
"""


@pytest.fixture(scope="module")
def registry():
    return DatasetRegistry.from_yaml(REGISTRY_YAML)


@pytest.fixture(scope="module")
def lake(tmp_path_factory, spark, registry):
    """Write the pytest_nested_table fixture rows as a partitioned NDJSON
    lake (3 records, 2 day-partitions — FIXTURES.md §2)."""
    root = tmp_path_factory.mktemp("jsonlake")
    rows = [
        ("one", [("one", "one")], ("one", "one"), "exampleassessment", "2022", "09", "01"),
        ("two", [("two", "two")], ("two", "two"), "exampleassessment", "2022", "09", "01"),
        ("three", [("three", "three")], ("three", "three"), "exampleassessment", "2022", "09", "02"),
    ]
    schema = (
        "recordid string, "
        "arrayofobjectsfield array<struct<filename:string,timestamp:string>>, "
        "objectfield struct<filename:string,timestamp:string>, "
        "assessmentid string, year string, month string, day string"
    )
    df = spark.createDataFrame(rows, schema)
    write_ndjson_dataset(df, str(root), "pytest_nested_table")
    return str(root)


def test_registry_schemas(spark, registry):
    # spark fixture needed: DataType.fromDDL parses via the active session
    ds = registry["pytest_nested_table"]
    sch = ds.data_schema()
    assert [f.name for f in sch.fields] == ["recordid", "arrayofobjectsfield", "objectfield"]
    assert isinstance(sch["arrayofobjectsfield"].dataType, T.ArrayType)
    assert ds.partition_cols == ["assessmentid", "year", "month", "day"]
    assert "pytest_flat_table" in registry and "nope" not in registry


def test_read_json_dataset_partition_cols(spark, registry, lake):
    df = read_json_dataset(spark, lake, registry["pytest_nested_table"])
    assert df.columns == [
        "recordid", "arrayofobjectsfield", "objectfield",
        "assessmentid", "year", "month", "day",
    ]
    # partition values come from the layout, typed per catalog (string)
    assert dict(df.dtypes)["year"] == "string"
    got = {(r["recordid"], r["day"]) for r in df.select("recordid", "day").collect()}
    assert got == {("one", "01"), ("two", "01"), ("three", "02")}


def test_conform_to_schema_casts_and_fills(spark):
    # resolveChoice(match_catalog) semantics: declared types win; missing
    # struct fields become NULL; undeclared columns drop.
    df = spark.createDataFrame(
        [(1, 2, {"a": "7"}, [{"x": 1}])],
        "recordid int, extra int, s struct<a:string>, arr array<struct<x:int>>",
    )
    declared = T.StructType.fromDDL(
        "recordid string, s struct<a:int,b:string>, arr array<struct<x:double>>, missing string"
    )
    out = conform_to_schema(df, declared)
    assert out.columns == ["recordid", "s", "arr", "missing"]
    r = out.collect()[0]
    assert r["recordid"] == "1"
    assert r["s"]["a"] == 7 and r["s"]["b"] is None
    assert r["arr"][0]["x"] == 1.0
    assert r["missing"] is None


def _read_batch(spark, root, registry, name, tmp_path):
    return read_json_dataset(spark, root, registry[name])


def _read_stream_upsert(spark, root, registry, name, tmp_path):
    pq = str(tmp_path / "pq")
    stream_upsert_lake(spark, root, pq, name, registry, str(tmp_path / "ckpt"))
    return spark.read.parquet(f"{pq}/{name}")


@pytest.mark.parametrize(
    "read",
    [_read_batch, _read_stream_upsert],
    ids=["read_json_dataset", "stream_upsert_lake"],
)
def test_choice_type_coercion(spark, registry, tmp_path, read):
    # resolveChoice(match_catalog) fidelity: files disagree on leaf types
    # (string "7" / double 9.0 / int 9 for a declared int; a number for a
    # declared string) — every variant coerces, none NULLs, and the batch
    # and stream readers agree.
    import json as _json
    import os

    root = str(tmp_path / "lake")
    d = os.path.join(
        root, "dataset=pytest_flat_table", "assessmentid=a1",
        "year=2022", "month=09", "day=01",
    )
    os.makedirs(d)
    with open(os.path.join(d, "r.ndjson"), "w") as f:
        f.write(_json.dumps({"recordid": "r1", "stringfield": 12, "intfield": "7"}) + "\n")
        f.write(_json.dumps({"recordid": "r2", "stringfield": "s", "intfield": 9.0}) + "\n")
        f.write(_json.dumps({"recordid": "r3", "stringfield": "t", "intfield": 9}) + "\n")
    df = read(spark, root, registry, "pytest_flat_table", tmp_path)
    got = {r["recordid"]: r for r in df.collect()}
    assert got["r1"]["intfield"] == 7  # string "7" → int
    assert got["r1"]["stringfield"] == "12"  # number → declared string
    assert got["r2"]["intfield"] == 9  # double 9.0 → int
    assert got["r3"]["intfield"] == 9


def test_json_to_parquet_end_to_end(spark, registry, lake, tmp_path):
    pq = str(tmp_path / "parquet")
    written = run_json_to_parquet(spark, lake, pq, "pytest_nested_table", registry)
    assert set(written) == {
        "pytest_nested_table",
        "pytest_nested_table_arrayofobjectsfield",
    }

    root = spark.read.parquet(written["pytest_nested_table"])
    assert set(root.columns) == {
        "recordid", "arrayofobjectsfield",
        "objectfield_filename", "objectfield_timestamp",
        "assessmentid", "year", "month", "day",
    }
    assert root.count() == 3

    # golden child-table check (reference test_json_s3_to_parquet.py:387-425)
    child = spark.read.parquet(written["pytest_nested_table_arrayofobjectsfield"])
    assert set(child.columns) == {
        "id", "index", "filename", "timestamp",
        "assessmentid", "year", "month", "day", "recordid",
    }
    got = {r["recordid"]: r for r in child.collect()}
    for rid, day in [("one", "01"), ("two", "01"), ("three", "02")]:
        assert got[rid]["filename"] == rid
        assert got[rid]["index"] == 0
        assert got[rid]["day"] == day

    # surrogate ids join root→child with no fan-out
    joined = root.select("recordid", F.col("arrayofobjectsfield").alias("id")).join(
        child.select("id", "filename"), "id", "inner"
    )
    assert joined.count() == 3


def test_partition_pruning_on_lake(spark, registry, lake, tmp_path):
    # P7: a day-filtered read of the written parquet lake must prune at the
    # source — PartitionFilters non-empty, not a full-scan + post-filter.
    pq = str(tmp_path / "parquet")
    written = run_json_to_parquet(spark, lake, pq, "pytest_nested_table", registry)
    df = spark.read.parquet(written["pytest_nested_table"]).where(
        (F.col("year") == "2022") & (F.col("month") == "09") & (F.col("day") == "02")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the filter must actually reference the partition columns
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1)
    assert df.count() == 1 and df.collect()[0]["recordid"] == "three"


def test_wide_ids_through_pipeline(spark, registry, lake, tmp_path):
    pq = str(tmp_path / "pq_wide")
    written = run_json_to_parquet(
        spark, lake, pq, "pytest_nested_table", registry, wide_ids=True
    )
    root = spark.read.parquet(written["pytest_nested_table"])
    child = spark.read.parquet(written["pytest_nested_table_arrayofobjectsfield"])
    assert dict(root.dtypes)["arrayofobjectsfield"] == "string"
    assert dict(child.dtypes)["id"] == "string"
    joined = root.select(F.col("arrayofobjectsfield").alias("id")).join(child, "id")
    assert joined.count() == 3


def test_registry_from_yaml_path(spark, tmp_path):
    p = tmp_path / "reg.yaml"
    p.write_text(REGISTRY_YAML)
    reg = DatasetRegistry.from_yaml(str(p))
    assert "pytest_nested_table" in reg
    assert reg.names() == ["pytest_flat_table", "pytest_nested_table"]


def test_flat_table_written_directly(spark, registry, tmp_path):
    root = str(tmp_path / "jsonlake2")
    df = spark.createDataFrame(
        [("r1", "s", 1, "a1", "2022", "01", "02")],
        "recordid string, stringfield string, intfield int, "
        "assessmentid string, year string, month string, day string",
    )
    write_ndjson_dataset(df, root, "pytest_flat_table")
    pq = str(tmp_path / "pq2")
    written = run_json_to_parquet(spark, root, pq, "pytest_flat_table", registry)
    assert set(written) == {"pytest_flat_table"}
    back = spark.read.parquet(written["pytest_flat_table"])
    assert back.count() == 1 and back.collect()[0]["intfield"] == 1
