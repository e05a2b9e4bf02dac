"""Golden tests for the relationalize operator.

Mirrors the reference's golden-output test
(/root/reference/tests/test_json_s3_to_parquet.py:387-425) on the
pytest_nested_table fixture (FIXTURES.md §2), plus deeper shapes from the
real dataset schemas (sharedSchema_v1-style nested arrays, WeatherResult-style
deep structs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bridgedownstream_spark.operators import has_nested_fields, relationalize

NESTED_SCHEMA = T.StructType(
    [
        T.StructField("recordid", T.StringType()),
        T.StructField(
            "arrayofobjectsfield",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("filename", T.StringType()),
                        T.StructField("timestamp", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "objectfield",
            T.StructType(
                [
                    T.StructField("filename", T.StringType()),
                    T.StructField("timestamp", T.StringType()),
                ]
            ),
        ),
        T.StructField("assessmentid", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("month", T.StringType()),
        T.StructField("day", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def nested_df(spark):
    rows = [
        ("one", [("one", "one")], ("one", "one"), "exampleassessment", "2022", "09", "01"),
        ("two", [("two", "two")], ("two", "two"), "exampleassessment", "2022", "09", "01"),
        ("three", [("three", "three")], ("three", "three"), "exampleassessment", "2022", "09", "02"),
    ]
    return spark.createDataFrame(rows, NESTED_SCHEMA)


def test_has_nested_fields(spark, nested_df):
    assert has_nested_fields(nested_df.schema)
    flat = spark.createDataFrame([Row(recordid="one")])
    assert not has_nested_fields(flat.schema)


def test_root_table_shape(nested_df):
    tables = relationalize(nested_df, "pytest_nested_table")
    root = tables["pytest_nested_table"]
    # struct flattened, array replaced by surrogate key column of same name
    assert set(root.columns) == {
        "recordid",
        "arrayofobjectsfield",
        "objectfield_filename",
        "objectfield_timestamp",
        "assessmentid",
        "year",
        "month",
        "day",
    }
    assert root.count() == 3
    assert dict(root.dtypes)["arrayofobjectsfield"] == "bigint"


def test_child_table_shape_and_values(nested_df):
    tables = relationalize(nested_df, "pytest_nested_table")
    child = tables["pytest_nested_table_arrayofobjectsfield"]
    # exact golden column order (reference tests/test_json_s3_to_parquet.py:387-403)
    assert child.columns == [
        "id",
        "index",
        "filename",
        "timestamp",
        "assessmentid",
        "year",
        "month",
        "day",
        "recordid",
    ]
    got = {r["recordid"]: r for r in child.collect()}
    assert set(got) == {"one", "two", "three"}
    for rid, day in [("one", "01"), ("two", "01"), ("three", "02")]:
        r = got[rid]
        assert r["filename"] == rid and r["timestamp"] == rid
        assert r["index"] == 0
        assert r["day"] == day
        assert r["assessmentid"] == "exampleassessment"


def test_surrogate_key_joins_back(nested_df):
    tables = relationalize(nested_df, "pytest_nested_table")
    root = tables["pytest_nested_table"]
    child = tables["pytest_nested_table_arrayofobjectsfield"]
    joined = root.select(
        "recordid", root["arrayofobjectsfield"].alias("id")
    ).join(child.select("id", "filename"), "id", "inner")
    assert {(r["recordid"], r["filename"]) for r in joined.collect()} == {
        ("one", "one"),
        ("two", "two"),
        ("three", "three"),
    }


def test_surrogate_key_deterministic(nested_df):
    t1 = relationalize(nested_df, "t")["t_arrayofobjectsfield"]
    t2 = relationalize(nested_df, "t")["t_arrayofobjectsfield"]
    assert sorted(r["id"] for r in t1.collect()) == sorted(
        r["id"] for r in t2.collect()
    )


def test_scalar_array_child(spark):
    df = spark.createDataFrame(
        [("r1", ["a", "b"]), ("r2", ["c"])], "recordid string, taskstatus array<string>"
    )
    tables = relationalize(df, "shared", key_cols=("recordid",))
    child = tables["shared_taskstatus"]
    # scalar array → {field}_val column (reference json_s3_to_parquet.py:166-169)
    assert child.columns == ["id", "index", "taskstatus_val", "recordid"]
    rows = {(r["recordid"], r["index"], r["taskstatus_val"]) for r in child.collect()}
    assert rows == {("r1", 0, "a"), ("r1", 1, "b"), ("r2", 0, "c")}


def test_nested_array_in_array(spark):
    # sharedSchema_v1 userinteractions shape: array<struct<controlEvent:array<string>,...>>
    schema = (
        "recordid string, "
        "userinteractions array<struct<controlEvent:array<string>, stepIdentifier:string>>"
    )
    df = spark.createDataFrame(
        [
            ("r1", [ (["tap", "swipe"], "s1"), ([], "s2") ]),
            ("r2", [ (["hold"], "s3") ]),
        ],
        schema,
    )
    tables = relationalize(df, "shared", key_cols=("recordid",))
    assert set(tables) == {
        "shared",
        "shared_userinteractions",
        "shared_userinteractions_controlEvent",
    }
    child = tables["shared_userinteractions"]
    assert dict(child.dtypes)["controlEvent"] == "bigint"
    grand = tables["shared_userinteractions_controlEvent"]
    assert grand.columns == ["id", "index", "controlEvent_val", "recordid"]
    rows = {(r["recordid"], r["index"], r["controlEvent_val"]) for r in grand.collect()}
    assert rows == {("r1", 0, "tap"), ("r1", 1, "swipe"), ("r2", 0, "hold")}
    # grandchild ids must join back to the child's surrogate column
    link = grand.select("id").distinct().join(
        child.select(child["controlEvent"].alias("id")).distinct(), "id", "inner"
    )
    assert link.count() == 2  # r1/s1 and r2/s3 (s2's empty array has an id but no rows)


def test_deep_struct_flattening(spark):
    # WeatherResult_v1 shape (FIXTURES.md §6): nested structs, no arrays
    schema = (
        "recordid string, "
        "weather struct<temperature:double, wind:struct<speed:double,gust:double>>"
    )
    df = spark.createDataFrame([("r1", (21.5, (3.2, 7.7)))], schema)
    tables = relationalize(df, "weatherresult_v1", key_cols=("recordid",))
    assert set(tables) == {"weatherresult_v1"}
    root = tables["weatherresult_v1"]
    assert set(root.columns) == {
        "recordid",
        "weather_temperature",
        "weather_wind_speed",
        "weather_wind_gust",
    }
    r = root.collect()[0]
    assert r["weather_wind_speed"] == 3.2


def test_duplicate_name_guard(spark):
    # element field collides with an inherited key column → path-qualified name
    schema = "recordid string, files array<struct<recordid:string, name:string>>"
    df = spark.createDataFrame([("r1", [("inner", "f1")])], schema)
    child = relationalize(df, "t", key_cols=("recordid",))["t_files"]
    assert "files_recordid" in child.columns and "recordid" in child.columns
    r = child.collect()[0]
    assert r["files_recordid"] == "inner" and r["recordid"] == "r1"


def test_duplicate_key_parents_no_fanout(spark):
    # ADVICE r1: two parents sharing key columns (pre-dedup duplicate export)
    # must not share a surrogate id, or the root→child join fans out.
    df = spark.createDataFrame(
        [
            ("r1", "a", [("f1",), ("f2",)]),
            ("r1", "b", [("f1",), ("f2",)]),  # same recordid, same array
            ("r2", "c", [("f3",)]),
        ],
        "recordid string, other string, files array<struct<name:string>>",
    )
    tables = relationalize(df, "t", key_cols=("recordid",), unique_keys=False)
    root, child = tables["t"], tables["t_files"]
    assert root.count() == 3  # salting must not drop rows
    ids = [r["files"] for r in root.collect()]
    assert len(set(ids)) == 3  # row-unique ids despite duplicate keys
    joined = root.select(F.col("files").alias("id")).join(child, "id", "inner")
    # each of the 3 parent rows joins to exactly its own elements: 2+2+1
    assert joined.count() == 5


def test_unique_keys_id_is_row_unique_and_stable(spark):
    df = spark.createDataFrame(
        [("r1", [("x",)]), ("r2", [("x",)])],  # identical arrays, distinct keys
        "recordid string, files array<struct<name:string>>",
    )
    t1 = relationalize(df, "t", key_cols=("recordid",))["t_files"]
    ids = {r["recordid"]: r["id"] for r in t1.collect()}
    assert ids["r1"] != ids["r2"]


def test_wide_ids(spark):
    df = spark.createDataFrame(
        [("r1", [("x",)])], "recordid string, files array<struct<name:string>>"
    )
    tables = relationalize(df, "t", key_cols=("recordid",), wide_ids=True)
    assert dict(tables["t"].dtypes)["files"] == "string"
    rid = tables["t_files"].collect()[0]["id"]
    assert len(rid) == 32  # md5 hex


def test_child_name_collision_raises(spark):
    # top-level array `a_b` and nested array `b` inside array `a` both
    # flatten to table key t_a_b — must raise, not silently overwrite.
    schema = (
        "recordid string, "
        "a_b array<struct<x:string>>, "
        "a array<struct<b:array<struct<y:string>>>>"
    )
    df = spark.createDataFrame([("r1", [("v",)], [([("w",)],)])], schema)
    with pytest.raises(ValueError, match="collision"):
        relationalize(df, "t", key_cols=("recordid",))


def test_null_array_handling(spark):
    df = spark.createDataFrame(
        [("r1", [("a",)]), ("r2", None)],
        "recordid string, files array<struct<name:string>>",
    )
    tables = relationalize(df, "t", key_cols=("recordid",))
    root = tables["t"].collect()
    by_rid = {r["recordid"]: r["files"] for r in root}
    assert by_rid["r2"] is None and by_rid["r1"] is not None
    assert tables["t_files"].count() == 1


def test_flat_keyless_frame_is_returned_unsalted(spark):
    """A frame with no nested field has nothing to link: it comes back as
    the one root table, with no row-salt window in its plan (the analyzed
    plan: the optimizer would prune a dropped salt's window anyway)."""
    flat = spark.createDataFrame([("a", 1), ("b", 2)], "name string, n int")
    tables = relationalize(flat, "flat")
    assert list(tables) == ["flat"]
    assert tables["flat"].columns == ["name", "n"]
    plan = tables["flat"]._jdf.queryExecution().analyzed().toString()
    assert "Window" not in plan, plan
    assert sorted(tables["flat"].collect()) == sorted(flat.collect())
