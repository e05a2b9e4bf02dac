"""The shared Hive partition-path format, and the maintenance sinks that
use it leaving the session's conf alone."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from bridgedownstream_spark.pipeline.compact import compact_dataset
from bridgedownstream_spark.pipeline.partitions import (
    HIVE_DEFAULT,
    parse_partition,
    partition_dir,
    partition_key,
    read_partitioned,
)
from bridgedownstream_spark.pipeline.rollup import refresh_rollup
from bridgedownstream_spark.pipeline.upsert import upsert_dataset


def test_partition_dir_and_parse_are_inverse():
    cols = ["assessmentid", "year", "day"]
    spec = {"assessmentid": "flanker", "year": "2022", "day": None}
    key = partition_dir(spec, cols)
    assert key == f"assessmentid=flanker/year=2022/day={HIVE_DEFAULT}"
    assert parse_partition(key) == spec
    # "" is the default partition too, as Spark writes it
    assert partition_dir({"assessmentid": "", "year": "2022", "day": "01"}, cols) == (
        f"assessmentid={HIVE_DEFAULT}/year=2022/day=01"
    )
    assert partition_dir({}, []) == "" and parse_partition("") == {}


@pytest.mark.parametrize("value", ["a/b", "a=b", "d:2", "50%", 7])
def test_partition_dir_rejects_values_that_do_not_round_trip(value):
    with pytest.raises(ValueError, match="round-trip.*path-safe"):
        partition_dir({"day": value}, ["day"])


def test_partition_key_matches_partition_dir(spark):
    rows = [("a", "1"), (None, "2"), ("", None), ("a b.c-d_e", "3")]
    df = spark.createDataFrame(rows, "p string, q string")
    got = [r[0] for r in df.select(partition_key(["p", "q"])).collect()]
    assert got == [partition_dir({"p": p, "q": q}, ["p", "q"]) for p, q in rows]


def test_read_partitioned_keeps_string_values_under_inference(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "01"), (2, "10")], "id long, day string")
    df.write.partitionBy("day").parquet(path)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert dict(spark.read.parquet(path).dtypes)["day"] == "int"
        df = read_partitioned(spark, path, ["day"])
        assert sorted(r["day"] for r in df.collect()) == ["01", "10"]
    finally:
        spark.conf.set(key, prev)


def test_maintenance_sinks_set_no_session_conf(spark, tmp_path, monkeypatch):
    """Upsert (merge path), compaction and rollup refresh run their
    dynamic overwrites through a writer option: none of them sets a
    session conf, so concurrent jobs on the same session never see one
    flip."""
    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")
    rows = spark.createDataFrame(
        [(f"r{i}", i % 3, float(i), f"d{i % 2}") for i in range(12)],
        "recordid string, grp int, value double, day string",
    )
    for _ in range(3):
        rows.coalesce(1).write.mode("append").partitionBy("day").parquet(lake)
    aggs = [F.count("*").cast("bigint").alias("n"), F.sum("value").alias("total")]
    assert refresh_rollup(spark, lake, roll, ["grp"], aggs, ["day"]) == 2

    keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    assert compact_dataset(spark, lake, ["day"], target_file_bytes=1 << 30) == {
        "day=d0": 1,
        "day=d1": 1,
    }
    update = spark.createDataFrame(
        [("r0", 0, 100.0, "d0")], "recordid string, grp int, value double, day string"
    )
    assert upsert_dataset(spark, lake, update, ["recordid"], ["day"]) == {"day=d0"}
    assert (
        refresh_rollup(
            spark, lake, roll, ["grp"], aggs, ["day"],
            refresh_partitions=[{"day": "d0"}],
        )
        == 1
    )
    assert keys == []
    monkeypatch.undo()
    got = {
        (r["day"], r["grp"]): (r["n"], r["total"])
        for r in spark.read.parquet(roll).collect()
    }
    # r0's three copies became one row with value 100; day d1 is untouched
    assert got[("d0", 0)] == (4, 100.0 + 3 * 6.0)
    assert got[("d1", 1)] == (6, 3 * (1.0 + 7.0))


def test_pipeline_lake_query_sets_no_session_conf(spark, tmp_path, monkeypatch):
    """A pipeline query reads its lake table with string partition values
    through an explicit schema: building ``pipeline_e2e_root`` with its
    fixture warm leaves the partition-type-inference conf of the session
    it is handed alone, even when that session infers."""
    import datetime
    import shutil

    from bridgedownstream_spark.queries import pipeline_q

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (20, "F", "1-URGENT", datetime.date(1995, 3, 1)),
            (40, "O", "2-HIGH", datetime.date(1996, 1, 2)),
        ],
        "o_orderkey bigint, o_orderstatus string, o_orderpriority string, "
        "o_orderdate date",
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(20, 1, 7, 3.0), (40, 1, 8, 4.0), (40, 2, 9, 5.0)],
        "l_orderkey bigint, l_linenumber int, l_partkey bigint, l_quantity double",
    ).write.parquet(f"{sf}/lineitem.parquet")
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    base = pipeline_q._build_lake(spark, sf)["__base__"]  # warm the fixture
    keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, k, value):
        keys.append(k)
        return real_set(self, k, value)

    try:
        monkeypatch.setattr(RuntimeConfig, "set", recording_set)
        root = pipeline_q.pipeline_e2e_root(spark, sf)
        rows = root.select("recordid", "year", "month").collect()
        monkeypatch.undo()
        assert key not in keys
        assert spark.conf.get(key) == "true"
        assert sorted(tuple(r) for r in rows) == [("20", "1995", "01"), ("40", "1996", "01")]
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)
        shutil.rmtree(base, ignore_errors=True)
