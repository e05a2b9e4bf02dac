"""Incremental rollup refresh: only new partitions aggregate, re-refresh is
a no-op, late data replaces exactly its partition's rollup rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.rollup import refresh_rollup


def _write_day(spark, path, day, rows):
    df = spark.createDataFrame(
        [(rid, etype, val, day) for rid, etype, val in rows],
        "recordid string, event_type string, value double, day string",
    )
    df.write.mode("append").partitionBy("day").parquet(path)


def _rollup(spark, lake, roll, refresh_partitions=None):
    return refresh_rollup(
        spark,
        lake,
        roll,
        group_cols=["event_type"],
        aggs=[
            F.count("*").cast("bigint").alias("n"),
            F.sum("value").alias("total"),
        ],
        partition_cols=["day"],
        refresh_partitions=refresh_partitions,
    )


def _read(spark, roll):
    return {
        (r["day"], r["event_type"]): (r["n"], r["total"])
        for r in spark.read.parquet(roll).collect()
    }


def test_incremental_refresh(spark, tmp_path):
    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")
    _write_day(spark, lake, "01", [("r1", "a", 1.0), ("r2", "a", 2.0), ("r3", "b", 4.0)])

    assert _rollup(spark, lake, roll) == 1
    assert _read(spark, roll) == {("01", "a"): (2, 3.0), ("01", "b"): (1, 4.0)}

    # nothing new: refresh must be a no-op (0 partitions)
    assert _rollup(spark, lake, roll) == 0

    # a new day lands: ONLY it aggregates; day 01's rows are untouched
    _write_day(spark, lake, "02", [("r4", "a", 10.0)])
    assert _rollup(spark, lake, roll) == 1
    assert _read(spark, roll) == {
        ("01", "a"): (2, 3.0),
        ("01", "b"): (1, 4.0),
        ("02", "a"): (1, 10.0),
    }


def test_late_data_re_refresh(spark, tmp_path):
    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")
    _write_day(spark, lake, "01", [("r1", "a", 1.0)])
    _write_day(spark, lake, "02", [("r2", "a", 2.0)])
    assert _rollup(spark, lake, roll) == 2

    # late row lands in the already-rolled day 01; a plain refresh skips it
    _write_day(spark, lake, "01", [("r9", "a", 100.0)])
    assert _rollup(spark, lake, roll) == 0
    assert _read(spark, roll)[("01", "a")] == (1, 1.0)

    # explicit re-refresh recomputes day 01 only, replacing its rows
    assert _rollup(spark, lake, roll, refresh_partitions=[{"day": "01"}]) == 1
    assert _read(spark, roll) == {
        ("01", "a"): (2, 101.0),
        ("02", "a"): (1, 2.0),
    }


def test_refresh_pins_partition_inference(spark, tmp_path):
    """ADVICE r3: on a session with partition-type inference ENABLED, a
    numeric-looking partition (day=01 collects as int) must not make the
    stale-partition detector misclassify every touched partition as
    vanished (deleting + recomputing its rollup each refresh).
    refresh_rollup pins string values internally, so the string spec
    matches and no rollup directory is dropped."""
    import os

    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")
    _write_day(spark, lake, "01", [("r1", "a", 1.0)])
    assert _rollup(spark, lake, roll) == 1

    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        # re-refresh day 01 on the "foreign" session: it must be treated
        # as live (recomputed in place), never as vanished (dir deleted)
        assert _rollup(spark, lake, roll, refresh_partitions=[{"day": "01"}]) == 1
        assert spark.conf.get(key) == "true"  # caller's setting restored
    finally:
        spark.conf.set(key, prev)
    assert os.path.isdir(os.path.join(roll, "day=01"))
    assert _read(spark, roll)[("01", "a")] == (1, 1.0)


def test_drop_rollup_partition_rejects_unsafe_values(spark, tmp_path):
    """ADVICE r3: a refresh_partitions value that would not round-trip to
    a directory name (contains '/') must raise, not delete a parent or
    sibling path."""
    import pytest

    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")
    _write_day(spark, lake, "01", [("r1", "a", 1.0)])
    assert _rollup(spark, lake, roll) == 1
    with pytest.raises(ValueError, match="round-trip"):
        # value names a partition ABSENT from the source, so the vanished-
        # partition path (the FS delete) is what receives it
        _rollup(spark, lake, roll, refresh_partitions=[{"day": "../lake"}])
    assert _read(spark, roll)[("01", "a")] == (1, 1.0)  # nothing deleted


def test_null_partition_rolls_up_once(spark, tmp_path):
    """A NULL partition value (the __HIVE_DEFAULT_PARTITION__ directory)
    is diffed like any other partition: aggregated on the first refresh,
    present afterwards, and re-refreshed when named as None."""
    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")
    _write_day(spark, lake, None, [("r1", "a", 1.0), ("r2", "a", 2.0)])
    _write_day(spark, lake, "01", [("r3", "b", 4.0)])
    assert _rollup(spark, lake, roll) == 2
    assert _read(spark, roll) == {(None, "a"): (2, 3.0), ("01", "b"): (1, 4.0)}
    assert _rollup(spark, lake, roll) == 0

    _write_day(spark, lake, None, [("r9", "a", 10.0)])
    assert _rollup(spark, lake, roll, refresh_partitions=[{"day": None}]) == 1
    assert _read(spark, roll) == {(None, "a"): (3, 13.0), ("01", "b"): (1, 4.0)}
