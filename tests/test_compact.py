"""Small-file compaction: fragmented partitions collapse to the target
file count, healthy partitions are left byte-identical, and no row is
lost or duplicated."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.compact import (
    compact_dataset,
    partition_file_stats,
)

SF = "/root/testdata/sf0.001"


def _files_per_partition(path):
    out = {}
    for f in glob.glob(os.path.join(path, "*", "*.parquet")):
        out.setdefault(os.path.basename(os.path.dirname(f)), []).append(f)
    return {k: sorted(v) for k, v in out.items()}


def test_compact_fragmented_partitions(spark, tmp_path):
    table = str(tmp_path / "events_lake")
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "value", "event_type"
    )
    # fragment: 12 appends → 12 slivers per partition
    for _ in range(12):
        ev.limit(200).write.mode("append").partitionBy("event_type").parquet(table)

    before = _files_per_partition(table)
    assert all(len(v) >= 12 for v in before.values())
    expect = spark.read.parquet(table)
    expect_sum = expect.agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    ).first()

    done = compact_dataset(
        spark, table, ["event_type"], target_file_bytes=1 << 30
    )
    assert done  # every partition was fragmented
    after = _files_per_partition(table)
    assert set(after) == set(before)
    for part, files in after.items():
        assert len(files) == 1, (part, files)  # 1 GB target ⇒ single file

    # no rows lost, none duplicated
    got = spark.read.parquet(table).agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    ).first()
    assert (got["n"], got["s"]) == (expect_sum["n"], expect_sum["s"])

    # second pass: nothing fragmented anymore → no-op
    assert compact_dataset(spark, table, ["event_type"], 1 << 30) == {}


def test_compact_leaves_healthy_partitions_alone(spark, tmp_path):
    table = str(tmp_path / "mixed_lake")
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "value", "event_type"
    )
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    healthy_t, frag_t = types[0], types[1]
    healthy = ev.where(F.col("event_type") == healthy_t).coalesce(1)
    healthy.write.partitionBy("event_type").parquet(table)
    frag = ev.where(F.col("event_type") == frag_t)
    for _ in range(5):
        frag.limit(100).write.mode("append").partitionBy("event_type").parquet(table)

    before = _files_per_partition(table)
    healthy_files = before[f"event_type={healthy_t}"]
    done = compact_dataset(spark, table, ["event_type"], target_file_bytes=1 << 30)
    assert list(done) and all(frag_t in p for p in done)
    after = _files_per_partition(table)
    # healthy partition: same files, untouched mtimes
    assert after[f"event_type={healthy_t}"] == healthy_files
    assert len(after[f"event_type={frag_t}"]) == 1


def test_partition_file_stats_counts(spark, tmp_path):
    table = str(tmp_path / "stats_lake")
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "event_type")
    for _ in range(3):
        ev.limit(50).write.mode("append").partitionBy("event_type").parquet(table)
    stats = {
        r["partition"]: r["n_files"]
        for r in partition_file_stats(spark, table).collect()
    }
    real = _files_per_partition(table)
    assert stats == {k: len(v) for k, v in real.items()}


def test_compact_null_partition(spark, tmp_path):
    """A fragmented NULL partition (``__HIVE_DEFAULT_PARTITION__``) is
    selected and rewritten like any other, keeping its rows; the result
    names only partitions that were rewritten, so a selected partition
    holding only empty files is left out of it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "null_lake")
    rows = spark.createDataFrame(
        [(i, None if i % 2 else "x") for i in range(40)], "id long, day string"
    )
    for _ in range(4):
        rows.coalesce(1).write.mode("append").partitionBy("day").parquet(table)
    empty = os.path.join(table, "day=e")
    os.makedirs(empty)
    for i in range(3):
        pq.write_table(
            pa.table({"id": pa.array([], pa.int64())}),
            os.path.join(empty, f"part-{i}.parquet"),
        )
    null_dir = "day=__HIVE_DEFAULT_PARTITION__"
    assert {k: len(v) for k, v in _files_per_partition(table).items()} == {
        null_dir: 4, "day=x": 4, "day=e": 3
    }

    def null_stats():
        return (
            spark.read.parquet(table)
            .where(F.col("day").isNull())
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            .first()
        )

    expect = null_stats()
    assert expect["n"] == 80

    done = compact_dataset(spark, table, ["day"], target_file_bytes=1 << 30)
    assert done == {null_dir: 1, "day=x": 1}
    assert {k: len(v) for k, v in _files_per_partition(table).items()} == {
        null_dir: 1, "day=x": 1, "day=e": 3
    }
    assert null_stats() == expect
    assert spark.read.parquet(table).count() == 160


def test_compact_rejects_partition_dirs_that_do_not_round_trip(spark, tmp_path):
    """A selected partition whose directory name is not the one its value
    names (Spark %-escaped it) raises before any write, as upsert does."""
    import pytest

    table = str(tmp_path / "escaped_lake")
    rows = spark.createDataFrame([(1, "d:2"), (2, "d:2")], "id long, day string")
    for _ in range(4):
        rows.coalesce(1).write.mode("append").partitionBy("day").parquet(table)
    before = _files_per_partition(table)
    assert list(before) == ["day=d%3A2"]
    with pytest.raises(ValueError, match="round-trip"):
        compact_dataset(spark, table, ["day"], target_file_bytes=1 << 30)
    assert _files_per_partition(table) == before


def test_compact_unpartitioned_table(spark, tmp_path):
    """An unpartitioned table is one partition, "": four single-file
    appends compact to one file with every row kept."""
    import pytest

    table = str(tmp_path / "flat_lake")
    rows = spark.createDataFrame([(i, i * 10) for i in range(40)], "id long, v long")
    for _ in range(4):
        rows.coalesce(1).write.mode("append").parquet(table)

    def parquet_files():
        return sorted(glob.glob(os.path.join(table, "*.parquet")))

    assert len(parquet_files()) == 4
    stats = partition_file_stats(spark, table).collect()
    assert [(r["partition"], r["n_files"]) for r in stats] == [("", 4)]
    expect = spark.read.parquet(table).agg(F.count("*"), F.sum("v")).first()

    assert compact_dataset(spark, table, [], target_file_bytes=1 << 30) == {"": 1}
    assert len(parquet_files()) == 1
    assert spark.read.parquet(table).agg(F.count("*"), F.sum("v")).first() == expect
    assert compact_dataset(spark, table, [], target_file_bytes=1 << 30) == {}

    # a partitioned table named as unpartitioned does not round-trip
    parted = str(tmp_path / "parted_lake")
    for _ in range(4):
        rows.coalesce(1).write.mode("append").partitionBy("v").parquet(parted)
    with pytest.raises(ValueError, match="round-trip"):
        compact_dataset(spark, parted, [], target_file_bytes=1 << 30)
