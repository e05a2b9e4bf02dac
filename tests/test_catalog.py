"""register_lake_views: the whole-lake SQL surface — every table directory
becomes a queryable view, reserved/non-table dirs are skipped, bad names
raise."""

from __future__ import annotations

import os

import pytest

from bridgedownstream_spark.pipeline import (
    DatasetRegistry,
    register_lake_views,
    run_json_to_parquet,
)
from bridgedownstream_spark.sources import write_ndjson_dataset

REG = DatasetRegistry(
    {
        "tables": {
            "ds_v1": {
                "columns": [
                    {"Name": "recordid", "Type": "string"},
                    {"Name": "items", "Type": "array<struct<v:int>>"},
                ]
            }
        }
    }
)


def test_register_lake_views_sql_join(spark, tmp_path):
    json_root, pq = str(tmp_path / "j"), str(tmp_path / "p")
    df = spark.createDataFrame(
        [("r1", [(1,), (2,)], "a1", "2022", "09", "01"),
         ("r2", [(3,)], "a1", "2022", "09", "02")],
        "recordid string, items array<struct<v:int>>, "
        "assessmentid string, year string, month string, day string",
    )
    write_ndjson_dataset(df, json_root, "ds_v1")
    run_json_to_parquet(spark, json_root, pq, "ds_v1", REG)
    # non-table residue that must be skipped silently
    os.makedirs(os.path.join(pq, "archive", "ds_v1_1"))
    os.makedirs(os.path.join(pq, "empty_table"))

    views = register_lake_views(spark, pq, prefix="lake_")
    assert views == ["lake_ds_v1", "lake_ds_v1_items"]

    # the reference user's SQL ships unchanged: root ⋈ child on the
    # surrogate id/index contract
    got = spark.sql(
        """
        SELECT r.recordid, count(c.`index`) AS n_items
        FROM lake_ds_v1 r JOIN lake_ds_v1_items c ON c.id = r.items
        GROUP BY 1 ORDER BY 1
        """
    ).collect()
    assert [(r.recordid, r.n_items) for r in got] == [("r1", 2), ("r2", 1)]


def test_register_lake_views_rejects_bad_names(spark, tmp_path):
    pq = str(tmp_path / "p")
    os.makedirs(os.path.join(pq, "bad-name"))
    with pytest.raises(ValueError, match="bad-name"):
        register_lake_views(spark, pq)


def test_views_survive_partition_overwrite(spark, tmp_path):
    """The views must re-resolve files per query: a dynamic partition
    overwrite (the upsert/compaction write path) after registration must
    be visible, not a FILE_NOT_EXIST crash from a pinned listing."""
    pq = str(tmp_path / "p")
    spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS part").write.partitionBy(
        "part"
    ).parquet(os.path.join(pq, "t1"))
    [view] = register_lake_views(spark, pq)
    assert spark.sql(f"SELECT count(*) AS n FROM {view}").collect()[0].n == 6
    spark.range(10).selectExpr("id + 100 AS id", "'0' AS part").write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy("part").parquet(
        os.path.join(pq, "t1")
    )
    # 10 rewritten rows in part=0 plus the 3 untouched rows of part=1
    assert spark.sql(f"SELECT count(*) AS n FROM {view}").collect()[0].n == 13


def test_hidden_dirs_are_skipped_not_registered(spark, tmp_path):
    """Crashed-write residue (_temporary, .staging) is silently skipped —
    neither registered as a garbage view nor a registration-aborting
    error."""
    pq = str(tmp_path / "p")
    spark.range(3).write.parquet(os.path.join(pq, "good"))
    os.makedirs(os.path.join(pq, "_temporary", "0"))
    os.makedirs(os.path.join(pq, ".staging-x"))
    assert register_lake_views(spark, pq) == ["good"]
