"""Incrementally-refreshed rollups (continuous aggregates) over the lake.

The reference's reporting queries re-aggregate the lake on every run
(count-reconciliation etl-245/main.py:55-57 rescans each dataset hourly).
That is O(lake) per refresh; at 100 TB the only sustainable shape is a
materialized rollup maintained incrementally: aggregate ONLY partitions
that are not yet in the rollup, write their pre-aggregated rows, and let
readers aggregate the (tiny) rollup instead of the lake.

This is the Timescale continuous-aggregate / Druid rollup pattern on
plain parquet:

- the refresh unit is the Hive partition (the lake's natural append
  grain: a day lands, a day is rolled up);
- the refresh plan is a driver-side difference of the two sides'
  partition directory names (:mod:`pipeline.partitions`), each from one
  metadata-only scan of partition values (Spark never opens a data file
  for them). Both sides are read with string partition values through an
  explicit schema, so ``day=01`` names its directory on any session, and
  the NULL partition compares like any other;
- late rows landing in an ALREADY-ROLLED partition are handled by
  explicit re-refresh (``refresh_partitions``) which recomputes just
  those partitions;
- every refresh is one dynamic partition overwrite, set as a writer
  option: new partitions are added, named ones replaced, and the
  session's conf is never touched — same contract as the upsert sink.

Readers then run `SELECT ... FROM rollup GROUP BY ...` — an aggregation
over pre-aggregated per-partition rows, exact for algebraic aggregates
(count/sum/min/max, and avg as sum+count).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.fsutil import delete_path, has_data_files
from bridgedownstream_spark.pipeline.partitions import (
    partition_dir,
    partition_key,
    read_partitioned,
)

__all__ = ["refresh_rollup"]


def refresh_rollup(
    spark: SparkSession,
    table_path: str,
    rollup_path: str,
    group_cols: list[str],
    aggs: list[Column],
    partition_cols: list[str],
    refresh_partitions: list[dict] | None = None,
) -> int:
    """Bring the rollup at ``rollup_path`` up to date with ``table_path``.

    ``aggs`` are aliased aggregate columns over the source table, grouped
    by ``partition_cols + group_cols``; the rollup is written partitioned
    by ``partition_cols``. Returns the number of partitions refreshed.

    Only source partitions absent from the rollup are aggregated (a set
    difference of the two sides' partition directories — both
    metadata-cheap).
    ``refresh_partitions`` (list of {partition_col: value} dicts; a None
    value means the NULL/default partition) forces recomputation of
    specific partitions (the late-data and upsert paths), replacing
    their rollup rows via dynamic partition overwrite; a named partition
    that NO LONGER EXISTS in the source (an upsert emptied it) has its
    rollup partition deleted outright — dynamic overwrite cannot drop
    rows for a partition that produces no output. A named value that is
    not a path-safe string raises ``ValueError`` before any delete or
    write.
    """
    src = read_partitioned(spark, table_path, partition_cols)
    part_key = partition_key(partition_cols)

    def dirs(df) -> set[str]:
        # partition-count-scale collect — this is the refresh plan, not data
        return {r[0] for r in df.select(part_key).distinct().collect()}

    src_dirs = dirs(src)
    # the named partitions are validated before anything is deleted
    refresh_dirs = {partition_dir(s, partition_cols) for s in refresh_partitions or []}
    # Drop stale rollup partitions FIRST — before the rollup read below
    # snapshots its file listing: a refresh partition the source no longer
    # has (an upsert emptied it) keeps rollup rows the dynamic overwrite
    # cannot remove (no output rows for a vanished partition).
    if refresh_dirs - src_dirs:
        for d in sorted(refresh_dirs - src_dirs):
            delete_path(spark, posixpath.join(rollup_path, d))
        # the session-wide FileStatusCache still lists the deleted files (a
        # later dynamic-overwrite write only refreshes the partitions it
        # rewrites); drop the stale entries or the next rollup read dies
        # with FILE_NOT_EXIST
        spark.catalog.refreshByPath(rollup_path)

    # existence is checked explicitly (FS API, data files not bare dirs),
    # never inferred from a read failure: a blanket except would treat a
    # transient error (permissions, eventual consistency, corrupt footer)
    # as a first write and recompute every source partition
    done = set()
    if has_data_files(spark, rollup_path):
        done = dirs(read_partitioned(spark, rollup_path, partition_cols))
    # the new partitions AND the named late-data ones: a "bring it up to
    # date" call that names late partitions must not skip the new ones
    todo = (src_dirs - done) | (src_dirs & refresh_dirs)
    if not todo:
        return 0

    rows = (
        src.where(part_key.isin(sorted(todo)))
        .groupBy(*partition_cols, *group_cols)
        .agg(*aggs)
        # one file per refreshed partition: rollups are small by nature
        .repartition(*partition_cols)
    )
    # dynamic overwrite replaces exactly the partitions in `rows`; a new
    # partition is simply added
    rows.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(rollup_path)
    return len(todo)
