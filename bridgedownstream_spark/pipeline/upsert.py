"""Partition-scoped upsert (merge-into) for parquet lakes.

The reference's idempotency contract is overwrite-by-recordid: a
re-exported record replaces its prior file in place
(s3_to_json_s3.py:592-648 key layout), and stage 2 re-derives tables from
whatever is current. A parquet lake has no per-record files, so the same
contract becomes a **merge**: new/updated rows replace same-key rows,
everything else survives untouched.

Without a table format (Delta/Iceberg) the atomic unit is the partition,
and that is exactly enough:

1. prune — read ONLY the partitions the updates touch (partition-pruned
   scan; untouched partitions are never opened);
2. merge — anti-join existing rows against update keys, union the
   updates in (same-key rows replaced, new keys appended);
3. swap — dynamic partition overwrite rewrites just those partitions;
   partitions the merge left empty are deleted by directory name.

The overwrite mode is a writer option, so the session's conf is never
touched and concurrent jobs on the same session are unaffected. Partition
directories are named, validated and pruned through
:mod:`pipeline.partitions`; the table is read with string partition
values whatever the session's partition-type inference.

Cost scales with touched partitions, not table size: upserting one day
of records into a years-deep lake reads and rewrites one day. The
update-key set is broadcast (update batches are file-count-scale, like
the ledger); the merge is therefore shuffle-free on the lake side.

**Deletes**: ``delete_keys`` removes a key's existing rows even when
``updates`` carries no replacement row — required for the re-export
contract, where a record whose child array shrank to empty must lose its
stale child rows despite producing zero update rows for that table.
Locating doomed rows has no partition prior, so it costs one columnar
(key + partition columns only) scan with a broadcast semi-join; at lake
scale, callers that derive partition values from the key should pass the
known partitions instead of relying on this scan.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.fsutil import delete_path, has_data_files
from bridgedownstream_spark.pipeline.partitions import (
    partition_dir,
    partition_key,
    read_partitioned,
)

__all__ = ["upsert_dataset"]


def _partition_dirs(df: DataFrame, partition_cols: list[str]) -> set[str]:
    """The partition directories ``df``'s rows live in. Raises before any
    write if a value would not round-trip to its directory name: the
    empty-partition cleanup deletes by that name."""
    vals = df.select(
        *[F.col(c).cast("string").alias(c) for c in partition_cols]
    ).distinct()
    return {partition_dir(r.asDict(), partition_cols) for r in vals.collect()}


def upsert_dataset(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame | None,
    key_cols: list[str],
    partition_cols: list[str],
    delete_keys: DataFrame | None = None,
) -> set[str]:
    """Merge ``updates`` into the lake at ``table_path``. Returns the set
    of touched partition paths (``"c=v/c=v"`` strings; empty string for an
    unpartitioned table) — the updates' partitions PLUS the partitions
    where deleted keys' existing rows lived, i.e. exactly the partitions
    whose contents this merge changed. Callers maintaining derived state
    (rollups) must refresh precisely this set: a re-export that MOVES a
    record between partitions changes both its old and new partition.

    Rows whose ``key_cols`` match an update are replaced; new keys are
    appended; rows in untouched partitions are never rewritten. The
    updates must carry the partition columns. A key that MOVES partitions
    between versions is handled (the old partition is in the touched set
    iff the old row's partition appears among the updates' partitions —
    callers with partition-mobile keys should derive partition values
    from the key, as the pipeline's layout does, so this cannot arise).

    ``delete_keys`` (metadata-scale, broadcastable): keys whose existing
    rows are removed even if no update row re-adds them. ``updates=None``
    performs a delete-only merge. Partitions left empty by deletes are
    removed outright (dynamic overwrite only rewrites partitions present
    in the output, so an all-rows-deleted partition must be dropped via
    the FS API or its stale files would survive).
    """
    if updates is None and delete_keys is None:
        raise ValueError("upsert_dataset: need updates and/or delete_keys")

    # the updates' partitions are validated on EVERY path, including the
    # first write — a table created with %-escaped values would be
    # writable exactly once and never mergeable again
    upd_parts: set[str] = set()
    if updates is not None:
        upd_parts = _partition_dirs(updates, partition_cols)

    # first-write probe on DATA files, not directory existence: a table
    # whose every partition was removed by a delete-only merge leaves an
    # existing-but-empty directory that spark.read.parquet cannot infer a
    # schema from — it must be treated as absent, not read
    if not has_data_files(spark, table_path):
        if updates is not None:
            if has_data_files(spark, table_path, suffix=""):
                # the dir exists and holds visible NON-parquet files: this
                # is not an emptied table (those keep only _SUCCESS-style
                # markers) — overwriting would destroy foreign data
                raise ValueError(
                    f"upsert_dataset: {table_path} exists with non-parquet "
                    "contents; refusing to overwrite"
                )
            updates.write.mode("overwrite").partitionBy(*partition_cols).parquet(
                table_path
            )
            return upd_parts
        return set()
    existing = read_partitioned(spark, table_path, partition_cols)

    touched: set[str] = set(upd_parts)
    removal: DataFrame | None = None
    if updates is not None:
        removal = updates.select(*key_cols).distinct()
    if delete_keys is not None:
        dk = delete_keys.select(*key_cols).distinct()
        removal = dk if removal is None else removal.unionByName(dk).distinct()
        # the doomed partitions of EXISTING rows are validated too
        doomed = existing.join(F.broadcast(dk), key_cols, "left_semi")
        touched |= _partition_dirs(doomed, partition_cols)
    if not touched:
        return set()  # nothing to replace and no existing rows to delete

    pruned = existing.where(partition_key(partition_cols).isin(list(touched)))
    kept = pruned.join(F.broadcast(removal), key_cols, "left_anti")
    merged = (
        kept.unionByName(updates.select(*existing.columns))
        if updates is not None
        else kept
    )
    # cut the read-own-path lineage before overwriting (see compact.py)
    merged = merged.localCheckpoint(eager=True)
    out_parts = _partition_dirs(merged, partition_cols)
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(table_path)

    for p in sorted(touched - out_parts):
        if p:  # never the table root (unpartitioned tables use p == "")
            delete_path(spark, posixpath.join(table_path, p))
    return touched
