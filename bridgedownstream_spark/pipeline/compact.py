"""Small-file compaction for partitioned parquet lakes.

Incremental appends (ledger batches, streaming micro-batches, per-day
ingest) each leave a few files per partition; after months a 100 TB lake
holds millions of KB-scale files and every scan drowns in open/footer
overhead. The reference leans on Glue's ``groupFiles: inPartition`` to
*read* through the mess (json_s3_to_parquet.py:73); a lake you operate
also needs to *fix* the mess. This module is that maintenance operator:

1. **stats** — a distributed listing via the ``binaryFile`` source
   projecting only (path, length): no file CONTENT is read, and the
   listing itself scales across executors instead of a driver-side walk.
2. **select** — partitions whose file count exceeds a threshold and whose
   mean file size is under target (driver-side decision over
   partition-count-scale rows, like the ledger). The listing's directory
   names are the selection keys, matched against each row's
   :func:`pipeline.partitions.partition_key`, so the NULL partition
   (``__HIVE_DEFAULT_PARTITION__``) is selected like any other.
3. **rewrite** — ONE partition-pruned scan of just those partitions,
   salted so each writes ``ceil(bytes / target)`` output files, committed
   with dynamic partition overwrite (a writer option; the session's conf
   is untouched) so untouched partitions are never rewritten and readers
   see whole partitions swap atomically.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.partitions import (
    parse_partition,
    partition_dir,
    partition_key,
    read_partitioned,
)

__all__ = ["partition_file_stats", "compact_dataset"]


def partition_file_stats(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-partition (n_files, total_bytes) from a distributed listing.

    ``binaryFile`` with only (path, length) projected never reads file
    bodies — it is a parallel directory walk. Partition identity is the
    ``key=value/…`` path between the table root and the file name; files
    directly under the root (an unpartitioned table) are partition "".
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(table_path)
        .select("path", "length")
    )
    root = table_path.rstrip("/")
    # strip scheme + root prefix, then the trailing file name ("" when
    # the file sits directly under the root)
    rel = F.regexp_replace(
        "path", f"^(file:)?/*{re.escape(root.lstrip('/'))}/", ""
    )
    part_dir = F.regexp_extract(rel, "^(.*)/[^/]*$", 1)
    return files.groupBy(part_dir.alias("partition")).agg(
        F.count("*").alias("n_files"), F.sum("length").alias("total_bytes")
    )


def compact_dataset(
    spark: SparkSession,
    table_path: str,
    partition_cols: list[str],
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict[str, int]:
    """Rewrite fragmented partitions of ``table_path`` into
    ``ceil(partition_bytes / target_file_bytes)`` files each.

    Returns ``{partition: n_output_files}`` for every partition it
    rewrote (empty dict ⇒ nothing needed). With ``partition_cols`` empty
    the whole table is one partition, ``""``. Only partitions with more than
    ``min_files`` files AND mean file size below target are touched. A
    selected partition directory that does not round-trip through
    ``partition_cols`` raises ``ValueError`` before any write.

    **Concurrency contract**: compaction is read-snapshot → dynamic
    overwrite, with NO coordination against concurrent writers — rows
    committed into a selected partition between the snapshot
    (localCheckpoint) and the overwrite are LOST. Do not run it while an
    upsert/lake-sync writer may touch the same partitions; schedule it
    the way table formats schedule OPTIMIZE — against quiesced (e.g.
    closed-date) partitions, or under an external lock.
    """
    stats = partition_file_stats(spark, table_path).collect()
    todo: dict[str, int] = {}
    for r in stats:
        if (
            r["n_files"] > min_files
            and r["total_bytes"] / r["n_files"] < target_file_bytes
        ):
            todo[r["partition"]] = max(
                1, math.ceil(r["total_bytes"] / target_file_bytes)
            )
    if not todo:
        return {}
    for p in todo:
        if partition_dir(parse_partition(p), partition_cols) != p:
            raise ValueError(
                f"compact_dataset: partition directory {p!r} does not "
                f"round-trip through partition_cols {partition_cols}"
            )

    df = read_partitioned(spark, table_path, partition_cols)
    # prune the scan to the fragmented partitions only
    part_key = partition_key(partition_cols)
    pruned = df.where(part_key.isin(list(todo)))

    # per-partition output fan: salt = hash(row) mod n_out for THAT
    # partition, broadcast-joined in — so a 10 GB partition gets 80 files
    # and a 100 MB one gets 1, from the same single rewrite job
    fan = spark.createDataFrame(list(todo.items()), "__pk string, __n_out int")
    data_cols = [c for c in df.columns if c not in partition_cols]
    salted = (
        pruned.withColumn("__pk", part_key)
        .join(F.broadcast(fan), "__pk")
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.col("__n_out")),
        )
    )
    out = (
        salted.repartition(*partition_cols, F.col("__salt"))
        .drop("__pk", "__n_out", "__salt")
    )
    # Spark (rightly) refuses to overwrite a path its own plan reads;
    # materialize the compacted rows first to cut the lineage — the
    # double-buffer every compactor pays. localCheckpoint holds only the
    # fragmented partitions, on executor storage; a production variant on
    # object storage would stage to a sibling prefix + rename instead.
    out = out.localCheckpoint(eager=True)
    # a selected partition with no rows (only empty files) is not in `out`,
    # so the overwrite leaves it as it was
    done = {r[0] for r in out.select(part_key).distinct().collect()}

    # dynamic overwrite: ONLY the partitions present in `out` are replaced
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(table_path)
    return {p: n for p, n in todo.items() if p in done}
