"""Stage 2: JSON dataset → relationalized, partitioned parquet tables.

Spark-first re-expression of the reference's main Spark job
(src/glue/jobs/json_s3_to_parquet.py:179-233):

    catalog scan            → spark.read.schema(lake_read_schema).json(basePath=…)
    resolveChoice(match_catalog) → cast-to-declared (conform_to_schema)
    DynamicFrame.relationalize + add_index_to_table (a join per child)
                            → operators.relationalize (shuffle-free)
    write_dynamic_frame parquet partitioned by assessmentid/year/month/day
                            → df.write.partitionBy(…).parquet

Scale notes: the whole job is narrow transformations over one JSON scan per
dataset; the only shuffle is each table's repartition by its partition
columns before the write, and the ledger prunes the file listing on the
driver. Small JSON files are handled by ``maxPartitionBytes`` packing
(Spark bin-packs many small files into one task — the reference needed
``groupFiles: inPartition`` for the same effect, json_s3_to_parquet.py:73).
Each emitted table is written from the one persisted batch; at scale that
is N narrow passes instead of N child⋈parent shuffles — the better trade.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bridgedownstream_spark.operators.relationalize import (
    DEFAULT_KEY_COLS,
    relationalize,
)
from bridgedownstream_spark.pipeline.registry import Dataset, DatasetRegistry
from bridgedownstream_spark.sources.ndjson import dataset_path

__all__ = [
    "conform_to_schema",
    "lake_read_schema",
    "read_json_dataset",
    "write_parquet_dataset",
    "run_json_to_parquet",
]


def _conform_column(col: Column, actual: T.DataType, wanted: T.DataType) -> Column:
    """Cast ``col`` from ``actual`` to ``wanted``, recursing into structs and
    arrays so that missing struct fields become NULLs instead of cast
    failures. This is the engine's ``resolveChoice(choice="match_catalog")``
    (reference json_s3_to_parquet.py:75-78): declared types always win."""
    if isinstance(wanted, T.StructType):
        if not isinstance(actual, T.StructType):
            return F.lit(None).cast(wanted)
        actual_fields = {f.name: f.dataType for f in actual.fields}
        inner = F.struct(
            *[
                _conform_column(
                    col.getField(f.name), actual_fields[f.name], f.dataType
                ).alias(f.name)
                if f.name in actual_fields
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in wanted.fields
            ]
        )
        return F.when(col.isNotNull(), inner)
    if isinstance(wanted, T.ArrayType):
        if not isinstance(actual, T.ArrayType):
            return F.lit(None).cast(wanted)
        return F.transform(
            col, lambda x: _conform_column(x, actual.elementType, wanted.elementType)
        )
    # Leaf casts are permissive (unresolvable → NULL), matching Glue's
    # choice behavior rather than ANSI's throw. A decimal-formatted string
    # ("9.0") still reaches an integral target via the double route; the
    # direct try comes first so big integers stay exact.
    if isinstance(actual, T.StringType) and isinstance(
        wanted, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return F.coalesce(
            col.try_cast(wanted), col.try_cast("double").try_cast(wanted)
        )
    return col.try_cast(wanted)


def conform_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto exactly ``schema``: declared columns in declared
    order and declared types; missing columns materialize as NULL; undeclared
    columns are dropped. Pure projection — no shuffle, fully codegen'd."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name in actual:
            cols.append(_conform_column(F.col(f.name), actual[f.name], f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _widen_leaves(dt: T.DataType) -> T.DataType:
    """Replace every primitive leaf with string, keeping the struct/array
    shape. Reading JSON through the widened schema captures any scalar as
    its literal text (ints, doubles, bools, strings alike), so cross-file
    type drift never NULLs a value — the cast back to the declared type
    then resolves it, which is exactly ``resolveChoice(match_catalog)``."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _widen_leaves(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_widen_leaves(dt.elementType))
    return T.StringType()


#: column capturing unparseable JSON lines (PERMISSIVE-mode sidecar)
CORRUPT_COL = "_corrupt_record"


def lake_read_schema(dataset: Dataset, keep_corrupt: bool = False) -> T.StructType:
    """The schema every stage-2 reader (:func:`read_json_dataset`, so the
    append job and the upsert lake sync alike) reads a JSON lake through:
    the leaf-widened data fields, then :data:`CORRUPT_COL` if
    ``keep_corrupt``, then the declared partition fields (they resolve
    from the directory layout, never from file bodies)."""
    return T.StructType(
        list(_widen_leaves(dataset.data_schema()).fields)
        + ([T.StructField(CORRUPT_COL, T.StringType())] if keep_corrupt else [])
        + list(dataset.partition_schema().fields)
    )


def read_json_dataset(
    spark: SparkSession,
    json_root: str,
    dataset: Dataset,
    keep_corrupt: bool = False,
    paths: list[str] | None = None,
) -> DataFrame:
    """Read one partitioned JSON dataset with its declared schema.

    ``json_root`` is the lake root containing ``dataset=<name>/…`` dirs (the
    stage-1 layout, reference s3_to_json_s3.py:628-639). Partition columns
    (assessmentid/year/month/day) are resolved from the directory layout and
    cast to their declared (string) catalog types — never read from file
    bodies, which kills the int-in-data/string-in-partition ambiguity.

    The data columns are read through :func:`lake_read_schema` and cast
    back — full ``resolveChoice(choice="match_catalog")`` semantics
    (reference json_s3_to_parquet.py:75-78): a file carrying ``"7"`` where
    an int is declared, or an int where a double is declared, coerces
    instead of silently NULLing as a strict-schema read would.

    ``keep_corrupt=True`` adds :data:`CORRUPT_COL` holding the raw text of
    any UNPARSEABLE line (PERMISSIVE mode's sidecar) — without it a
    corrupt line silently becomes an all-NULL row, indistinguishable from
    a legitimately empty record. Stage-1 validation normally guarantees
    none exist; the stage-2 quarantine split (``run_json_to_parquet``)
    still checks, because lakes are written by more than one producer.

    ``paths`` restricts the scan to an explicit file list (the ledger's
    file-level pruning); ``basePath`` stays the dataset root so partition
    columns still resolve from the directory layout."""
    path = dataset_path(json_root, dataset.name)
    df = (
        spark.read.schema(lake_read_schema(dataset, keep_corrupt))
        .option("basePath", path)
        .json(paths if paths is not None else path)
    )
    out_schema = dataset.full_schema()
    if keep_corrupt:
        out_schema = T.StructType(
            list(out_schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    return conform_to_schema(df, out_schema)


def write_parquet_dataset(
    df: DataFrame,
    parquet_root: str,
    table_name: str,
    partition_cols: list[str] | None = None,
    mode: str = "append",
) -> str:
    """Partitioned parquet sink (reference write_table_to_s3,
    json_s3_to_parquet.py:81-103). Returns the table path.

    A partitioned write repartitions by the partition columns first, so
    each output directory gets few, well-sized files instead of one sliver
    per task — the difference between P and P×N files at N-task scale."""
    if partition_cols is None:
        partition_cols = [c for c in ("assessmentid", "year", "month", "day") if c in df.columns]
    path = os.path.join(parquet_root, table_name)
    writer = df.write
    if partition_cols:
        writer = df.repartition(*partition_cols).write.partitionBy(*partition_cols)
    writer.mode(mode).parquet(path)
    return path


def run_json_to_parquet(
    spark: SparkSession,
    json_root: str,
    parquet_root: str,
    dataset_name: str,
    registry: DatasetRegistry,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    mode: str = "append",
    ledger=None,
    wide_ids: bool = False,
    corrupt_root: str | None = None,
) -> dict[str, str]:
    """The stage-2 job for one dataset: read → (ledger pruning) → conform
    → relationalize (a flat frame is one table) → write each table as
    partitioned parquet. Returns ``{table_name: parquet_path}`` for every
    table written.

    ``ledger`` (a :class:`~bridgedownstream_spark.pipeline.ledger.FileLedger`)
    makes the run incremental: the dataset's file listing is compared with
    the ledger's commit log on the driver
    (:meth:`~bridgedownstream_spark.pipeline.ledger.FileLedger.new_files`),
    only files absent from it are read, and their paths are committed
    after the sinks succeed — the Glue-job-bookmark equivalent (reference
    json_s3_to_parquet.py:74,103,233). Re-running over the same input is
    then a no-op that reads no data and launches no Spark job; a ledger
    that cannot be read raises instead of reprocessing everything.

    ``corrupt_root`` enables the stage-2 quarantine: unparseable lake
    lines are captured (see :func:`read_json_dataset` ``keep_corrupt``)
    and written there with their partition columns, instead of flowing on
    as indistinguishable all-NULL rows. Stage-1 validation makes this a
    no-op for this engine's own lake; it defends lakes with other writers.
    """
    from pyspark.storagelevel import StorageLevel

    from bridgedownstream_spark.pipeline.fsutil import list_data_files, path_exists

    ds = registry[dataset_name]
    keep_corrupt = corrupt_root is not None
    paths: list[str] | None = None
    dataset_dir = dataset_path(json_root, ds.name)
    if ledger is not None and path_exists(spark, dataset_dir):
        # File-level bookmark pruning (the Glue-bookmark shape): diff the
        # dataset LISTING against the ledger driver-side and read ONLY
        # unprocessed files. File-count-scale metadata — a no-op re-run
        # touches zero data bytes, and an incremental run scans only the
        # delta files. An all-empty batch is not committed (the isEmpty
        # probe below returns before the sinks); an empty file in a mixed
        # batch is, since it contributes no rows and needs no rescan. A
        # missing dataset directory falls through to the read, which
        # raises.
        paths = ledger.new_files(list_data_files(spark, dataset_dir), dataset_name)
        if not paths:
            return {}
    df = read_json_dataset(spark, json_root, ds, keep_corrupt=keep_corrupt, paths=paths)

    # Persist the (delta) batch ONCE before fan-out: the empty probe, the
    # corrupt split, and EVERY table write otherwise re-scan and re-parse
    # the JSON lake. The batch is delta-sized under a ledger (only files
    # absent from it), which is exactly the frame a 100 TB incremental job
    # materializes before multi-table writes. (Persisting also satisfies
    # Spark's refusal of corrupt-column-only projections over a raw JSON
    # scan — QUERY_ONLY_CORRUPT_RECORD_COLUMN.)
    cached = df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # Empty-input skip (reference json_s3_to_parquet.py:197,225):
        # cheap single-partition probe, not a full count.
        if df.isEmpty():
            return {}

        if keep_corrupt:
            df.where(F.col(CORRUPT_COL).isNotNull()).select(
                F.col(CORRUPT_COL).alias("raw_line"),
                *[c for c in df.columns if c in ds.partition_schema().names],
            ).write.mode(mode).parquet(corrupt_root)
            df = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)

        # wide_ids=True switches surrogate keys to 128-bit md5 strings —
        # flip it for tables expecting billions of parent rows per path,
        # where 64-bit birthday collisions become real (see
        # operators/relationalize.py module docs)
        tables = relationalize(df, dataset_name, key_cols=key_cols, wide_ids=wide_ids)
        written = {
            name: write_parquet_dataset(table, parquet_root, name, mode=mode)
            for name, table in tables.items()
        }
        if paths:
            ledger.commit(paths, dataset_name)  # post-write, like job.commit()
        return written
    finally:
        cached.unpersist()
