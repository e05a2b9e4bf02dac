"""Stage-2 lake sync: NDJSON lake → parquet lake, kept in sync by upsert.

The append stage-2 job (pipeline/json_to_parquet.py) APPENDS; re-exported
records are then reconciled downstream by dedup-latest, exactly like the
reference (Glue bookmarks + most-recent-export filtering,
json_s3_to_parquet.py:74,103 + bootstrap_trigger.py:222-225). This module
keeps the same contract with the reconciliation folded INTO the sink. One
run of :func:`stream_upsert_lake` is a ledger-bookmarked batch, the unit
of work of every incremental job here
(:mod:`bridgedownstream_spark.pipeline.ledger`):

    list the dataset's lake files on the driver
      → diff the listing against the ledger (nothing new: return, no job)
      → read only the new files, conformed to the declared schema
      → relationalize (shuffle-free)
      → partition-scoped UPSERT of every emitted table (+ rollup refresh)
      → commit the new files to the ledger

A re-exported recordid replaces all of its prior rows (root and children)
in place, so the parquet lake is always dedup-latest — readers skip the
A2 window entirely.

Scale: each run touches only the partitions its records live in
(partition-scoped upsert), so steady-state cost tracks the arrival rate,
not lake size. A file is new until it is committed, whatever its mtime.
A crash between the sinks and the commit replays those files on the next
run, and the upsert replaces the rows it had written: the lake ends as
after one clean run. Every job runs on the caller's thread, under its job
group.

With a rollup attached, the root table's touched partition directories
are parsed back to partition values by
:func:`pipeline.partitions.parse_partition` and handed to
:func:`pipeline.rollup.refresh_rollup`. Neither sink sets a session conf,
so the sync can share its SparkSession with other jobs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from bridgedownstream_spark.operators.relationalize import (
    DEFAULT_KEY_COLS,
    relationalize,
)
from bridgedownstream_spark.pipeline.fsutil import (
    has_data_files,
    list_data_files,
    list_dirs,
    path_exists,
)
from bridgedownstream_spark.pipeline.json_to_parquet import read_json_dataset
from bridgedownstream_spark.pipeline.ledger import FileLedger
from bridgedownstream_spark.pipeline.partitions import parse_partition
from bridgedownstream_spark.pipeline.registry import Dataset, DatasetRegistry
from bridgedownstream_spark.pipeline.rollup import refresh_rollup
from bridgedownstream_spark.pipeline.upsert import upsert_dataset
from bridgedownstream_spark.sources.ndjson import dataset_path

__all__ = ["sync_batch_to_lake", "stream_upsert_lake"]


def _expected_tables(
    spark: SparkSession, dataset: Dataset, key_cols: tuple[str, ...]
) -> set[str]:
    """The exact table names ``dataset``'s CURRENT schema relationalizes
    into — computed schema-only (empty frame, driver-side, no jobs), so it
    reproduces relationalize's real naming including struct-flatten
    renames rather than guessing from prefixes."""
    df = spark.createDataFrame([], dataset.full_schema())
    return set(relationalize(df, dataset.name, key_cols=key_cols))


def sync_batch_to_lake(
    spark: SparkSession,
    batch_df: DataFrame,
    dataset: Dataset,
    parquet_root: str,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    registry: DatasetRegistry | None = None,
) -> tuple[dict[str, str], set[str]]:
    """Relationalize → upsert one batch into the lake.

    ``batch_df`` is in the dataset's declared schema, data then partition
    columns, as
    :func:`~bridgedownstream_spark.pipeline.json_to_parquet.read_json_dataset`
    returns it. Upsert keys on ``recordid``: every table a record
    relationalizes into replaces ALL rows of that recordid — the only
    correct contract when a re-export can change a child array's
    length. The deletion key set is the batch's ROOT recordids, not each
    table's own update rows: a re-export that shrinks a child array to
    empty (or drops the nested field entirely) emits ZERO update rows for
    that recordid in that child table, so keying deletes on the table's
    own rows would leave the old child rows stranded. Tables on disk that
    this batch emitted no rows for at all get a delete-only merge for the
    same reason. Returns ``({table_name: path}, root_touched)`` where
    ``root_touched`` is the ROOT table's touched-partition path set from
    the upsert (update partitions PLUS the old partitions of replaced
    rows) — the exact refresh set for any rollup derived from the root.

    ``registry`` disambiguates table ownership in a shared
    ``parquet_root``: a directory named ``gait_v1_steps`` could be dataset
    ``gait_v1``'s child table OR a table of a sibling dataset literally
    named ``gait_v1_steps`` — the delete-only merge must never run against
    another dataset's table. Ownership is resolved from the registered
    datasets' SCHEMAS (each dataset's current relationalize table set,
    computed schema-only); a directory in no current set (a historical
    table of a since-dropped field) falls back to the longest registered
    dataset name that prefixes it, and a directory claimed by two
    datasets' schemas raises — that deployment is genuinely ambiguous and
    guessing deletes someone's rows. Without the registry, the bare
    ``{name}``/``{name}_`` prefix match is used (single-dataset roots
    only).
    """
    if batch_df.isEmpty():
        return {}, set()
    tables = relationalize(batch_df, dataset.name, key_cols=key_cols)
    # metadata-scale (one id per re-exported record in this batch);
    # checkpointed so the repeated broadcasts don't re-read the batch
    root_keys = batch_df.select("recordid").distinct().localCheckpoint(eager=True)
    written: dict[str, str] = {}
    root_touched: set[str] = set()
    for name, table in tables.items():
        path = os.path.join(parquet_root, name)
        parts = [c for c in dataset.partition_cols if c in table.columns]
        touched = upsert_dataset(
            spark,
            path,
            table,
            key_cols=["recordid"],
            partition_cols=parts,
            delete_keys=root_keys,
        )
        if name == dataset.name:
            root_touched = touched
        written[name] = path
    mine: set[str] = set()
    other_tables: dict[str, set[str]] = {}
    if registry is not None:
        mine = _expected_tables(spark, dataset, key_cols)
        for dn in registry.names():
            if dn != dataset.name:
                other_tables[dn] = _expected_tables(spark, registry[dn], key_cols)
    for name in list_dirs(spark, parquet_root):
        if name in written:
            continue
        if name != dataset.name and not name.startswith(f"{dataset.name}_"):
            continue  # another dataset's table
        if registry is not None:
            claimants = [dn for dn, ts in other_tables.items() if name in ts]
            if name in mine and claimants:
                raise ValueError(
                    f"sync_batch_to_lake: table dir {name!r} is produced by "
                    f"both dataset {dataset.name!r} and {claimants!r} — "
                    "ambiguous ownership; separate their parquet roots"
                )
            if claimants:
                continue  # a sibling dataset's CURRENT table
            if name not in mine:
                # historical table (dropped field): longest-name owner
                owner = max(
                    (
                        d
                        for d in [dataset.name, *other_tables]
                        if name == d or name.startswith(f"{d}_")
                    ),
                    key=len,
                    default=dataset.name,
                )
                if owner != dataset.name:
                    continue
        path = os.path.join(parquet_root, name)
        if not has_data_files(spark, path):
            continue  # already emptied — nothing to delete, nothing to read
        parts = [
            c
            for c in dataset.partition_cols
            if c in spark.read.parquet(path).columns
        ]
        upsert_dataset(
            spark,
            path,
            None,
            key_cols=["recordid"],
            partition_cols=parts,
            delete_keys=root_keys,
        )
    return written, root_touched


def stream_upsert_lake(
    spark: SparkSession,
    json_root: str,
    parquet_root: str,
    dataset_name: str,
    registry: DatasetRegistry,
    ledger_root: str,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    rollup_path: str | None = None,
    rollup_group_cols: list[str] | None = None,
    rollup_aggs: list | None = None,
) -> None:
    """Upsert every NDJSON lake file of the dataset that the ledger under
    ``ledger_root`` has not logged into the parquet lake, then log them.

    The new files are read through
    :func:`~bridgedownstream_spark.pipeline.json_to_parquet.read_json_dataset`,
    like the append job's, so drifted scalar types coerce the same way
    (``resolveChoice`` semantics); partition columns resolve from the
    directory layout. Re-running with the same ledger processes only files
    that arrived since the last run, and with none it launches no Spark
    job; re-exported records replace their prior rows instead of appending
    duplicates. A missing dataset directory raises.

    When ``rollup_path`` is given (with ``rollup_group_cols`` and
    ``rollup_aggs``, see :func:`pipeline.rollup.refresh_rollup`), every
    run ALSO re-refreshes the root table's rollup for exactly the
    partitions the upsert touched — the upsert's OWN touched set, which
    includes the OLD partitions of replaced rows, not just the batch's
    partition values: a re-export that moves a record to a new partition
    (a later export date) must recompute the partition it left, and a
    partition the deletes emptied entirely must have its rollup rows
    DROPPED (refresh_rollup removes rollup partitions whose source
    partition no longer exists). Because the sink replaces rows, touched
    partitions are recomputed, never incremented; untouched partitions
    are never re-read. This keeps the continuous aggregate exact under
    arbitrary re-exports at cost proportional to the arrival rate.
    """
    if rollup_path is not None and not rollup_aggs:
        raise ValueError(
            "stream_upsert_lake: rollup_path requires non-empty rollup_aggs"
        )
    ds = registry[dataset_name]
    path = dataset_path(json_root, ds.name)
    if not path_exists(spark, path):
        raise FileNotFoundError(f"stream_upsert_lake: no dataset directory {path}")
    ledger = FileLedger(spark, ledger_root)
    new = ledger.new_files(list_data_files(spark, path), ds.name)
    if not new:
        return
    written, root_touched = sync_batch_to_lake(
        spark,
        read_json_dataset(spark, json_root, ds, paths=new),
        ds,
        parquet_root,
        key_cols=key_cols,
        registry=registry,
    )
    if rollup_path is not None and root_touched:
        # the UPSERT's touched set (new partitions + old partitions of
        # replaced/moved rows), parsed back to partition-value dicts
        refresh_rollup(
            spark,
            written[ds.name],
            rollup_path,
            rollup_group_cols or [],
            rollup_aggs or [],
            list(ds.partition_cols),
            refresh_partitions=[
                parse_partition(p) for p in sorted(root_touched) if p
            ],
        )
    ledger.commit(new, ds.name)
