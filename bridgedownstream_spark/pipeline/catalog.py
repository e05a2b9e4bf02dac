"""Lake catalog: expose every parquet table under a lake root as SQL views.

The reference's interactive surface is SQL strings against cataloged
tables (`select * from {source_table} where ...`,
src/scripts/bootstrap_trigger/bootstrap_trigger.py:98-118; Glue Catalog
EXTERNAL_TABLEs per study, templates/study-pipeline-infra.j2:149-176).
This module is that surface for the whole lake in one call: each table
directory (root + relationalized children) becomes a temp view, so every
query the reference user runs today ships unchanged through `spark.sql`.

Views are defined as SQL text over ``parquet.`<path>``` — NOT as
DataFrame-backed temp views. The distinction is load-bearing: a
DataFrame temp view pins the file-listing snapshot taken at
registration, so the next partition-overwrite (the upsert/compaction
write path) makes queries through it fail with FILE_NOT_EXIST; the SQL
form re-resolves the path's files on every query (verified against a
dynamic partition overwrite), so the views stay correct while each
stream_upsert_lake run rewrites the partitions it touches. Registration cost
is one schema resolution per table; file listing and partition pruning
happen per query.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from bridgedownstream_spark.pipeline.fsutil import has_data_files, list_dirs

__all__ = ["register_lake_views"]

#: reserved lake-root directories that are not tables
_NON_TABLE_DIRS = {"archive", "quarantine", "checkpoints"}

_VALID_VIEW = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def register_lake_views(
    spark: SparkSession, parquet_root: str, prefix: str = ""
) -> list[str]:
    """Register every readable table under ``parquet_root`` as a temp view
    named ``{prefix}{table_dir}``; returns the view names (sorted).

    Skips reserved non-table directories (``archive``/``quarantine``/
    ``checkpoints``), hidden directories (leading ``_``/``.`` — the same
    rule Spark's readers apply, so ``_temporary``/``.staging`` residue
    from a crashed write is never registered), and directories with no
    visible data files (emptied tables). Remaining directory names that
    are not valid SQL identifiers raise rather than being silently
    skipped — a lake with such names needs renaming, not invisible
    tables.
    """
    out: list[str] = []
    for name in list_dirs(spark, parquet_root):
        if name in _NON_TABLE_DIRS or name.startswith(("_", ".")):
            continue
        view = f"{prefix}{name}"
        if not _VALID_VIEW.match(view):
            raise ValueError(
                f"register_lake_views: {view!r} is not a valid SQL view "
                "name — rename the table directory"
            )
        path = os.path.join(parquet_root, name)
        if not has_data_files(spark, path):
            continue
        # SQL-text view over the path: re-resolves files per query (a
        # DataFrame temp view would pin this instant's file listing and
        # break on the next partition overwrite)
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {view} AS "
            f"SELECT * FROM parquet.`{path}`"
        )
        out.append(view)
    return sorted(out)
