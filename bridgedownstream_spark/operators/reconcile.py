"""Reconciliation operators: the reference's operational query loop as a
reusable library surface.

The reference reconciles hourly: query the source-of-truth file view,
dedup to the latest export per record, anti-join against the parquet lake,
and resubmit the difference in batches of 100
(src/scripts/bootstrap_trigger/bootstrap_trigger.py:209-258, crontab
src/ec2/resources/crontab:2-12); counts are cross-checked per dataset
(src/scripts/JIRA/etl-245/main.py:29-63) and quarantined records are
replayed from the error queue (src/scripts/JIRA/etl-408/etl_408.py:86-150).

Each function is one Catalyst-friendly operator: window dedup, broadcast
or shuffle anti-join, one-pass aggregate. Nothing collects to the driver
except the batch manifest — which is submission-scale by definition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dedup_latest",
    "missing_records",
    "count_reconciliation",
    "assign_batches",
    "replay_quarantine",
]


def dedup_latest(
    df: DataFrame,
    key: str,
    order_by: str | Column,
    tiebreak: str | Column | None = None,
) -> DataFrame:
    """Keep the most recent row per ``key`` (reference "only use the most
    recently exported record", bootstrap_trigger.py:222-225). Deterministic
    via ``tiebreak``; one shuffle on the key."""
    cols = [F.col(order_by).desc() if isinstance(order_by, str) else order_by.desc()]
    if tiebreak is not None:
        cols.append(F.col(tiebreak).desc() if isinstance(tiebreak, str) else tiebreak.desc())
    w = Window.partitionBy(key).orderBy(*cols)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def missing_records(
    source: DataFrame,
    lake: DataFrame | list[DataFrame],
    source_key: str,
    lake_key: str,
) -> DataFrame:
    """Source rows whose key appears in none of the lake tables — the
    backfill set (reference anti-join diff, bootstrap_trigger.py:226-246;
    a list of lake tables reproduces the union-of-two-datasets variant).
    The lake side is projected to its key column before the anti-join, so
    only keys shuffle."""
    lakes = lake if isinstance(lake, list) else [lake]
    keys = lakes[0].select(F.col(lake_key).alias("__k__"))
    for other in lakes[1:]:
        keys = keys.union(other.select(F.col(lake_key).alias("__k__")))
    return source.join(
        keys, source[source_key] == keys["__k__"], "left_anti"
    )


def count_reconciliation(
    source: DataFrame, lake: DataFrame, source_key: str, lake_key: str, group: str
) -> DataFrame:
    """Per-group exact count / distinct-count comparison between a source
    and the lake (reference etl-245/main.py:29-63). Columns:
    ``group, n_source, n_lake, n_lake_distinct, delta``."""
    s = source.groupBy(F.col(group).alias("grp")).agg(
        F.countDistinct(source_key).alias("n_source")
    )
    l = lake.groupBy(F.col(group).alias("grp")).agg(
        F.count(lake_key).alias("n_lake"),
        F.countDistinct(lake_key).alias("n_lake_distinct"),
    )
    # full-outer can't broadcast; both sides aggregate down to group
    # cardinality (datasets/studies), so a shuffled hash join skips the
    # sort-merge sorts
    return (
        s.join(l.hint("shuffle_hash"), "grp", "full_outer")
        .na.fill(0, ["n_source", "n_lake", "n_lake_distinct"])
        .withColumn("delta", F.col("n_source") - F.col("n_lake_distinct"))
    )


def assign_batches(df: DataFrame, key: str, batch_size: int = 100) -> DataFrame:
    """Add a ``batch_id`` chunking rows into submission batches of
    ``batch_size`` (reference bootstrap_trigger.py:163-166). Global
    ordering window — submission manifests are driver-scale, like the
    reference's list slicing."""
    w = Window.orderBy(key)
    return df.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("bigint"),
    )


def replay_quarantine(
    quarantine: DataFrame, record_col: str = "recordid"
) -> DataFrame:
    """Distill the quarantine table into a resubmission manifest: one row
    per record with its per-file error summary (reference polls the error
    queue and unpacks validation_result into sibling columns —
    etl-408/etl_408.py:86-132; the unpack is the J4 struct expansion).

    Output: ``recordid, n_files, files (array), first_errors (array)``."""
    per_file = quarantine.select(
        record_col,
        F.struct(
            F.col("file_name").alias("file_name"),
            F.col("errors").getItem(0).alias("first_error"),
        ).alias("f"),
    )
    return (
        per_file.groupBy(record_col)
        .agg(F.sort_array(F.collect_list("f")).alias("fs"))
        .select(
            record_col,
            F.size("fs").alias("n_files"),
            F.col("fs.file_name").alias("files"),
            F.col("fs.first_error").alias("first_errors"),
        )
    )
