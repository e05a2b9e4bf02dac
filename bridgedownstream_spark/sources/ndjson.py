"""Partitioned NDJSON dataset sink — the stage-1 output layout.

The reference writes one single-line JSON object per record to
``dataset=…/assessmentid=…/year=…/month=…/day=…/<recordid>.ndjson``
(s3_to_json_s3.py:559-648, layout at :628-639), renaming files that start
with ``_``/``.`` because Glue readers skip them (:621-623). In Spark the
same layout is one partitioned write; the file-per-record detail is an
implementation artifact of the reference's boto3 loop that we deliberately
drop (Spark writes one file per task per partition — far fewer objects at
scale, and the NDJSON content is identical). Hidden-file renaming is moot:
Spark never emits data files with ``_``/``.`` prefixes.

Metadata injection (reference :599-619): the caller materializes the
partition/record columns before the write; ``partitionBy`` lifts them into
the directory layout and drops them from the file bodies, which resolves
the reference's int-in-data/string-in-partition duality at the root.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

__all__ = ["write_ndjson_dataset", "dataset_path"]

#: The reference's universal partition hierarchy under each dataset
#: (s3_to_json_s3.py:628-639).
PARTITION_COLS = ("assessmentid", "year", "month", "day")


def dataset_path(json_root: str, dataset: str) -> str:
    return os.path.join(json_root, f"dataset={dataset}")


def write_ndjson_dataset(
    df: DataFrame,
    json_root: str,
    dataset: str,
    partition_cols: tuple[str, ...] = PARTITION_COLS,
    mode: str = "append",
) -> str:
    """Write ``df`` as a partitioned NDJSON dataset; returns the dataset
    root. Missing partition columns raise — stage 1 must inject them
    (reference guarantees this at s3_to_json_s3.py:599-619).

    The rows are repartitioned by the partition columns first so each
    output directory is written by few tasks instead of every task emitting
    a sliver into every directory — without it, N tasks × P directories
    small files swamp the filesystem (and S3 listing) at scale.
    """
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise ValueError(f"write_ndjson_dataset: missing partition columns {missing}")
    path = dataset_path(json_root, dataset)
    df.repartition(*partition_cols).write.mode(mode).partitionBy(*partition_cols).json(path)
    return path
