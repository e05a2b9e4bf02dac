"""The lake's Hive partition-path format, in one place.

The reference lake is laid out ``dataset=…/assessmentid=…/year=…/month=…/
day=…`` (s3_to_json_s3.py:628-639), and Spark's partitioned writer names a
partition directory ``c=v/c=v``. The lake-maintenance sinks (upsert,
rollup, compaction, lake sync) address partitions by that directory name:
to prune a scan to them, to delete an emptied one through the FS API, and
to parse a touched set back into partition values. This module is the one
definition they share:

- a NULL or empty value is written as :data:`HIVE_DEFAULT`, and parses back
  to None;
- a value is accepted only if it is a string in a path-safe charset. Spark
  %-escapes anything outside roughly that set, so the raw value would not
  name the directory Spark wrote, and a delete by that name would address
  the wrong path (a ``/`` would even reach a parent directory).

Partition values are strings here. :func:`read_partitioned` reads a table
that way whatever the session's partition-type inference says, so
``day=01`` stays ``"01"`` and keeps naming its directory.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "HIVE_DEFAULT",
    "partition_key",
    "partition_dir",
    "parse_partition",
    "read_partitioned",
]

#: Spark's directory name for a NULL (or empty-string) partition value
HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"

_PATH_SAFE = re.compile(r"^[A-Za-z0-9._\- ]+$")


def partition_key(cols: list[str]) -> Column:
    """Each row's partition directory, ``c=v/c=v``, as a Column over the
    partition columns only (so a filter on it still partition-prunes).
    NULL and "" map to :data:`HIVE_DEFAULT`: a raw NULL would drop its
    whole segment out of ``concat_ws`` and alias different partitions onto
    one key. An unpartitioned table's key is ""."""

    def seg(c: str) -> Column:
        s = F.col(c).cast("string")
        return F.concat(
            F.lit(f"{c}="),
            F.when(s.isNull() | (s == ""), F.lit(HIVE_DEFAULT)).otherwise(s),
        )

    return F.concat_ws("/", *[seg(c) for c in cols])


def partition_dir(spec: dict, cols: list[str]) -> str:
    """``{c: v}`` → ``c=v/c=v`` over ``cols``, in order; a missing, None or
    "" value is the default partition. Raises ``ValueError`` for a value
    that is not a path-safe string, since its directory name would not
    round-trip."""
    segs = []
    for c in cols:
        v = spec.get(c)
        if v in (None, ""):
            v = HIVE_DEFAULT
        elif not isinstance(v, str) or not _PATH_SAFE.match(v):
            raise ValueError(
                f"partition value {c}={v!r} does not round-trip to a "
                "directory name (not a string, or it contains '/', '=' or "
                "another character Spark %-escapes); use path-safe "
                "partition values, as the pipeline's layout does"
            )
        segs.append(f"{c}={v}")
    return "/".join(segs)


def parse_partition(key: str) -> dict[str, str | None]:
    """``c=v/c=v`` → ``{c: v}``, with :data:`HIVE_DEFAULT` → None; "" → {}."""
    out: dict[str, str | None] = {}
    for seg in key.split("/") if key else []:
        c, _, v = seg.partition("=")
        out[c] = None if v == HIVE_DEFAULT else v
    return out


def read_partitioned(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Read the parquet table at ``path`` with its partition columns
    ``cols`` typed as strings, through an explicit schema rather than a
    session conf."""
    schema = T.StructType(
        [
            T.StructField(f.name, T.StringType()) if f.name in cols else f
            for f in spark.read.parquet(path).schema
        ]
    )
    return spark.read.schema(schema).parquet(path)
