"""Shared helpers for the query surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan → Catalyst gets pushdown/pruning.

    ``events.ts`` has shipped as both TIMESTAMP(MICROS) (no tz → Spark infers
    TIMESTAMP_NTZ) and TIMESTAMP(NANOS) parquet across testdata generations.
    Every query expects plain TIMESTAMP (LTZ), so normalize here:

    - raw nanos (LongType under ``nanosAsLong``): floor to microseconds — the
      same conversion DuckDB applies for TIMESTAMP_NS → its us TIMESTAMP;
    - TIMESTAMP_NTZ: cast to TIMESTAMP — numerically identity because the
      session timezone is pinned UTC (session.py);
    - TIMESTAMP: pass through.
    """
    # The session TIMEZONE is pinned UTC on every read, not just in
    # get_spark(): an external harness hands us ITS session, and with a
    # non-UTC zone every timestamp-formatting query (ts_str) would render
    # wall clocks the UTC-based DuckDB oracle cannot reproduce (DST-gap
    # times even shift under the NTZ→TIMESTAMP cast). Idempotent — always
    # "UTC", never toggled back — so no concurrently-built plan can
    # observe a flip. Same hardening as nanosAsLong below.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # nanosAsLong is pinned in get_spark(); re-pin here because the
        # grading driver hands us *its* session, which may not have it. The
        # value is always "true" (idempotent — never toggled back), so no
        # concurrently-built plan can observe a flip.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql.types import LongType, TimestampNTZType

        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            # ns → us must FLOOR (DuckDB semantics), not truncate toward
            # zero; integer-exact for the full bigint range.
            floored_us = F.expr(
                "ts div 1000 - CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END"
            )
            df = df.withColumn("ts", F.timestamp_micros(floored_us))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_str(col: str | Column) -> Column:
    """Render a timestamp as a microsecond ISO string.

    Both engines format identically, which sidesteps tz-aware (Spark, session
    UTC) vs tz-naive (DuckDB) arrow metadata in the driver's value compare.
    DuckDB twin: ``strftime(col, '%Y-%m-%d %H:%M:%S.%f')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")


#: DuckDB twin of :func:`ts_str` — ``TS_STR.format(col="x")``
TS_STR = "strftime({col}, '%Y-%m-%d %H:%M:%S.%f')"


#: (file path, size, mtime) → parquet row-group count; footer-only reads,
#: driver-side planning metadata (never row data), so caching it is the
#: same class of state as Spark's own file-index cache.
_SCAN_UNITS: dict[tuple, int] = {}


def _scan_units(path: str) -> int:
    """Independently readable units (row groups summed across files) under
    ``path`` — the map-side parallelism ceiling of a parquet scan. Returns
    a large number on any error so callers treat unknown layouts as
    already-wide (no plan change)."""
    import os

    try:
        files = []
        if os.path.isdir(path):
            for root, _dirs, names in os.walk(path):
                files += [
                    os.path.join(root, n)
                    for n in names
                    if n.endswith(".parquet") and not n.startswith((".", "_"))
                ]
        else:
            files = [path]
        total = 0
        for f in files:
            st = os.stat(f)
            key = (f, st.st_size, int(st.st_mtime))
            if key not in _SCAN_UNITS:
                import pyarrow.parquet as pq

                _SCAN_UNITS[key] = pq.ParquetFile(f).metadata.num_row_groups
            total += _SCAN_UNITS[key]
        return total
    except Exception:  # noqa: BLE001 — unknown layout: assume wide
        return 1 << 30


def wide(
    spark: SparkSession, df: DataFrame, sf_dir: str, *tables: str
) -> DataFrame:
    """Floor a scan's map-side parallelism at the session default.

    A parquet scan cannot run wider than its row-group count (each row
    group is read whole by the split holding its midpoint), and local
    test corpora ship ONE row group per table — so without this, every
    row-local-heavy stage (per-gram md5, per-char explode, decimal
    folds) runs on a single task regardless of core count. When the
    combined input layout of ``tables`` is narrower than the session's
    ``defaultParallelism``, insert one deterministic round-robin
    repartition (sort-before-repartition is on, so retried tasks
    reproduce the same placement — guide §2.5) carrying only the columns
    already projected. At cluster scale the same input has thousands of
    row groups, the condition is false, and the plan is UNCHANGED — this
    is a scan-width floor derived from input metadata (the
    ``spark.sql.files.minPartitionNum`` idea, applied where extra byte
    splits cannot help), not a local[32] tuning constant.
    """
    import os

    par = spark.sparkContext.defaultParallelism
    units = sum(
        _scan_units(os.path.join(sf_dir, f"{t}.parquet")) for t in tables
    )
    if units >= par:
        return df
    return df.repartition(par)


def portable_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash computable identically in Spark and DuckDB.

    Spark:  ``conv(substring(md5(x), 1, 15), 16, 10)::bigint``
    DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``

    md5 is overkill cryptographically but is the one hash both engines
    expose with identical semantics; 15 hex chars = 60 bits fits BIGINT.
    Used by the MinHash / SimHash operators so their results are
    oracle-checkable; xxhash64 stays the default for internal surrogate keys.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


#: DuckDB twin of :func:`portable_hash60` — ``HASH60.format(x="expr")``
HASH60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
