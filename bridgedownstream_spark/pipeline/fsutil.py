"""Thin wrappers over the Hadoop FileSystem API.

Path existence / listing / reading / deletion must go through Hadoop's FS
layer (not ``os``) so the same code works on file://, s3a://, and hdfs://
— one RPC per call, never a recursive local walk. The workflow's dataset
discovery, both stages' bookmark logs (:mod:`.commitlog`: the
processed-files ledgers, read and written on the driver), the upsert
sink's empty-partition cleanup and the rollup's existence check all use
these helpers (a blanket ``except`` around ``spark.read`` treats
transient failures as "table absent", which is how aggregates get
silently doubled — check existence explicitly instead).
"""

from __future__ import annotations

from uuid import uuid4

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

__all__ = [
    "path_exists",
    "list_dirs",
    "list_files",
    "read_text",
    "create_text",
    "list_data_files",
    "delete_path",
    "has_data_files",
]


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of the immediate subdirectories of ``path`` ([] if absent)."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        s.getPath().getName() for s in fs.listStatus(p) if s.isDirectory()
    )


def list_files(spark: SparkSession, path: str) -> list[str]:
    """URIs of the files directly under ``path`` ([] if absent; ``path``
    itself if it is a file), from one ``listStatus``."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().toUri().toString() for st in fs.listStatus(p) if not st.isDirectory()]


def read_text(spark: SparkSession, path: str) -> str:
    """The whole file at ``path``, decoded as UTF-8."""
    fs, p = _fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def create_text(spark: SparkSession, path: str, text: str) -> None:
    """Create the file ``path`` holding ``text`` (UTF-8), whole or not at
    all: it is written under a hidden temporary name beside ``path``, then
    renamed with ``FileContext.rename(..., Options.Rename.NONE)``. If
    ``path`` already exists the rename raises, and that file is left as it
    was. The rename is atomic on local FS and HDFS; on s3a it is a copy, so
    there two writers racing for one name are not excluded."""
    fs, p = _fs_and_path(spark, path)
    p = fs.makeQualified(p)
    jvm = spark.sparkContext._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(p.getParent(), f".{p.getName()}.{uuid4().hex}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    no_overwrite = spark.sparkContext._gateway.new_array(rename, 1)
    no_overwrite[0] = rename.NONE
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    try:
        jvm.org.apache.hadoop.fs.FileContext.getFileContext(p.toUri(), conf).rename(
            tmp, p, no_overwrite
        )
    except Py4JJavaError:
        fs.delete(tmp, False)
        raise


def list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Fully-qualified URIs of every VISIBLE file under ``path``,
    recursively, applying Spark's hidden-path rule (any component starting
    with ``_`` or ``.`` hides its whole subtree) — i.e. exactly the files a
    ``spark.read`` over the directory would scan. File-count-scale driver
    metadata, one FS traversal: this is what lets the ledger prune work at
    the LISTING instead of anti-joining parsed rows (a no-op incremental
    run then touches zero data bytes, like a Glue bookmark)."""
    return sorted(st.getPath().toString() for st in _visible_files(spark, path))


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path``; True if something was removed."""
    fs, p = _fs_and_path(spark, path)
    return bool(fs.delete(p, True))


def has_data_files(spark: SparkSession, path: str, suffix: str = ".parquet") -> bool:
    """True iff ``path`` contains at least one VISIBLE data file,
    recursively, applying the same hidden-path rule Spark's readers do:
    any path component starting with ``_`` or ``.`` hides the whole
    subtree. (A flat ``listFiles`` sweep would count parquet files inside
    ``_temporary``/``.staging`` left by a crashed write — files
    ``spark.read.parquet`` ignores — and report a readable table where the
    reader sees none.)

    A directory can EXIST yet hold no data — e.g. a table whose every
    partition was removed by a delete-only merge leaves only ``_SUCCESS``
    markers, and ``spark.read.parquet`` on it raises (no footer to infer a
    schema from). Existence alone is therefore the wrong "is there a
    table?" probe; this one stops at the first real data file.
    """
    return any(
        st.getPath().getName().endswith(suffix)
        for st in _visible_files(spark, path)
    )


def _visible_files(spark: SparkSession, path: str):
    """Yield the ``FileStatus`` of every visible file under ``path``
    (nothing if it is absent), applying Spark's hidden-path rule: a
    component starting with ``_`` or ``.`` hides its whole subtree."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return
    stack = [p]
    while stack:
        for st in fs.listStatus(stack.pop()):
            if st.getPath().getName().startswith(("_", ".")):
                continue  # hidden file OR hidden subtree
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                yield st
