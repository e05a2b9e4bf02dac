"""The commit-log format of both stages' bookmarks, read on the driver.

The reference's bookmark is Glue metadata (``transformation_ctx`` plus
``job.commit()``, json_s3_to_parquet.py:74,103,233), never a data scan.
Here both stages' bookmarks are processed-files ledgers
(:class:`~bridgedownstream_spark.pipeline.ledger.FileLedger`: stage 1's
under ``ingest_ledger/``, stage 2's under ``ledger/``), and each ledger is
one log per dataset in the format Spark keeps a streaming checkpoint in
(``HDFSMetadataLog``): a directory of numbered files, each a ``v1`` header
line and then one JSON object per line. Every :data:`COMPACT_INTERVAL`-th
file is written as ``N.compact`` holding every entry so far, so a reader
needs only the latest compaction and the numbered files after it — the
design of Delta Lake's transaction log.

Every read and write is a Hadoop FS call on the driver
(:mod:`.fsutil`), never a Spark job. :func:`read_log` raises
``ValueError`` on anything it cannot read — a gap in the numbering,
another version, a line that is not JSON — so a bookmark that cannot be
read is never taken for an empty one.
"""

from __future__ import annotations

import json
from urllib.parse import unquote, urlsplit

from pyspark.sql import SparkSession

from bridgedownstream_spark.pipeline.fsutil import create_text, list_files, read_text

__all__ = ["read_log", "append_log", "path_key", "path_keys"]

#: every this-many-th file of a compactible log is ``N.compact``; Spark's
#: interval for its file-source and file-sink logs
COMPACT_INTERVAL = 10
_VERSION = "v1"
_COMPACT = ".compact"


def _read_entries(spark: SparkSession, path: str) -> list:
    """The entries of one log file: its lines after the ``v1`` header,
    each parsed as JSON."""
    header, *lines = read_text(spark, path).split("\n")
    if header != _VERSION:
        raise ValueError(f"{path} is not a {_VERSION} log file")
    return [json.loads(line) for line in lines]


def read_log(spark: SparkSession, log_dir: str) -> tuple[int, list] | None:
    """``(last id, every entry)`` of the compactible log in ``log_dir``,
    read from its latest ``N.compact`` and every numbered file after it;
    None when the directory is absent or holds no log file."""
    names = {u.rsplit("/", 1)[-1] for u in list_files(spark, log_dir)}
    numbered = {int(n) for n in names if n.isdecimal()}
    compacted = {
        int(n[: -len(_COMPACT)])
        for n in names
        if n.endswith(_COMPACT) and n[: -len(_COMPACT)].isdecimal()
    }
    if not numbered | compacted:
        return None
    last = max(numbered | compacted)
    base = max(compacted, default=-1)
    after = range(base + 1, last + 1)
    if not set(after) <= numbered:
        raise ValueError(f"{log_dir}: a file before {last} is missing")
    files = ([f"{base}{_COMPACT}"] if base >= 0 else []) + [str(i) for i in after]
    return last, [e for f in files for e in _read_entries(spark, f"{log_dir}/{f}")]


def append_log(
    spark: SparkSession, log_dir: str, entries: list, log: tuple[int, list]
) -> int:
    """Write ``entries`` as the next file of the log whose current state is
    ``log`` (:func:`read_log`'s result; ``(-1, [])`` for a new log), and
    return the file's id. A file whose id + 1 is a multiple of
    :data:`COMPACT_INTERVAL` is written as ``N.compact`` with every entry
    so far. The file appears whole or not at all, and a writer that finds
    its id taken raises and leaves that file as it was
    (:func:`~.fsutil.create_text`)."""
    last, prior = log
    n, name = last + 1, str(last + 1)
    if (n + 1) % COMPACT_INTERVAL == 0:
        name, entries = f"{n}{_COMPACT}", [*prior, *entries]
    body = "\n".join([_VERSION, *map(json.dumps, entries)])
    create_text(spark, f"{log_dir}/{name}", body)
    return n


def _entry_field(entry, key: str, kind: type):
    """``entry[key]``, which must be a ``kind``."""
    if not isinstance(entry, dict) or not isinstance(entry.get(key), kind):
        raise ValueError(f"no {kind.__name__} {key!r} in {entry!r}")
    return entry[key]


def path_keys(entries: list) -> set[tuple[str, str, str]]:
    """The :func:`path_key` of every entry's ``path``, the one field of a
    ledger entry."""
    return {path_key(_entry_field(e, "path", str)) for e in entries}


def path_key(uri: str) -> tuple[str, str, str]:
    """A path URI as a value: ``file:///a`` (the form of
    ``DataFrame.inputFiles()``) and ``file:/a`` (a Hadoop listing's) are
    the same path, and so are a
    %-escaped path and its decoded form."""
    u = urlsplit(uri)
    return u.scheme.lower(), u.netloc, unquote(u.path)
