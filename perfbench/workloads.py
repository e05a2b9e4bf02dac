"""The benchmark's workloads.

Each workload prepares its inputs and warms the process up in
:meth:`setup` (untimed), then runs :meth:`round` in a closed loop: one
client, and the next operation starts when the previous one has finished
and been checked. A round is the workload's fixed unit of work and
returns one :class:`Sample` per timed operation. Every sample is either
``heavy`` (bound by data volume) or ``light`` (bound by per-job and
metadata overhead); :meth:`detail` gives the workload's own figures
under their own names, each with its sample count.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import struct
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import archives

#: lake_queries' mix, one query per line of work the package serves: the
#: paper's operational queries and SQL analytics (light) and the iterative
#: graph and vector kernels (heavy). Every query module is represented.
LIGHT_QUERIES = (
    "anti_join_missing",
    "dedup_latest",
    "count_reconciliation_report",
    "json_extract",
    "pipeline_e2e_root",
    "q3_shipping_priority",
)
HEAVY_QUERIES = (
    "pagerank_copurchase",
    "sssp_weighted",
    "minhash_signature",
    "dsir_select",
)
QUERY_MIX = LIGHT_QUERIES + HEAVY_QUERIES


@dataclass
class Sample:
    kind: str  # "cold", "noop" or "query"
    seconds: float
    cpu: float  # CPU seconds of the JVM, its Python workers and this process
    units: int  # archive members ingested, or 1 per query
    ok: bool
    round: int
    load: str  # "heavy" or "light"


def _span(tracer, name: str, layer: str):
    return tracer.span(name, layer) if tracer is not None else contextlib.nullcontext()


def digest(df) -> tuple[int, int]:
    """Materialize every output column: (row count, XOR of row hashes).
    XOR, not sum, so the aggregate cannot overflow."""
    row = (
        df.select(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("h"))
        .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x"))
        .collect()[0]
    )
    return int(row["n"]), int(row["x"] or 0)


class Stopwatch:
    """Wall and CPU seconds of one operation."""

    def __init__(self, cpu):
        self._cpu = cpu

    @contextlib.contextmanager
    def __call__(self):
        t, c = time.perf_counter(), self._cpu()
        took = [0.0, 0.0]
        yield took
        took[:] = time.perf_counter() - t, self._cpu() - c


def _counted(n: int, values: list[float], fn=None) -> dict:
    """A figure with the number of samples behind it."""
    return {"value": (fn or statistics.median)(values) if values else None, "n": n}


class StudyWorkflow:
    """Rounds of ``run_study_workflow`` over a fresh lake.

    A round lands a batch of ``n_archives`` archives and runs the workflow
    cold (``cold``, heavy: unzip, validation, NDJSON and parquet writes),
    then re-runs it ``noops`` times with nothing new (``noop``, light: the
    stream's listing and checkpoint, the ledger and per-job overhead; one
    no-op alone is too short to time steadily). The lake is checked
    against the generator's ground truth after every run; a no-op must add
    no rows. Every round does the same work on a fresh lake, so later
    rounds are not slowed by a growing one.
    """

    n_archives = 120
    noops = 3
    #: archives in the untimed warm-up round
    warm_archives = 12

    def __init__(self, spark, work: str, seed: int, cpu):
        from bridgedownstream_spark.pipeline.registry import DatasetRegistry

        self.spark = spark
        self.work = work
        self.seed = seed
        self.watch = Stopwatch(cpu)
        self.registry = DatasetRegistry(archives.REGISTRY_DOC)
        self.rounds = 0
        self.stored_ratio = None

    def _batch(self, name: str, seed: int, n: int, corrupt: int):
        return archives.generate(os.path.join(self.work, name), seed, n, corrupt=corrupt)

    def setup(self) -> None:
        self.batch = self._batch("batch", self.seed, self.n_archives, corrupt=2)
        warm = self._batch("warm_batch", self.seed + 1_000_003, self.warm_archives, corrupt=1)
        self.setup_ok = all(s.ok for s in self._round(warm, "warm", noops=1))

    def round(self, tracer=None) -> list[Sample]:
        # an active tracer has wrapped the package's calls; nothing to add here
        samples = self._round(self.batch, f"round{self.rounds}", self.noops)
        self.rounds += 1
        return samples

    def _round(self, batch, name: str, noops: int) -> list[Sample]:
        inbox = os.path.join(self.work, name, "inbox")
        root = os.path.join(self.work, name, "lake")
        os.makedirs(inbox)
        rows, truth = batch
        rows = _land(rows, inbox)
        cold = self._workflow(inbox, rows, root)
        cold_ok = lake_matches(root, truth)
        if self.stored_ratio is None and name != "warm":
            stored = sum(_tree_bytes(os.path.join(root, d)) for d in ("json", "parquet", "quarantine"))
            self.stored_ratio = stored / truth.member_bytes
        r = self.rounds
        samples = [Sample("cold", *cold, truth.members, cold_ok, r, "heavy")]
        for _ in range(noops):
            noop = self._workflow(inbox, rows, root)
            samples.append(Sample("noop", *noop, 0, lake_matches(root, truth), r, "light"))
        shutil.rmtree(os.path.join(self.work, name))
        return samples

    def _workflow(self, inbox: str, rows: list[tuple], work_root: str) -> list[float]:
        """Wall and CPU seconds of one workflow run."""
        # looked up on the module at call time, so a tracer's wrapper applies
        from bridgedownstream_spark.pipeline import workflow

        manifest = self.spark.createDataFrame(rows, archives.MANIFEST_DDL)
        with self.watch() as took:
            workflow.run_study_workflow(
                self.spark,
                archive_path=os.path.join(inbox, "*.zip"),
                manifest=manifest,
                archive_map=archives.ARCHIVE_MAP,
                schema_store=archives.SCHEMA_STORE,
                schema_mapping=archives.SCHEMA_MAPPING,
                registry=self.registry,
                work_root=work_root,
            )
        return took

    def detail(self, samples: list[Sample]) -> dict:
        def of(kind):
            return [s for s in samples if s.kind == kind]

        cold, noop = of("cold"), of("noop")
        return {
            "archives": self.n_archives,
            "members": self.batch[1].members,
            "ingest_members_per_s": _counted(len(cold), [s.units / s.seconds for s in cold]),
            "stored_bytes_per_input_byte": self.stored_ratio,
            "cold_p50_s": _counted(len(cold), [s.seconds for s in cold]),
            "noop_p50_s": _counted(len(noop), [s.seconds for s in noop]),
        }


def _land(rows: list[tuple], inbox: str) -> list[tuple]:
    """Hard-link a batch's archives into ``inbox``; return its manifest
    rows with their paths there."""
    out = []
    for path, *rest in rows:
        dst = os.path.join(inbox, os.path.basename(path))
        os.link(path, dst)
        out.append((dst, *rest))
    return out


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path``, read from the footers."""
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def lake_matches(work_root: str, truth: archives.Truth) -> bool:
    rows = {t: parquet_rows(os.path.join(work_root, "parquet", t)) for t in archives.TABLES}
    quarantined = parquet_rows(os.path.join(work_root, "quarantine"))
    return rows == truth.rows and quarantined == truth.quarantine_rows


class LakeQueries:
    """Passes over a fixed mix of registry queries on seeded tables.

    Set-up runs one untimed pass that also checks every query against its
    DuckDB oracle twin; it collects each result for that, so it yields row
    counts, not digests. In the timed passes the first execution of a
    query must match the oracle's row count, and every later one the first
    execution's (count, XOR) digest.
    """

    sf = 0.002

    def __init__(self, spark, work: str, seed: int, cpu):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.watch = Stopwatch(cpu)
        self.data = os.path.join(work, f"sf{self.sf}")
        self.rounds = 0

    def setup(self) -> None:
        import query_tables
        from bridgedownstream_spark.queries import REGISTRY

        query_tables.write(self.data, self.seed, self.sf)
        con = _duckdb(self.data)
        self.rows: dict[str, int] = {}
        self.digests: dict[str, tuple[int, int]] = {}
        self.oracle_ok: dict[str, bool] = {}
        for name in QUERY_MIX:
            fn, oracle = REGISTRY[name]
            result = fn(self.spark, self.data).toPandas()
            self.rows[name] = len(result)
            self.oracle_ok[name] = oracle is not None and same_rows(
                result, con.execute(oracle).df()
            )
        con.close()
        self.setup_ok = all(self.oracle_ok.values())

    def round(self, tracer=None) -> list[Sample]:
        from bridgedownstream_spark.queries import REGISTRY

        samples = []
        for name in QUERY_MIX:
            fn = REGISTRY[name][0]
            layer = "queries." + fn.__module__.rsplit(".", 1)[1]
            with self.watch() as took:
                with _span(tracer, f"{name}.build", layer):
                    df = fn(self.spark, self.data)
                with _span(tracer, f"{name}.exec", layer):
                    d = digest(df)
            ref = self.digests.setdefault(name, d)
            ok = self.oracle_ok[name] and d[0] == self.rows[name] and d == ref
            load = "heavy" if name in HEAVY_QUERIES else "light"
            samples.append(Sample("query", *took, 1, ok, self.rounds, load))
        self.rounds += 1
        return samples

    def detail(self, samples: list[Sample]) -> dict:
        q = sorted(s.seconds for s in samples if s.kind == "query")
        return {
            "sf": self.sf,
            "queries": len(QUERY_MIX),
            "query_p50_s": _counted(len(q), q),
            "query_p90_s": _counted(len(q), q, lambda v: _quantile(v, 0.9)),
            "queries_per_min": _counted(len(q), q, lambda v: 60 * len(v) / sum(v)),
            "oracle_mismatches": sorted(n for n, ok in self.oracle_ok.items() if not ok),
        }


WORKLOADS = {
    "study_workflow": StudyWorkflow,
    "lake_queries": LakeQueries,
}


def _quantile(sorted_values: list[float], q: float) -> float | None:
    if not sorted_values:
        return None
    return sorted_values[min(len(sorted_values) - 1, int(q * len(sorted_values)))]


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _duckdb(data: str):
    import duckdb

    from bridgedownstream_spark.queries.util import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _cell(v):
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))  # bit-exact
    return v


def same_rows(spark_pdf, oracle_pdf) -> bool:
    """Order-insensitive, bit-exact comparison of two result frames:
    same column names, same multiset of rows."""
    cols = sorted(spark_pdf.columns)
    if cols != sorted(oracle_pdf.columns) or len(spark_pdf) != len(oracle_pdf):
        return False

    def rows(pdf):
        out = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
        return sorted(out, key=lambda r: tuple((v is None, str(v)) for v in r))

    return rows(spark_pdf) == rows(oracle_pdf)
