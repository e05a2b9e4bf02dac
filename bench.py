"""Benchmark harness: run every ``queries()`` entry at the configured scale
factor and print ONE JSON line the driver parses into ``BENCH_r{N}.json``.

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py [query ...]

Environment:
- ``SPARK_GRAFT_SF_DIR`` — testdata dir (default ``/root/testdata/sf0.1``)
- ``SPARK_GRAFT_CPUS``   — local[] parallelism / shuffle partitions (default 32)

Each query is timed end-to-end (plan build + execution). Results are
materialized by hash-aggregating EVERY output column to one row — unlike a
bare ``count()``, this forces all projected expressions to execute (count
lets Catalyst prune projection-only plans to a row count), while still
avoiding driver-side transfer of wide results.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bridgedownstream_spark.queries import _CERTIFYING, REGISTRY, pipeline_q  # noqa: E402
from bridgedownstream_spark.session import get_spark  # noqa: E402

#: The driver keeps only the LAST 2000 bytes of stdout (measured:
#: BENCH_r02.json's "tail" is exactly 2000 chars and its "parsed" is None
#: because the full 92-query JSON line was ~2600 chars and got truncated
#: mid-line). The printed line must therefore fit the window WHOLE: report
#: per-query seconds for the certifying (driver-checked) queries only and
#: write the complete map to BENCH_FULL.json next to this script.
_TAIL_WINDOW = 1900


def materialize(df: DataFrame) -> None:
    """Execute the full plan including every output column."""
    from pyspark.errors import AnalysisException

    try:
        # bit_xor, not sum: summing random 64-bit hashes overflows LongType
        # almost surely beyond ~100 rows, and under ANSI mode (Spark 4
        # default) that throws at RUNTIME — the query would execute
        # partially, fail, and re-run via the fallback, double-charging
        # every timing. XOR is closed over int64.
        df.select(
            F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("h")
        ).agg(F.count("*"), F.expr("bit_xor(h)")).collect()
    except AnalysisException:
        # PLAN-time only: column types xxhash64 can't digest. A runtime
        # failure must propagate into the failures report — count() would
        # prune the projected expressions and mask a query that cannot
        # actually be materialized as a timed success.
        df.count()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Full-run status is keyed on the INVOCATION (no subset args), not on
    # result cardinality: a subset invocation that happens to enumerate
    # every registry name must still land in BENCH_LAST.json, and a full
    # run with failures must still own BENCH_FULL.json.
    full_run = not sys.argv[1:]
    names = sys.argv[1:] or list(REGISTRY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:  # fail BEFORE the multi-minute warmup, with the bad names
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    # sf for the report: parse the trailing sfX.Y path component if present.
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", "")) if base.startswith("sf") else None
    except ValueError:
        sf = None

    spark = get_spark("bench")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warm_up(spark, sf_dir, cpus)

    # SPARK_GRAFT_BENCH_REPS=N takes each query's MIN over N in-session
    # passes (VERDICT r7 #3: single-marathon numbers drift up to 2.1x on
    # scheduler noise — asof_join_events 1.91 s marathon vs 0.92 s
    # isolated; the min is the reproducible plan floor). The committed
    # BENCH_FULL.json runs with REPS=2; default stays 1 for quick looks.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))
    per_query: dict[str, float] = {}
    failures: dict[str, str] = {}
    for rep in range(reps):
        for name in names:
            fn = REGISTRY[name][0]
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                materialize(df)
                t = round(time.perf_counter() - t0, 3)
                if name not in per_query or t < per_query[name]:
                    per_query[name] = t
                failures.pop(name, None)  # a later success clears a flake
            except Exception as e:  # noqa: BLE001
                if name not in per_query:
                    failures[name] = f"{type(e).__name__}: {e}"

    total = round(sum(per_query.values()), 3)
    full = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "sf_dir": sf_dir,
        "n_queries": len(per_query),
        "reps": reps,
        # effective parallelism proof (VERDICT r9 #3)
        "cpus": cpus,
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    if failures:
        full["failures"] = failures
    # BENCH_FULL.json is the committed full-registry artifact — a subset
    # run must never clobber it (it did, twice, before this guard).
    # Subset runs land in BENCH_LAST.json, which tools/scale_ci.py reads.
    artifact = "BENCH_FULL.json" if full_run else "BENCH_LAST.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           artifact), "w") as fh:
        json.dump(full, fh, indent=1)

    print(build_report_line(
        per_query, failures, sf,
        cpus=cpus, parallelism=spark.sparkContext.defaultParallelism,
    ))
    return 1 if failures else 0


def warm_up(spark: SparkSession, sf_dir: str, cpus: int) -> None:
    """Pay the session's one-time costs outside the timed region, so the
    first query isn't charged startup costs: JVM, codegen, parquet footers
    and page cache; the Python worker pool; and every pipeline fixture."""
    # count() alone is answered from footer metadata without touching data
    # pages — count(col) on every column forces a real full-column read.
    for t in ("region", "lineitem", "documents", "embeddings", "events",
              "orders", "customer", "part", "supplier", "nation"):
        try:
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            df.agg(*[F.count(c).alias(f"c{i}") for i, c in enumerate(df.columns)]).collect()
        except Exception:  # noqa: BLE001 — missing optional table
            pass
    # Pre-fork the Python worker pool: the first mapInPandas action pays
    # one fork + pandas/pyarrow import per executor core (~2-4 s across 32
    # cores). That pool is session state — a daemon would have it resident
    # — so spin it up outside the timed region with one trivial pass.
    def _noop(batches):
        for b in batches:
            yield b

    (
        spark.range(cpus * 4, numPartitions=cpus)
        .mapInPandas(_noop, schema="id long")
        .count()
    )
    # Build the pipeline queries' fixture lakes (pipeline_q.FIXTURES): they
    # are write-once ETL artifacts the queries READ; the write→read cycle
    # itself is certified by the correctness gate and timed by
    # tests/test_pipeline.py. Without this the first pipeline query in the
    # process is charged the whole fixture build (measured at 3.6-3.8 s each).
    # No query result is built here: each query computes from its inputs
    # inside its own timed region.
    for build in pipeline_q.FIXTURES:
        # per-builder: one failing fixture must neither skip the remaining
        # builds nor hide its error — the affected queries would silently
        # absorb the build cost (or fail) inside the timed region
        try:
            build(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — warmup is best-effort
            print(f"warmup: {build.__name__} failed: {e!r}", file=sys.stderr)


def build_report_line(
    per_query: dict[str, float],
    failures: dict[str, str],
    sf: float | None,
    cpus: int | None = None,
    parallelism: int | None = None,
) -> str:
    """ONE JSON line ≤ _TAIL_WINDOW bytes: headline (certifying-window)
    queries only, compact separators, 2-decimal times — and a hard guard
    that trims the tail of the headline list rather than ever printing an
    unparseable line. Full per-query data lives in BENCH_FULL.json."""
    headline = [n for n in _CERTIFYING if n in per_query]
    fail_names = list(failures)
    report = {
        "metric": "total_query_seconds",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per_query),
        # prove the parallelism the run executed at (VERDICT r9 #3): cpus
        # echoes $SPARK_GRAFT_CPUS, parallelism is the live
        # sc.defaultParallelism of the local[cpus] master — a scaling
        # block keyed on these can distinguish "env ignored" from
        # "overhead-bound at this SF".
        "cpus": cpus,
        "parallelism": parallelism,
    }
    while True:
        report["queries"] = {n: round(per_query[n], 2) for n in headline}
        report["queries_reported"] = len(headline)
        if failures:  # full messages live in BENCH_FULL.json
            report["failures"] = {n: failures[n][:60] for n in fail_names}
            report["n_failures"] = len(failures)
        line = json.dumps(report, separators=(",", ":"))
        if len(line) <= _TAIL_WINDOW or not (headline or fail_names):
            return line
        # trim the timing detail first, then the failure detail — the
        # mass-failure case (every query failing, per_query empty) must
        # still print a parseable line, so failures trim too
        if headline:
            headline.pop()
        else:
            fail_names.pop()


if __name__ == "__main__":
    raise SystemExit(main())
