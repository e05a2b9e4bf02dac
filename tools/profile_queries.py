"""Per-query profiling: split wall time into DataFrame build (Python +
analysis), planning (explain), and execution (the bench materialize), and
optionally dump ``explain("formatted")`` to a file per query.

Usage::

    python tools/profile_queries.py [--plans DIR --suffix _before] \
        [--reps N] [sf_dir] query [query ...]

Writes one line per query: build_s, explain_s, exec_s (min over reps).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bridgedownstream_spark.queries import REGISTRY  # noqa: E402
from bridgedownstream_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    suffix = ""
    reps = 1
    while args and args[0].startswith("--"):
        if args[0] == "--plans":
            plans_dir = args[1]
            args = args[2:]
        elif args[0] == "--suffix":
            suffix = args[1]
            args = args[2:]
        elif args[0] == "--reps":
            reps = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    names = args or list(REGISTRY)

    import bench

    spark = get_spark("profile")
    bench.warm_up(spark, sf_dir, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    print(f"{'query':35s} {'build':>7s} {'explain':>8s} {'exec':>7s}")
    for name in names:
        fn = REGISTRY[name][0]
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            t2 = time.perf_counter()
            bench.materialize(df)
            t3 = time.perf_counter()
            row = (t1 - t0, t2 - t1, t3 - t2)
            if best is None or sum(row) < sum(best):
                best = row
        print(f"{name:35s} {best[0]:7.2f} {best[1]:8.2f} {best[2]:7.2f}")
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
