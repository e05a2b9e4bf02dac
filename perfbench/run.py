"""Benchmark of the bridgedownstream_spark pipeline and query surface.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload study_workflow --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``study_workflow`` (rounds of a cold
archive-to-parquet workflow run and no-op re-runs over a fresh lake) and
``lake_queries`` (passes over a fixed mix of registry queries). One
process runs one single-node ``local[nproc]`` Spark session with the
package's own defaults, driven by one client in a closed loop:
whole rounds until ``--seconds`` have passed, at least one.

With ``--trace 0`` the last stdout line is the end-to-end result::

    {"correct": ..., "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

- ``setup_s``: process start to the first timed operation (JVM and
  session start, input generation, warm-up);
- ``heavy_cpu_s``: CPU seconds a round spends in data-bound operations —
  the cold workflow run, or the graph and vector kernel queries of a pass;
- ``light_cpu_s``: CPU seconds a round spends in overhead-bound operations
  — the no-op re-runs, or the operational and SQL queries of a pass.

Both are medians over the run's rounds, counted over the Spark JVM, its
Python workers and this process: the compute a user pays for on a metered
cluster. A round is the workload's fixed unit of work: cold run + no-ops,
or one pass of the query mix. The operations' wall seconds are in the
line before the result: on a shared virtual machine they move with the
neighbours' load (steal reached 20% of CPU time on the 4-vCPU host the
bounds were set on), CPU seconds much less.

With ``--trace 1`` the run alternates untraced and traced rounds and
reports the per-layer metrics of ``tracing.py`` instead; the spans and
per-operator numbers go to ``.perfbench_out/``. The line before the result
holds the workload's own figures with their sample counts, the failed
fraction, the sampled peak RSS of the JVM and its Python workers, and the
configuration (git sha, nproc, seed, sf, Spark and Python
versions).

Everything a run writes stays in a private directory under
``.perfbench_work/`` of the checkout, removed at exit. Exits non-zero
without a result when the package is not next to this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bridgedownstream_spark"


def _args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) of process ``root`` and all its descendants.

    CPU counts user and system time, plus that of children a process has
    reaped (Spark's Python daemon reaps its workers). Time the host takes
    back from this machine's CPUs is not charged to any process.
    """
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    ticks = rss_pages = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        fields = stats.get(pid)
        if fields:
            # utime, stime, cutime, cstime; resident pages
            ticks += sum(int(v) for v in fields[11:15])
            rss_pages += int(fields[21])
    return ticks / _TICK, rss_pages * os.sysconf("SC_PAGE_SIZE")


def cpu_clock(jvm_pid: int):
    """CPU seconds so far of this process (not its children) and the JVM's
    whole process tree."""

    def cpu() -> float:
        own = os.times()
        return own.user + own.system + tree_usage(jvm_pid)[0]

    return cpu


class RssSampler:
    """Peak summed RSS of a process and all its descendants, sampled on a
    background thread."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage(self.pid)[1])
            self._stop.wait(self.interval)


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _environment(work: str) -> int:
    """Point the package, Spark and every temporary file at the checkout
    and the private work directory. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # keeps the JVM's temporary files and its perf-data file out of /tmp
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the package too, whatever the launch directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return cpus


def _closed_loop(wl, seconds: float):
    """Whole rounds until ``seconds`` have passed."""
    samples = []
    t0 = time.perf_counter()
    while True:
        samples += wl.round()
        if time.perf_counter() - t0 >= seconds:
            return samples


def _round_seconds(samples, load: str | None = None, clock: str = "seconds") -> list[float]:
    """Wall (or CPU) seconds each round spent in its operations, or in
    those of one load."""
    rounds: dict[int, float] = {}
    for s in samples:
        if load is None or s.load == load:
            rounds[s.round] = rounds.get(s.round, 0.0) + getattr(s, clock)
    return list(rounds.values())


def _traced_loop(spark, wl, seconds: float, out_path: str):
    """Alternate untraced and traced rounds; return (samples, per-layer
    metrics)."""
    import tracing as tr

    tracer = tr.Tracer(spark)
    store = tr.SparkStore(spark)
    progress = tr.StreamProgress()
    store.drain()
    store.new_jobs()
    store.new_executions(parse=False)
    samples, executions, jobs = [], [], {}
    round_s = {False: [], True: []}
    delta = [0.0, 0.0, 0.0]
    t0 = time.perf_counter()
    r = 0
    while r < 2 or time.perf_counter() - t0 < seconds:
        traced = r % 2 == 1
        if traced:
            tracer.round = r
            before = store.executor_totals()
            spark.streams.addListener(progress.listener)
            progress.recording = True
            with tracer.active():
                got = wl.round(tracer)
            store.drain()
            progress.recording = False
            spark.streams.removeListener(progress.listener)
            after = store.executor_totals()
            delta = [d + a - b for d, a, b in zip(delta, after, before)]
            jobs.update(store.new_jobs())
            executions += store.new_executions()
        else:
            got = wl.round()
            store.drain()
            store.new_jobs()
            store.new_executions(parse=False)
        round_s[traced].append(sum(s.seconds for s in got))
        samples += got
        r += 1
    n_traced = len(round_s[True])
    metrics = tr.layer_metrics(
        tracer.spans,
        executions,
        jobs,
        progress.progress,
        tuple(delta),
        n_traced,
        (statistics.median(round_s[True]), statistics.median(round_s[False])),
    )
    _write_trace(out_path, tracer, executions, jobs)
    return samples, metrics


def _write_trace(path: str, tracer, executions, jobs) -> None:
    import tracing as tr

    selfs = tr.self_times(tracer.spans)
    exec_span = {}
    for ex in executions:
        for jid in ex.job_ids:
            sid = tr.span_of_group(jobs.get(jid))
            if sid is not None:
                exec_span[ex.id] = sid
                break
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [
                    {
                        "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                        "round": s.round, "start": s.start, "end": s.end,
                        "self_s": selfs[s.id], "count": s.count,
                    }
                    for s in tracer.spans
                ],
                "executions": [
                    {
                        "id": ex.id, "span": exec_span.get(ex.id), "seconds": ex.seconds,
                        "nodes": [
                            {"name": n.name, "metrics": n.metrics}
                            for n in ex.nodes if n.metrics
                        ],
                    }
                    for ex in executions
                ],
            },
            f,
        )


def _run(args, work: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    cpus = _environment(work)
    from pyspark import __version__ as spark_version

    from bridgedownstream_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    proc = spark.sparkContext._gateway.proc
    try:
        with RssSampler(proc.pid) as rss:
            wl = WORKLOADS[args.workload](
                spark, os.path.join(work, "data"), args.seed, cpu_clock(proc.pid)
            )
            wl.setup()
            setup_s = time.perf_counter() - START
            if args.trace:
                out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
                samples, layer = _traced_loop(spark, wl, args.seconds, out)
            else:
                samples = _closed_loop(wl, args.seconds)
    finally:
        spark.stop()
        # the JVM exits when its stdin closes, taking its Python workers along
        proc.stdin.close()
        proc.wait(timeout=120)

    failed = sum(not s.ok for s in samples)
    if args.trace:
        import tracing

        metrics = {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            **{
                f"{load}_cpu_s": {
                    "value": statistics.median(_round_seconds(samples, load, "cpu")),
                    "unit": "s",
                }
                for load in ("heavy", "light")
            },
        }
    detail = {
        "workload": args.workload,
        "config": {
            "git_sha": _git_sha(),
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "seed": args.seed,
            "sf": getattr(wl, "sf", None),
            "spark": spark_version,
            "python": platform.python_version(),
            "trace": args.trace,
        },
        "setup_ok": wl.setup_ok,
        "samples": {k: sum(s.kind == k for s in samples) for k in sorted({s.kind for s in samples})},
        "failed_frac": failed / len(samples),
        # not an end-to-end metric: under the default 8g heap the JVM's
        # growth depends on GC timing, 2.8-8.6 GB across seeds of one workload
        "peak_rss_mb": rss.peak / 2**20,
        "round_seconds": _round_seconds(samples),
        **{f"{load}_s": statistics.median(_round_seconds(samples, load)) for load in ("heavy", "light")},
        **wl.detail(samples),
    }
    result = {
        "correct": wl.setup_ok and failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch)
    try:
        detail, result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
