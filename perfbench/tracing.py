"""Tracing for the benchmark's traced runs.

Three sources are combined:

- **Spans.** While a :class:`Tracer` is active, the package's public
  pipeline functions are replaced, in the module namespaces their callers
  read them from, by wrappers that record a span per call (name, start,
  end, parent span, operation index). Nothing in the package changes; the
  originals are restored when tracing stops. Each span also sets a Spark
  job group, so the jobs and SQL executions a call fires can be traced
  back to it.
- **Spark's status store.** Per SQL execution, the plan graph with its
  per-operator metrics (Python-worker time, shuffle bytes, aggregation
  build time, rows and bytes written, ...).
- **Streaming progress** from a ``StreamingQueryListener``: the stage-1
  archive stream's listing, batch and commit durations.

:func:`layer_metrics` folds them into the ``<module>.<metric>`` numbers
the benchmark reports, normalised per traced round.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: per-layer metrics, in report order. ``self_s`` is a layer's span time
#: minus the part of it its child spans cover.
_QUERY_METRICS = (
    "build_s",
    "exec_s",
    "build_jobs",
    "exec_jobs",
    "scan_s",
    "shuffle_write_bytes",
    "fetch_wait_s",
    "agg_build_s",
    "spill_bytes",
    "py_run_s",
    "self_s",
)
QUERY_MODULES = ("core", "ops", "pipeline_q", "similarity", "advanced", "curation")
LAYERS: dict[str, tuple[str, ...]] = {
    "sources.archive": ("archives_in", "members_out", "py_run_s", "self_s"),
    "validation": ("py_run_s", "members_invalid", "split_shuffle_bytes", "self_s"),
    "pipeline.ingest": (
        "inject_py_run_s",
        "json_files_written",
        "json_bytes_written",
        "write_s",
        "self_s",
    ),
    "streaming.ingest_stream": ("wall_s", "list_s", "batch_s", "commit_s", "batches", "self_s"),
    "pipeline.workflow": ("discover_s", "stage2_wall_s", "stage2_busy_ratio", "self_s"),
    "pipeline.fsutil": ("files_listed", "list_s", "self_s"),
    "pipeline.ledger": ("read_s", "commit_s", "rows", "self_s"),
    "pipeline.json_to_parquet": (
        "json_scan_s",
        "rows_read",
        "parquet_files_written",
        "parquet_bytes_written",
        "repartition_shuffle_bytes",
        "wall_s",
        "self_s",
    ),
    "operators.relationalize": ("tables_out", "rows_out", "wall_s", "self_s"),
    **{f"queries.{m}": _QUERY_METRICS for m in QUERY_MODULES},
    "spark": ("jobs", "tasks", "task_s", "gc_s", "py_start_s"),
    "trace": ("overhead_s", "overhead_frac"),
}

#: (module, attribute, layer) of every call the tracer wraps; the module is
#: the namespace the caller looks the name up in at call time
TARGETS = (
    ("bridgedownstream_spark.pipeline.workflow", "run_study_workflow", "pipeline.workflow"),
    ("bridgedownstream_spark.pipeline.workflow", "discover_datasets", "pipeline.workflow"),
    ("bridgedownstream_spark.pipeline.workflow", "run_json_to_parquet", "pipeline.json_to_parquet"),
    ("bridgedownstream_spark.streaming.ingest_stream", "stream_ingest", "streaming.ingest_stream"),
    ("bridgedownstream_spark.streaming.ingest_stream", "ingest_archives", "pipeline.ingest"),
    ("bridgedownstream_spark.pipeline.ingest", "read_archives", "sources.archive"),
    ("bridgedownstream_spark.pipeline.ingest", "explode_members", "sources.archive"),
    ("bridgedownstream_spark.pipeline.ingest", "validate_members", "validation"),
    ("bridgedownstream_spark.pipeline.ingest", "split_valid_records", "validation"),
    ("bridgedownstream_spark.pipeline.ingest", "route_datasets", "pipeline.ingest"),
    ("bridgedownstream_spark.pipeline.ingest", "inject_metadata", "pipeline.ingest"),
    ("bridgedownstream_spark.pipeline.ingest", "write_json_lake", "pipeline.ingest"),
    ("bridgedownstream_spark.pipeline.json_to_parquet", "read_json_dataset", "pipeline.json_to_parquet"),
    ("bridgedownstream_spark.pipeline.json_to_parquet", "write_parquet_dataset", "pipeline.json_to_parquet"),
    ("bridgedownstream_spark.pipeline.json_to_parquet", "relationalize", "operators.relationalize"),
    ("bridgedownstream_spark.pipeline.fsutil", "list_data_files", "pipeline.fsutil"),
    ("bridgedownstream_spark.pipeline.fsutil", "path_exists", "pipeline.fsutil"),
    ("bridgedownstream_spark.pipeline.ledger", "path_exists", "pipeline.fsutil"),
)
#: FileLedger methods wrapped on the class
LEDGER_METHODS = ("processed_files", "commit")
_GROUP_PREFIX = "perfbench-span-"


def metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]


def unit_of(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    round: int
    end: float = 0.0
    count: int = 0  # size of the call's result, where it has one

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` that the union of ``intervals``
    covers."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.
    Children that run concurrently are counted once."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.seconds - covered(children[s.id], s.start, s.end) for s in spans}


class Tracer:
    """Records spans around the package's public calls while active."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self.round = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.main_thread().ident

    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        # calls on a worker thread (stage-2 pool, foreachBatch callbacks)
        # belong to whatever the main thread is blocked in
        parent_stack = stack or self._stacks.get(self._main, [])
        with self._lock:
            sp = Span(
                next(self._ids),
                name,
                layer,
                0.0,
                parent_stack[-1].id if parent_stack else None,
                self.round,
            )
            self.spans.append(sp)
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobGroup(f"{_GROUP_PREFIX}{sp.id}", name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", prev)
            self._sc.setLocalProperty("spark.job.description", prev_desc)

    def wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, (list, dict)):
                    sp.count = len(out)
                elif isinstance(out, int) and not isinstance(out, bool):
                    sp.count = out
                return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def active(self):
        """Wrap every target for the duration of the block."""
        from bridgedownstream_spark.pipeline.ledger import FileLedger

        saved = []
        try:
            for mod_name, attr, layer in TARGETS:
                mod = importlib.import_module(mod_name)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(getattr(mod, attr), attr, layer))
            for attr in LEDGER_METHODS:
                saved.append((FileLedger, attr, getattr(FileLedger, attr)))
                setattr(
                    FileLedger,
                    attr,
                    self.wrap(getattr(FileLedger, attr), f"FileLedger.{attr}", "pipeline.ledger"),
                )
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)


# ---------------------------------------------------------------- Spark


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, float]


@dataclass
class Execution:
    id: int
    seconds: float
    job_ids: list[int]
    nodes: list[Node] = field(default_factory=list)

    def total(self, metric: str, name: str | None = None, desc: str | None = None) -> float:
        return sum(
            n.metrics.get(metric, 0.0)
            for n in self.nodes
            if (name is None or n.name.startswith(name)) and (desc is None or desc in n.desc)
        )


_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)(?: (ms|s|m|h|B|KiB|MiB|GiB|TiB))?(?: \(|$)")
_NODE = re.compile(
    r'^\s*\d+ \[id="node\d+" labelType="html" '
    r'label="((?:[^"\\]|\\.)*)" tooltip="((?:[^"\\]|\\.)*)"\];'
)


def parse_value(text: str) -> float | None:
    """A formatted SQL-metric value ("7 ms", "3.1 s", "921.0 B",
    "100,000") in seconds, bytes or units."""
    m = _VALUE.match(text.strip())
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2) or "", 1.0)


def _parse_metrics(lines: list[str]) -> dict[str, float]:
    """``name: value`` lines, or a ``name total (min, med, max ...)`` line
    followed by the value line."""
    out: dict[str, float] = {}
    i = 0
    while i < len(lines):
        line = lines[i]
        if " total (min, med, max" in line and i + 1 < len(lines):
            v = parse_value(lines[i + 1])
            if v is not None:
                out[line.split(" total (min")[0]] = v
            i += 2
            continue
        name, sep, value = line.rpartition(": ")
        v = parse_value(value) if sep else None
        if v is not None:
            out[name] = v
        i += 1
    return out


def parse_dot(dot: str) -> list[Node]:
    """Plan nodes with their metrics from ``SparkPlanGraph.makeDotFile``."""
    nodes = []
    for line in dot.splitlines():
        m = _NODE.match(line)
        if m:
            parts = [p for p in m.group(1).split("<br>") if p]
            name = parts[0].replace("<b>", "").replace("</b>", "") if parts else ""
            nodes.append(Node(name, m.group(2).replace('\\"', '"'), _parse_metrics(parts[1:])))
    return nodes


class SparkStore:
    """Reads Spark's own status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self.next_execution = 0
        self.next_job = 0

    def drain(self) -> None:
        """Wait until every listener event posted so far is processed."""
        self._jsc.listenerBus().waitUntilEmpty()

    def executor_totals(self) -> tuple[float, float, float]:
        """(tasks, task seconds, GC seconds) over every executor so far."""
        ex = self._app.executorList(True)
        tasks = run = gc = 0.0
        for i in range(ex.size()):
            e = ex.apply(i)
            tasks += e.totalTasks()
            run += e.totalDuration() / 1000
            gc += e.totalGCTime() / 1000
        return tasks, run, gc

    def new_jobs(self) -> dict[int, str | None]:
        """Job id -> job group, for jobs submitted since the last call."""
        jobs = self._app.jobsList(None)
        out = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid >= self.next_job:
                g = j.jobGroup()
                out[jid] = g.get() if g.isDefined() else None
        if out:
            self.next_job = max(out) + 1
        return out

    def new_executions(self, parse: bool = True) -> list[Execution]:
        """Finished SQL executions since the last call, with their plan
        metrics when ``parse``."""
        execs = self._sql.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid < self.next_execution:
                continue
            done = e.completionTime()
            seconds = (done.get().getTime() - e.submissionTime()) / 1000 if done.isDefined() else 0.0
            ex = Execution(eid, seconds, [])
            if parse:
                it = e.jobs().keysIterator()
                while it.hasNext():
                    ex.job_ids.append(it.next())
                dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
                ex.nodes = parse_dot(dot)
            out.append(ex)
        if out:
            self.next_execution = max(e.id for e in out) + 1
        return out


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(_GROUP_PREFIX):
        return int(group[len(_GROUP_PREFIX):])
    return None


class StreamProgress:
    """Collects ``StreamingQueryListener`` progress while ``recording``."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self
        self.progress: list[dict] = []
        self.recording = False

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if owner.recording:
                    p = event.progress
                    owner.progress.append(
                        {"rows": p.numInputRows, "ms": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


# ---------------------------------------------------------------- rollup


def layer_metrics(
    spans: list[Span],
    executions: list[Execution],
    job_groups: dict[int, str | None],
    progress: list[dict],
    executor_delta: tuple[float, float, float],
    rounds: int,
    overhead: tuple[float, float],
) -> dict[str, float]:
    """Every ``<layer>.<metric>`` of :data:`LAYERS`, per traced round.

    ``overhead`` is (median traced, median untraced) round seconds.
    """
    out = dict.fromkeys(metric_names(), 0.0)
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)

    def add(key: str, v: float) -> None:
        out[key] += v

    for s in spans:
        add(f"{s.layer}.self_s", selfs[s.id])

    def spans_named(*names: str):
        return [s for s in spans if s.name in names]

    for s in spans_named("stream_ingest"):
        add("streaming.ingest_stream.wall_s", s.seconds)
    for s in spans_named("discover_datasets"):
        add("pipeline.workflow.discover_s", s.seconds)
    for s in spans_named("write_json_lake"):
        add("pipeline.ingest.write_s", s.seconds)
    for s in spans_named("list_data_files"):
        add("pipeline.fsutil.files_listed", s.count)
    for s in spans_named("list_data_files", "path_exists"):
        add("pipeline.fsutil.list_s", s.seconds)
    for s in spans_named("FileLedger.processed_files"):
        add("pipeline.ledger.read_s", s.seconds)
    for s in spans_named("FileLedger.commit"):
        add("pipeline.ledger.commit_s", s.seconds)
        add("pipeline.ledger.rows", s.count)
    for s in spans_named("run_json_to_parquet"):
        add("pipeline.json_to_parquet.wall_s", s.seconds)
    for s in spans_named("relationalize"):
        add("operators.relationalize.wall_s", s.seconds)
        add("operators.relationalize.tables_out", s.count)
    stage2_wall = stage2_busy = 0.0
    for wf in spans_named("run_study_workflow"):
        kids = [s for s in spans if s.parent == wf.id and s.name == "run_json_to_parquet"]
        if kids:
            stage2_wall += max(s.end for s in kids) - min(s.start for s in kids)
            stage2_busy += sum(s.seconds for s in kids)
    add("pipeline.workflow.stage2_wall_s", stage2_wall)
    out["pipeline.workflow.stage2_busy_ratio"] = stage2_busy / stage2_wall if stage2_wall else 0.0

    for p in progress:
        ms = p["ms"]
        add("sources.archive.archives_in", p["rows"])
        add("streaming.ingest_stream.list_s", ms.get("latestOffset", 0) / 1000)
        add("streaming.ingest_stream.batch_s", ms.get("addBatch", 0) / 1000)
        add(
            "streaming.ingest_stream.commit_s",
            (ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1000,
        )
        if p["rows"]:
            add("streaming.ingest_stream.batches", 1)

    # jobs per query span
    for jid, group in job_groups.items():
        sp = by_id.get(span_of_group(group))
        if sp is not None and sp.layer.startswith("queries."):
            kind = "build_jobs" if sp.name.endswith(".build") else "exec_jobs"
            add(f"{sp.layer}.{kind}", 1)
    for s in spans:
        if s.layer.startswith("queries."):
            kind = "build_s" if s.name.endswith(".build") else "exec_s"
            add(f"{s.layer}.{kind}", s.seconds)

    for ex in executions:
        span = None
        for jid in ex.job_ids:
            span = by_id.get(span_of_group(job_groups.get(jid)))
            if span is not None:
                break
        pyrun = "time to run Python workers"
        add("sources.archive.members_out", ex.total("number of output rows", "MapInPandas", "fan_out("))
        add("sources.archive.py_run_s", ex.total(pyrun, "MapInPandas", "fan_out("))
        add("validation.py_run_s", ex.total(pyrun, "MapInPandas", "do_validate("))
        add("pipeline.ingest.inject_py_run_s", ex.total(pyrun, "MapInPandas", "rewrite("))
        add(
            "validation.split_shuffle_bytes",
            ex.total("shuffle bytes written", "Exchange", "hashpartitioning(recordid"),
        )
        add("spark.py_start_s", ex.total("time to start Python workers"))
        for n in ex.nodes:
            if not n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                continue
            path = n.desc.split(",", 1)[0]
            rows = n.metrics.get("number of output rows", 0.0)
            files = n.metrics.get("number of written files", 0.0)
            size = n.metrics.get("written output", 0.0)
            if "/quarantine" in path:
                add("validation.members_invalid", rows)
            elif "/json" in path:
                add("pipeline.ingest.json_files_written", files)
                add("pipeline.ingest.json_bytes_written", size)
            elif "/parquet/" in path:
                add("pipeline.json_to_parquet.parquet_files_written", files)
                add("pipeline.json_to_parquet.parquet_bytes_written", size)
                add("operators.relationalize.rows_out", rows)
        if any(n.name.startswith("Scan json") for n in ex.nodes):
            add("pipeline.json_to_parquet.json_scan_s", ex.seconds)
            add("pipeline.json_to_parquet.rows_read", ex.total("number of output rows", "Scan json"))
        if span is not None and span.name == "write_parquet_dataset":
            add(
                "pipeline.json_to_parquet.repartition_shuffle_bytes",
                ex.total("shuffle bytes written", "Exchange"),
            )
        if span is not None and span.layer.startswith("queries."):
            q = span.layer
            add(f"{q}.scan_s", ex.total("scan time"))
            add(f"{q}.shuffle_write_bytes", ex.total("shuffle bytes written"))
            add(f"{q}.fetch_wait_s", ex.total("fetch wait time"))
            add(f"{q}.agg_build_s", ex.total("time in aggregation build"))
            add(f"{q}.spill_bytes", ex.total("spill size"))
            add(f"{q}.py_run_s", ex.total(pyrun))

    add("spark.jobs", len(job_groups))
    tasks, task_s, gc_s = executor_delta
    add("spark.tasks", tasks)
    add("spark.task_s", task_s)
    add("spark.gc_s", gc_s)

    rounds = max(rounds, 1)
    ratios = {"pipeline.workflow.stage2_busy_ratio"}
    for k in out:
        if k not in ratios:
            out[k] /= rounds
    traced, untraced = overhead
    out["trace.overhead_s"] = traced - untraced
    out["trace.overhead_frac"] = (traced - untraced) / untraced if untraced else 0.0
    return out
