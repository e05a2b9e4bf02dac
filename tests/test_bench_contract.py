"""The bench reporting contract: the printed JSON line must survive the
external harness's stdout capture, which keeps only the LAST 2000 bytes
(measured from the r2 bench record, whose stored tail was exactly 2000
chars with the JSON line truncated mid-line and never parsed).

The repo benchmark's tracer (``perfbench/tracing.py``) is pinned here too:
it wraps package names that must stay importable. So is the fixture
registry ``bench.warm_up`` builds.

These tests need no Spark session — they exercise the line builder pure.
"""

from __future__ import annotations

import importlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402
from bridgedownstream_spark.queries import _CERTIFYING, REGISTRY, pipeline_q  # noqa: E402


def _fake_times(names, t=123.456):
    return {n: t for n in names}


def test_full_registry_line_fits_tail_window():
    """Worst realistic case: every registry query present, 3-digit times."""
    line = bench.build_report_line(_fake_times(REGISTRY), {}, 0.1)
    assert len(line) <= bench._TAIL_WINDOW
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_seconds"
    assert parsed["n_queries"] == len(REGISTRY)
    # the whole certifying window should fit without trimming
    assert parsed["queries_reported"] == len(
        [n for n in _CERTIFYING if n in REGISTRY]
    )
    assert set(parsed["queries"]) <= set(_CERTIFYING)


def test_line_with_failures_still_fits_and_parses():
    failures = {f"q{i}": "SomeError: " + "x" * 500 for i in range(5)}
    line = bench.build_report_line(_fake_times(REGISTRY), failures, 0.1)
    assert len(line) <= bench._TAIL_WINDOW
    parsed = json.loads(line)
    assert all(len(m) <= 60 for m in parsed["failures"].values())


def test_mass_failure_line_fits_and_parses():
    """Every query failing (empty per_query) is exactly when the line must
    stay parseable — that is the diagnostic the harness records."""
    failures = {f"query_name_{i}": "PythonException: " + "y" * 200 for i in range(95)}
    line = bench.build_report_line({}, failures, 0.1)
    assert len(line) <= bench._TAIL_WINDOW
    parsed = json.loads(line)
    assert parsed["n_failures"] == 95
    assert parsed["value"] == 0
    assert len(parsed["failures"]) >= 1  # some detail survives the trim


def test_trimming_never_yields_unparseable_line():
    """Even with absurdly long names the builder trims instead of
    overflowing (and keeps the summary fields)."""
    names = {("very_long_query_name_" + "z" * 80 + str(i)): 1.0 for i in range(60)}
    line = bench.build_report_line(names, {}, None)
    assert len(line) <= bench._TAIL_WINDOW
    parsed = json.loads(line)
    assert parsed["value"] == 60.0
    assert parsed["n_queries"] == 60


def test_line_reports_effective_parallelism():
    """VERDICT r9 #3: the line must prove which parallelism the run
    executed at so the driver's scaling block can distinguish "env
    ignored" from "overhead-bound at this SF"."""
    line = bench.build_report_line(
        _fake_times(REGISTRY), {}, 0.1, cpus=8, parallelism=8
    )
    assert len(line) <= bench._TAIL_WINDOW
    parsed = json.loads(line)
    assert parsed["cpus"] == 8
    assert parsed["parallelism"] == 8


def test_certifying_window_is_exactly_fifty():
    """The external harness checks the first 50 registry entries — the
    certifying prefix must fill that window exactly (every SURVEY §2
    component certified, no slot wasted)."""
    assert len(_CERTIFYING) == 50
    assert list(REGISTRY)[:50] == list(_CERTIFYING)


def test_benchmark_tracer_targets_resolve():
    """A traced benchmark run wraps every ``TARGETS`` name and every
    ``LEDGER_METHODS`` method with a bare ``getattr``: deleting or renaming
    one of them in the package crashes every ``--trace 1`` run."""
    from bridgedownstream_spark.pipeline.ledger import FileLedger
    from perfbench import tracing

    for mod_name, attr, _layer in tracing.TARGETS:
        assert callable(getattr(importlib.import_module(mod_name), attr)), (mod_name, attr)
    for attr in tracing.LEDGER_METHODS:
        assert callable(getattr(FileLedger, attr)), attr


def test_warm_up_builds_every_pipeline_fixture():
    """``bench.warm_up`` builds exactly ``pipeline_q.FIXTURES``: every
    ``_build_*`` builder of the module must be registered, once, or its
    first query pays the build inside the timed region."""
    names = [f.__name__ for f in pipeline_q.FIXTURES]
    assert len(names) == len(set(names))
    assert set(names) == {n for n in vars(pipeline_q) if n.startswith("_build_")}


def test_fixture_builds_once_per_sf_dir():
    calls = []
    saved = list(pipeline_q.FIXTURES)
    try:

        @pipeline_q._fixture
        def _build_probe(spark, sf_dir):
            calls.append(sf_dir)
            if len(calls) == 1:
                raise OSError("first build fails")
            return f"built:{sf_dir}"

        assert pipeline_q.FIXTURES[-1] is _build_probe
        assert _build_probe.__name__ == "_build_probe"
        try:
            _build_probe(None, "a")
        except OSError:
            pass
        got = [_build_probe(None, d) for d in ("a", "a", "b", "a", "b")]
        assert got == ["built:a", "built:a", "built:b", "built:a", "built:b"]
        assert calls == ["a", "a", "b"]  # a failed build is retried
    finally:
        pipeline_q.FIXTURES[:] = saved
