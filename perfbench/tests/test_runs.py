"""Whole benchmark runs, launched from the command line in a child process.

Each traced run takes one to two minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import tracing

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
PIPELINE_LAYERS = (
    "sources.archive",
    "validation",
    "pipeline.ingest",
    "streaming.ingest_stream",
    "pipeline.workflow",
    "pipeline.fsutil",
    "pipeline.ledger",
    "pipeline.json_to_parquet",
    "operators.relationalize",
    "spark",
)


def _run(workload: str, cwd: str, trace: int = 1):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _layer(metrics: dict, layer: str) -> dict[str, float]:
    out = {}
    for name, v in metrics.items():
        owner, leaf = name.rsplit(".", 1)
        if owner == layer:
            out[leaf] = v["value"]
    return out


def test_traced_study_workflow_fills_every_pipeline_layer(tmp_path):
    # launched from a foreign directory: workers must still import the package
    result = _run("study_workflow", str(tmp_path))
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == set(tracing.metric_names())
    for layer in PIPELINE_LAYERS:
        values = _layer(metrics, layer)
        assert values and any(values.values()), layer
        if layer != "spark":
            assert values["self_s"] > 0, layer
    assert "trace.overhead_s" in metrics
    # the query layers do not run here
    assert not any(v for k, v in _layer(metrics, "queries.core").items())


def test_traced_lake_queries_fills_every_query_module():
    result = _run("lake_queries", ROOT)
    assert result["correct"] and result["failed"] == 0
    for module in tracing.QUERY_MODULES:
        values = _layer(result["metrics"], f"queries.{module}")
        assert values["exec_s"] > 0 and values["self_s"] > 0, module
    assert not _layer(result["metrics"], "sources.archive")["members_out"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "study_workflow",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
