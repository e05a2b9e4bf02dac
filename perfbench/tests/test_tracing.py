"""Self-time arithmetic and status-store parsing of the trace collector."""

from __future__ import annotations

import pytest

import tracing
from tracing import Span


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "layer", start, parent, 0, end)


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(1, 4), (3, 6)], 0, 10) == 5
    assert tracing.covered([(8, 12), (-3, 1)], 0, 10) == 3
    assert tracing.covered([(2, 9), (3, 4)], 0, 10) == 7


def test_self_time_on_a_synthetic_tree():
    spans = [
        _span(1, 0, 10),
        _span(2, 1, 4, parent=1),  # overlaps its sibling 3
        _span(3, 3, 6, parent=1),
        _span(4, 8, 12, parent=1),  # runs past its parent's end
        _span(5, 2, 3, parent=2),
    ]
    selfs = tracing.self_times(spans)
    assert selfs[1] == pytest.approx(10 - 5 - 2)
    assert selfs[2] == pytest.approx(3 - 1)
    assert selfs[3] == pytest.approx(3)
    assert selfs[4] == pytest.approx(4)
    assert selfs[5] == pytest.approx(1)


def test_layer_self_time_sums_its_spans():
    spans = [_span(1, 0, 10), _span(2, 2, 5, parent=1)]
    spans[1].layer = "pipeline.ledger"
    spans[0].layer = "pipeline.workflow"
    m = tracing.layer_metrics(spans, [], {}, [], (0, 0, 0), 1, (1.0, 1.0))
    assert m["pipeline.workflow.self_s"] == pytest.approx(7)
    assert m["pipeline.ledger.self_s"] == pytest.approx(3)
    assert set(m) == set(tracing.metric_names())


def test_parse_value_units():
    assert tracing.parse_value("7 ms") == pytest.approx(0.007)
    assert tracing.parse_value("3.1 s (667 ms, 851 ms, 861 ms (stage 0.0: task 2))") == pytest.approx(3.1)
    assert tracing.parse_value("1.5 m") == pytest.approx(90)
    assert tracing.parse_value("921.0 B") == 921
    assert tracing.parse_value("2.0 KiB") == 2048
    assert tracing.parse_value("100,000") == 100000
    assert tracing.parse_value("n/a") is None


DOT = r"""digraph G {
  1 [id="node1" labelType="html" label="<b>Execute InsertIntoHadoopFsRelationCommand</b><br><br>number of written files: 1<br>number of output rows: 7<br>written output: 804.0 B" tooltip="Execute InsertIntoHadoopFsRelationCommand file:/w/parquet/t, false, Parquet, [path=/w/parquet/t]"];

  subgraph cluster7 {
    isCluster="true";
    id="cluster7";
    label="WholeStageCodegen (2)\n \nduration: total (min, med, max (stageId: taskId))\n3.5 s (778 ms, 949 ms, 961 ms (stage 0.0: task 2))";
    tooltip="WholeStageCodegen (2)";
      8 [id="node8" labelType="html" label="<b>HashAggregate</b><br><br>spill size: 0.0 B<br>time in aggregation build total (min, med, max (stageId: taskId))<br>3.1 s (667 ms, 851 ms, 861 ms (stage 0.0: task 2))<br>number of output rows: 28" tooltip="HashAggregate(keys=[k#4L], functions=[partial_count(1)])"];
  }

  10 [id="node10" labelType="html" label="<b>MapInPandas</b><br><br>time to run Python workers total (min, med, max (stageId: taskId))<br>8.1 s (1.9 s, 2.2 s, 2.2 s (stage 0.0: task 2))<br>number of output rows: 100,000" tooltip="MapInPandas fan_out(id#0L, k#1L)#2, [id#3L, k#4L], false"];
}
"""


def test_parse_dot_nodes_and_metrics():
    nodes = tracing.parse_dot(DOT)
    assert [n.name for n in nodes] == [
        "Execute InsertIntoHadoopFsRelationCommand",
        "HashAggregate",
        "MapInPandas",
    ]
    write, agg, mip = nodes
    assert write.metrics == {
        "number of written files": 1,
        "number of output rows": 7,
        "written output": 804,
    }
    assert write.desc.startswith("Execute InsertIntoHadoopFsRelationCommand file:/w/parquet/t")
    assert agg.metrics["time in aggregation build"] == pytest.approx(3.1)
    assert mip.metrics["time to run Python workers"] == pytest.approx(8.1)
    assert mip.metrics["number of output rows"] == 100000
    assert "fan_out(" in mip.desc
