"""Oracle gate for the pipeline queries: every registry query defined in
``queries/pipeline_q.py`` (the ingest, stage-2, streaming and workflow
round trips) is bit-exact against its DuckDB twin at sf0.001, through the
same compare as ``tools/verify_local.py``."""

from __future__ import annotations

import pytest

from bridgedownstream_spark.queries import REGISTRY
from test_plans import SF  # the sf0.001 tables the plan guards build over
from tools.verify_local import compare, duck_connection

PIPELINE_QUERIES = [
    name for name, (fn, _) in REGISTRY.items() if fn.__module__.endswith(".pipeline_q")
]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", PIPELINE_QUERIES)
def test_pipeline_query_matches_oracle(spark, duck, name):
    ok, msg, _ = compare(name, spark, duck, SF)
    assert ok, msg
