"""get_spark: a session behaves the same whatever directory it starts in."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver finds the package through sys.path; the Python workers the
# session spawns must find it on their own. check_archives' mapInPandas
# closure calls module-level package helpers (the archive's metadata.json
# reader, schema resolution), so a worker that cannot import
# bridgedownstream_spark fails the job. The member fails its schema, so the
# pass emits it with the body as read.
_SCRIPT = textwrap.dedent(
    """
    import io, sys, zipfile
    sys.path.insert(0, sys.argv[1])
    from bridgedownstream_spark.session import get_spark
    from bridgedownstream_spark.pipeline.ingest import check_archives

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("r1/x.json", '{"k": 1}')
        zf.writestr("r1/notes.txt", "not json")
    spark = get_spark("launch-dir-test", master="local[2]", shuffle_partitions=2)
    archives = spark.createDataFrame(
        [("/inbox/r1.zip", buf.getvalue(), "r1", "a", "1", "2024-01-02T00:00:00.000Z", "ios")],
        "path string, content binary, recordid string, assessmentid string, "
        "assessmentrevision string, uploadedon string, clientinfo string",
    )
    members = check_archives(
        archives,
        archive_map={"anyOf": [{"filename": "x.json", "jsonSchema": "u"}]},
        schema_store={"u": {"type": "array"}},
        schema_mapping={},
    )
    rows = members.select("file_name", "body").collect()
    print("MEMBERS", sorted((r.file_name, r.body) for r in rows))
    spark.stop()
    """
)


def test_workers_import_the_package_from_any_launch_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "MEMBERS [('x.json', '{\"k\": 1}')]" in proc.stdout
