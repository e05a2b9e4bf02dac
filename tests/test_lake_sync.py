"""Stage-2 lake sync: the NDJSON lake's new files, bookmarked by the
processed-files ledger, go into the parquet lake through a partition-scoped
UPSERT — new records append, re-exported records replace all their rows
(root and child), and already-processed files are never reprocessed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bridgedownstream_spark.pipeline.ledger import FileLedger
from bridgedownstream_spark.pipeline.registry import DatasetRegistry
from bridgedownstream_spark.streaming.lake_sync import stream_upsert_lake

REGISTRY = DatasetRegistry(
    {
        "tables": {
            "rec_v1": {
                "columns": [
                    {"Name": "recordid", "Type": "string"},
                    {"Name": "score", "Type": "double"},
                    {
                        "Name": "items",
                        "Type": "array<struct<name:string,value:bigint>>",
                    },
                ]
            }
        }
    }
)


def _part_dir(json_root: str, aid: str) -> str:
    d = os.path.join(
        json_root, "dataset=rec_v1", f"assessmentid={aid}",
        "year=2024", "month=3", "day=4",
    )
    os.makedirs(d, exist_ok=True)
    return d


def _write_records(path: str, records: list[dict]) -> None:
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def _rec(rid: str, score: float, values: list[int]) -> dict:
    return {
        "recordid": rid,
        "score": score,
        "items": [{"name": f"n{v}", "value": v} for v in values],
    }


def test_stream_sync_upserts_reexports(spark, tmp_path):
    json_root = str(tmp_path / "json")
    pq_root = str(tmp_path / "parquet")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: two records in partition A, one in partition B
    a_dir = _part_dir(json_root, "A")
    b_dir = _part_dir(json_root, "B")
    _write_records(
        os.path.join(a_dir, "f1.ndjson"),
        [_rec("r1", 1.0, [1, 2]), _rec("r2", 2.0, [3])],
    )
    _write_records(os.path.join(b_dir, "f2.ndjson"), [_rec("r3", 3.0, [4])])
    stream_upsert_lake(
        spark, json_root, pq_root, "rec_v1", REGISTRY, ckpt
    )

    root = spark.read.parquet(os.path.join(pq_root, "rec_v1"))
    child = spark.read.parquet(os.path.join(pq_root, "rec_v1_items"))
    assert root.count() == 3
    assert child.count() == 4

    # batch 2 (same checkpoint): r1 re-exported with a SHORTER child array
    # and a new score; r4 brand new. f1/f2 must not be reprocessed.
    _write_records(
        os.path.join(a_dir, "f3.ndjson"),
        [_rec("r1", 9.0, [7]), _rec("r4", 4.0, [8, 9])],
    )
    stream_upsert_lake(
        spark, json_root, pq_root, "rec_v1", REGISTRY, ckpt
    )

    root = spark.read.parquet(os.path.join(pq_root, "rec_v1"))
    child = spark.read.parquet(os.path.join(pq_root, "rec_v1_items"))
    # r1 replaced (not duplicated), r4 added
    assert root.count() == 4
    assert root.where("recordid = 'r1'").count() == 1
    assert root.where("recordid = 'r1'").first()["score"] == 9.0
    # r1's old 2 child rows replaced by 1; r4 adds 2; r2/r3 untouched
    got = {
        (r["recordid"], r["value"])
        for r in child.select("recordid", "value").collect()
    }
    assert got == {("r1", 7), ("r2", 3), ("r3", 4), ("r4", 8), ("r4", 9)}
    # untouched partition B survived the partition-scoped overwrite
    assert root.where("assessmentid = 'B'").count() == 1


def test_stream_sync_shrink_to_empty_deletes_stale_children(spark, tmp_path):
    """A re-export whose child array shrank to EMPTY (or whose nested field
    vanished) emits zero update rows for that recordid in the child table —
    the deletion key set must come from the batch's root recordids, or the
    old child rows survive as stale data."""
    json_root = str(tmp_path / "json")
    pq_root = str(tmp_path / "parquet")
    ckpt = str(tmp_path / "ckpt")

    a_dir = _part_dir(json_root, "A")
    b_dir = _part_dir(json_root, "B")
    _write_records(
        os.path.join(a_dir, "f1.ndjson"), [_rec("r1", 1.0, [1, 2])]
    )
    _write_records(os.path.join(b_dir, "f2.ndjson"), [_rec("r2", 2.0, [3])])
    stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ckpt)
    child_path = os.path.join(pq_root, "rec_v1_items")
    assert spark.read.parquet(child_path).count() == 3

    # r1 re-exported with items=[]; r2 re-exported WITHOUT the items key
    # (field dropped entirely — JSON reads it as null)
    _write_records(
        os.path.join(a_dir, "f3.ndjson"),
        [{"recordid": "r1", "score": 5.0, "items": []}],
    )
    _write_records(
        os.path.join(b_dir, "f4.ndjson"), [{"recordid": "r2", "score": 6.0}]
    )
    stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ckpt)

    root = spark.read.parquet(os.path.join(pq_root, "rec_v1"))
    assert {
        (r["recordid"], r["score"]) for r in root.collect()
    } == {("r1", 5.0), ("r2", 6.0)}
    # every stale child row is gone — the child table is now empty (a
    # fully-emptied parquet-dir table may have no files left to infer a
    # schema from; readers treat that as zero rows)
    try:
        n_child = spark.read.parquet(child_path).count()
    except AnalysisException:
        n_child = 0
    assert n_child == 0


def test_stream_sync_noop_rerun(spark, tmp_path):
    json_root = str(tmp_path / "json")
    pq_root = str(tmp_path / "parquet")
    ckpt = str(tmp_path / "ckpt")
    _write_records(
        os.path.join(_part_dir(json_root, "A"), "f1.ndjson"),
        [_rec("r1", 1.0, [1])],
    )
    stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ckpt)
    # no new files: the re-run must leave the lake byte-identical
    before = sorted(
        r["recordid"]
        for r in spark.read.parquet(os.path.join(pq_root, "rec_v1")).collect()
    )
    stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ckpt)
    after = sorted(
        r["recordid"]
        for r in spark.read.parquet(os.path.join(pq_root, "rec_v1")).collect()
    )
    assert before == after == ["r1"]


def test_sync_skips_sibling_dataset_tables(spark, tmp_path):
    """A directory named ``rec_v1_extra`` in the shared parquet root could
    be rec_v1's child table OR the root table of a sibling dataset
    literally named ``rec_v1_extra``. With the registry's name list, the
    delete-only stale-table merge must leave the sibling's table alone —
    its recordids are shared across a study's datasets, so a wrong-owner
    merge silently deletes live rows."""
    from bridgedownstream_spark.pipeline.registry import DatasetRegistry
    from bridgedownstream_spark.streaming.lake_sync import sync_batch_to_lake

    two = DatasetRegistry(
        {
            "tables": {
                "rec_v1": {
                    "columns": [
                        {"Name": "recordid", "Type": "string"},
                        {"Name": "score", "Type": "double"},
                    ]
                },
                "rec_v1_extra": {
                    "columns": [
                        {"Name": "recordid", "Type": "string"},
                        {"Name": "score", "Type": "double"},
                    ]
                },
            }
        }
    )
    pq_root = str(tmp_path / "parquet")
    parts = ("a1", "2024", "3", "4")
    part_schema = (
        "recordid string, score double, assessmentid string, "
        "year string, month string, day string"
    )
    sibling = spark.createDataFrame([("rA", 1.0, *parts)], part_schema)
    sync_batch_to_lake(
        spark, sibling, two["rec_v1_extra"], pq_root, registry=two
    )
    # sync rec_v1 with the SAME recordid: without ownership resolution the
    # stale-table loop would delete rA from rec_v1_extra's root table
    mine = spark.createDataFrame([("rA", 9.0, *parts)], part_schema)
    sync_batch_to_lake(spark, mine, two["rec_v1"], pq_root, registry=two)
    extra = spark.read.parquet(os.path.join(pq_root, "rec_v1_extra"))
    assert [(r["recordid"], r["score"]) for r in extra.collect()] == [("rA", 1.0)]
    mine_out = spark.read.parquet(os.path.join(pq_root, "rec_v1"))
    assert [(r["recordid"], r["score"]) for r in mine_out.collect()] == [("rA", 9.0)]


def test_stream_sync_keeps_rollup_exact_under_reexports(spark, tmp_path):
    """With rollup maintenance on, every drain leaves the rollup equal to a
    direct re-aggregation of the lake — including after a re-export changes
    values in an already-rolled partition (recompute, not increment)."""
    from pyspark.sql import functions as F

    json_root = str(tmp_path / "json")
    pq_root = str(tmp_path / "parquet")
    ckpt = str(tmp_path / "ckpt")
    rollup = str(tmp_path / "rollup")
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.col("score").cast("decimal(24,10)")).alias("score_sum"),
    ]

    def drain():
        stream_upsert_lake(
            spark, json_root, pq_root, "rec_v1", REGISTRY, ckpt,
            rollup_path=rollup,
            rollup_group_cols=[],
            rollup_aggs=aggs,
        )

    def rollup_by_aid():
        return {
            r["assessmentid"]: (r["n_total"], float(r["s_total"]))
            for r in spark.read.parquet(rollup)
            .groupBy("assessmentid")
            .agg(
                F.sum("n").alias("n_total"), F.sum("score_sum").alias("s_total")
            )
            .collect()
        }

    def direct_by_aid():
        return {
            r["assessmentid"]: (r["n_total"], float(r["s_total"]))
            for r in spark.read.parquet(os.path.join(pq_root, "rec_v1"))
            .groupBy("assessmentid")
            .agg(
                F.count("*").alias("n_total"),
                F.sum(F.col("score").cast("decimal(24,10)")).alias("s_total"),
            )
            .collect()
        }

    a_dir = _part_dir(json_root, "A")
    b_dir = _part_dir(json_root, "B")
    _write_records(
        os.path.join(a_dir, "f1.ndjson"),
        [_rec("r1", 1.0, [1]), _rec("r2", 2.0, [2])],
    )
    _write_records(os.path.join(b_dir, "f2.ndjson"), [_rec("r3", 3.0, [3])])
    drain()
    assert rollup_by_aid() == direct_by_aid() == {"A": (2, 3.0), "B": (1, 3.0)}

    # re-export r1 with a new score into the ALREADY-ROLLED partition A,
    # plus a brand-new record in B: A must be recomputed (not doubled),
    # B incremented
    _write_records(
        os.path.join(a_dir, "f3.ndjson"),
        [_rec("r1", 9.0, [7]), ],
    )
    _write_records(os.path.join(b_dir, "f4.ndjson"), [_rec("r4", 4.0, [8])])
    drain()
    assert rollup_by_aid() == direct_by_aid() == {"A": (2, 11.0), "B": (2, 7.0)}

    # idempotent no-op drain: nothing new, rollup unchanged
    drain()
    assert rollup_by_aid() == {"A": (2, 11.0), "B": (2, 7.0)}

    # cross-partition re-export: r3 moves from B to A — the rollup must
    # recompute BOTH partitions (A gains r3, B loses it) even though the
    # batch itself only carries partition A
    _write_records(os.path.join(a_dir, "f5.ndjson"), [_rec("r3", 5.0, [9])])
    drain()
    assert rollup_by_aid() == direct_by_aid() == {"A": (3, 16.0), "B": (1, 4.0)}

    # emptying re-export: r4 (B's last record) moves to A — B's source
    # partition vanishes, so its rollup rows must be DROPPED, not merely
    # left un-refreshed
    _write_records(os.path.join(a_dir, "f6.ndjson"), [_rec("r4", 6.0, [10])])
    drain()
    assert rollup_by_aid() == direct_by_aid() == {"A": (4, 22.0)}


def _recordids(spark, pq_root) -> list[str]:
    df = spark.read.parquet(os.path.join(pq_root, "rec_v1"))
    return sorted(r["recordid"] for r in df.collect())


def test_late_file_with_an_old_mtime_is_synced(spark, tmp_path):
    # a file is new until the ledger logs it, whatever its mtime: one that
    # lands 8 days older than the newest synced file is still synced
    json_root = str(tmp_path / "json")
    pq_root = str(tmp_path / "parquet")
    ledger = str(tmp_path / "ledger")
    a_dir = _part_dir(json_root, "A")
    f1 = os.path.join(a_dir, "f1.ndjson")
    _write_records(f1, [_rec("r1", 1.0, [1])])
    stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ledger)

    f2 = os.path.join(a_dir, "f2.ndjson")
    _write_records(f2, [_rec("r2", 2.0, [2])])
    old = os.stat(f1).st_mtime - 8 * 86400
    os.utime(f2, (old, old))
    stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ledger)
    assert _recordids(spark, pq_root) == ["r1", "r2"]


def test_lake_sync_jobs_run_under_the_callers_job_group(spark, tmp_path, new_jobs):
    json_root = str(tmp_path / "json")
    pq_root = str(tmp_path / "parquet")
    ledger = str(tmp_path / "ledger")
    sc = spark.sparkContext
    group = "lake-sync-caller"

    def run() -> set[int]:
        new_jobs()
        sc.setJobGroup(group, "lake sync under a caller's job group")
        try:
            stream_upsert_lake(
                spark, json_root, pq_root, "rec_v1", REGISTRY, ledger,
                rollup_path=str(tmp_path / "rollup"),
                rollup_group_cols=[],
                rollup_aggs=[F.count("*").alias("n")],
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return {job for job, _ in new_jobs()}

    a_dir = _part_dir(json_root, "A")
    _write_records(
        os.path.join(a_dir, "f1.ndjson"),
        [_rec("r1", 1.0, [1, 2]), _rec("r2", 2.0, [3])],
    )
    cold = run()
    _write_records(os.path.join(a_dir, "f2.ndjson"), [_rec("r1", 9.0, [7])])
    incremental = run()
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    assert cold and cold <= in_group
    assert incremental and incremental <= in_group
    assert run() == set()  # a no-op run launches no job
    assert _recordids(spark, pq_root) == ["r1", "r2"]


def test_crash_before_the_commit_replays_to_one_clean_run(spark, tmp_path, monkeypatch):
    # a run that dies after its upsert sinks and before its ledger commit
    # leaves its files unlogged; the next run replays them and the upsert
    # replaces the rows the crashed run wrote, so every table ends equal,
    # row for row, to one clean run's
    json_root = str(tmp_path / "json")
    a_dir = _part_dir(json_root, "A")
    b_dir = _part_dir(json_root, "B")
    _write_records(
        os.path.join(a_dir, "f1.ndjson"),
        [_rec("r1", 1.0, [1, 2]), _rec("r2", 2.0, [3])],
    )
    _write_records(os.path.join(b_dir, "f2.ndjson"), [_rec("r3", 3.0, [4])])

    def sync(name):
        stream_upsert_lake(
            spark, json_root, str(tmp_path / name), "rec_v1", REGISTRY,
            str(tmp_path / f"{name}_ledger"),
        )

    sync("clean")
    sync("crashed")
    # a re-export that shrinks r1 and moves r3 to A, plus a new record
    _write_records(
        os.path.join(a_dir, "f3.ndjson"),
        [_rec("r1", 9.0, [7]), _rec("r3", 5.0, [8, 9]), _rec("r4", 4.0, [])],
    )
    sync("clean")

    def crash(self, paths, dataset):
        raise OSError("crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(FileLedger, "commit", crash)
        with pytest.raises(OSError):
            sync("crashed")
    sync("crashed")

    def rows(name, table):
        df = spark.read.parquet(str(tmp_path / name / table))
        return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    for table in ("rec_v1", "rec_v1_items"):
        assert rows("crashed", table) == rows("clean", table), table
    assert _recordids(spark, str(tmp_path / "clean")) == ["r1", "r2", "r3", "r4"]


def test_commit_after_another_run_committed_raises(spark, tmp_path, monkeypatch):
    # run B runs whole inside run A's commit: A's read of the ledger is
    # stale, so A raises at its commit instead of returning as if its
    # files were logged by it
    json_root = str(tmp_path / "json")
    pq_root = str(tmp_path / "parquet")
    ledger = str(tmp_path / "ledger")
    _write_records(
        os.path.join(_part_dir(json_root, "A"), "f1.ndjson"),
        [_rec("r1", 1.0, [1])],
    )
    commit = FileLedger.commit

    def run_b_then_commit(self, paths, dataset):
        monkeypatch.setattr(FileLedger, "commit", commit)
        stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ledger)
        return commit(self, paths, dataset)

    monkeypatch.setattr(FileLedger, "commit", run_b_then_commit)
    with pytest.raises(Exception, match="FileAlreadyExists"):
        stream_upsert_lake(spark, json_root, pq_root, "rec_v1", REGISTRY, ledger)
    assert _recordids(spark, pq_root) == ["r1"]
    assert len(FileLedger(spark, ledger).processed_files("rec_v1")) == 1


def test_missing_dataset_directory_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        stream_upsert_lake(
            spark, str(tmp_path / "json"), str(tmp_path / "parquet"), "rec_v1",
            REGISTRY, str(tmp_path / "ledger"),
        )
