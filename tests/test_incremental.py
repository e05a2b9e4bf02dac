"""Incremental-processing tests: the processed-files ledger, stage 2's
bookmark equivalent. Idempotency is the contract: re-running over the same
input must write zero new rows (reference bookmarks,
json_s3_to_parquet.py:74,103,233; reset protocol
docs/schema_change_protocol.md §3e)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from bridgedownstream_spark.pipeline import DatasetRegistry, run_json_to_parquet
from bridgedownstream_spark.pipeline.ledger import FileLedger
from bridgedownstream_spark.sources import write_ndjson_dataset

REGISTRY = DatasetRegistry(
    {
        "tables": {
            "inc_v1": {
                "columns": [
                    {"Name": "recordid", "Type": "string"},
                    {"Name": "items", "Type": "array<struct<v:int>>"},
                ]
            }
        }
    }
)


def _write_batch(spark, root, records):
    rows = [
        (rid, [(v,) for v in vals], "a1", "2022", "09", "01")
        for rid, vals in records
    ]
    df = spark.createDataFrame(
        rows,
        "recordid string, items array<struct<v:int>>, "
        "assessmentid string, year string, month string, day string",
    )
    write_ndjson_dataset(df, root, "inc_v1")


def test_ledger_idempotent_rerun(spark, tmp_path):
    json_root, pq, led = str(tmp_path / "j"), str(tmp_path / "p"), str(tmp_path / "l")
    ledger = FileLedger(spark, led)
    _write_batch(spark, json_root, [("r1", [1, 2]), ("r2", [3])])

    w1 = run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    assert spark.read.parquet(w1["inc_v1"]).count() == 2
    assert spark.read.parquet(w1["inc_v1_items"]).count() == 3

    # same input, second run: ledger filters everything → zero new rows
    w2 = run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    assert w2 == {}
    assert spark.read.parquet(w1["inc_v1"]).count() == 2
    assert spark.read.parquet(w1["inc_v1_items"]).count() == 3


def test_ledger_processes_only_new_files(spark, tmp_path):
    json_root, pq, led = str(tmp_path / "j"), str(tmp_path / "p"), str(tmp_path / "l")
    ledger = FileLedger(spark, led)
    _write_batch(spark, json_root, [("r1", [1])])
    run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)

    _write_batch(spark, json_root, [("r3", [7, 8, 9])])
    run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    root = spark.read.parquet(f"{pq}/inc_v1")
    assert {r["recordid"] for r in root.collect()} == {"r1", "r3"}
    assert spark.read.parquet(f"{pq}/inc_v1_items").count() == 4  # 1 + 3, no dupes


def test_ledger_reset_reprocesses(spark, tmp_path):
    json_root, pq, led = str(tmp_path / "j"), str(tmp_path / "p"), str(tmp_path / "l")
    ledger = FileLedger(spark, led)
    _write_batch(spark, json_root, [("r1", [1])])
    run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    ledger.reset("inc_v1")
    w = run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    assert w != {}  # reprocessed after reset
    # append mode: the rerun after reset duplicates (the protocol archives
    # the old parquet first — docs/schema_change_protocol.md §3)
    assert spark.read.parquet(f"{pq}/inc_v1").count() == 2


def test_ledger_run_on_missing_dataset_raises(spark, tmp_path):
    # no dataset directory is an error at the JSON read, never a silent
    # empty run that would look like "nothing new"
    json_root, pq, led = str(tmp_path / "j"), str(tmp_path / "p"), str(tmp_path / "l")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_json_to_parquet(
            spark, json_root, pq, "inc_v1", REGISTRY, ledger=FileLedger(spark, led)
        )


def test_ledger_commit_dataframe_and_introspection(spark, tmp_path):
    ledger = FileLedger(spark, str(tmp_path / "l"))
    assert ledger.commit(["f1", "f2"], "ds") == 2
    assert ledger.commit(["f2", "f3"], "ds") == 1  # dup filtered
    # the bookmark is introspectable as a plain table (unlike Glue's,
    # which needed its own script to read)
    assert {r["file_path"] for r in ledger.processed_files("ds").collect()} == {
        "f1", "f2", "f3",
    }


def test_ledger_file_level_pruning_with_empty_file(spark, tmp_path):
    # file-level bookmark pruning: an empty file in a mixed batch is
    # processed without error, contributes no rows, and the subsequent
    # run is a metadata-only no-op
    json_root, pq, led = str(tmp_path / "j"), str(tmp_path / "p"), str(tmp_path / "l")
    ledger = FileLedger(spark, led)
    _write_batch(spark, json_root, [("r1", [1, 2])])
    run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)

    # drop an empty (zero-byte) visible file into the partition dir next
    # to a real new batch
    _write_batch(spark, json_root, [("r2", [3])])
    import glob
    import os

    part_dir = os.path.dirname(
        glob.glob(f"{json_root}/dataset=inc_v1/**/*", recursive=True)[0]
    )
    open(os.path.join(part_dir, "empty-extra.json"), "w").close()

    run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    got = {r["recordid"] for r in spark.read.parquet(f"{pq}/inc_v1").collect()}
    assert got == {"r1", "r2"}

    # third run: nothing new (the empty file is ledgered too) → no-op
    assert run_json_to_parquet(
        spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger
    ) == {}
    assert spark.read.parquet(f"{pq}/inc_v1").count() == 2


def _ledger_files(root) -> list[str]:
    return sorted(str(p) for p in root.rglob("*") if p.is_file())


def test_ledger_commit_empty_list_writes_nothing(spark, tmp_path):
    root = tmp_path / "l"
    ledger = FileLedger(spark, str(root))
    assert ledger.commit([], "ds") == 0
    assert _ledger_files(root) == []
    ledger.commit(["f1"], "ds")
    before = _ledger_files(root)
    assert ledger.commit([], "ds") == 0
    assert _ledger_files(root) == before


def test_ledger_commit_counts_repeated_path_once(spark, tmp_path):
    ledger = FileLedger(spark, str(tmp_path / "l"))
    assert ledger.commit(["f1", "f2", "f1", "f1"], "ds") == 2
    assert sorted(r["file_path"] for r in ledger.processed_files("ds").collect()) == [
        "f1", "f2",
    ]
    assert ledger.processed_paths("ds") == {"f1", "f2"}
    assert ledger.processed_paths("never_committed") == set()


def test_ledger_format_matches_dataframe_append(spark, tmp_path):
    # reference writer: the DataFrame append that defines the ledger
    # format (a distinct createDataFrame(list) through coalesce(1)).
    # FileLedger.commit must write the same parquet schema and rows, and
    # keep deduplicating against a ledger written that way.
    paths = ["s3://b/x/part-0.json", "s3://b/x/part-1.json", "s3://b/y/part-0.json"]
    old, new = tmp_path / "old" / "dataset=ds", tmp_path / "new" / "dataset=ds"
    spark.createDataFrame([(p,) for p in paths], "file_path string").distinct().coalesce(
        1
    ).write.mode("append").parquet(str(old))
    assert FileLedger(spark, str(tmp_path / "new")).commit(paths, "ds") == len(paths)

    new_df, old_df = spark.read.parquet(str(new)), spark.read.parquet(str(old))
    assert new_df.schema == old_df.schema
    assert sorted(new_df.collect()) == sorted(old_df.collect())
    assert len(list(old.glob("*.parquet"))) == len(list(new.glob("*.parquet"))) == 1

    # a ledger in the old layout keeps deduplicating new commits
    legacy = FileLedger(spark, str(tmp_path / "old"))
    assert legacy.processed_paths("ds") == set(paths)
    assert legacy.commit(paths + ["s3://b/z/part-0.json"], "ds") == 1


def _commit_jobs(spark, ledger, paths, group):
    """(paths committed, Spark jobs launched) of one commit run under the
    job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "FileLedger.commit job census")
    try:
        committed = ledger.commit(paths, "ds")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return committed, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ledger_commit_is_one_job(spark, tmp_path):
    ledger = FileLedger(spark, str(tmp_path / "l"))
    # the append is the only job: no parallelize, count or shuffle
    assert _commit_jobs(spark, ledger, ["f1", "f2", "f3"], "ledger-commit-new") == (3, 1)
    # over an existing ledger, one scan reads the committed paths first
    assert _commit_jobs(spark, ledger, ["f3", "f4"], "ledger-commit-more") == (1, 2)
