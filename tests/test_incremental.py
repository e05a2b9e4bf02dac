"""Incremental-processing tests: the processed-files ledger, stage 2's
bookmark equivalent. Idempotency is the contract: re-running over the same
input must write zero new rows (reference bookmarks,
json_s3_to_parquet.py:74,103,233; reset protocol
docs/schema_change_protocol.md §3e)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from bridgedownstream_spark.pipeline import DatasetRegistry, run_json_to_parquet
from bridgedownstream_spark.pipeline.commitlog import append_log, path_key, read_log
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
    # the bookmark is introspectable on the driver (unlike Glue's, which
    # needed its own script to read)
    assert ledger.processed_files("ds") == {path_key(p) for p in ("f1", "f2", "f3")}


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
    assert ledger.processed_files("ds") == {path_key("f1"), path_key("f2")}
    assert ledger.processed_files("never_committed") == set()


def _jobs(spark, group, fn):
    """(``fn()``, Spark jobs launched while it ran under the job group
    ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "FileLedger job census")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ledger_commit_and_read_launch_no_job(spark, tmp_path):
    # the ledger is a log read and written on the driver: neither a first
    # commit, a commit over an existing log nor a read is a Spark job
    ledger = FileLedger(spark, str(tmp_path / "l"))
    first = _jobs(spark, "ledger-commit-new", lambda: ledger.commit(["f1", "f2"], "ds"))
    assert first == (2, 0)
    more = _jobs(spark, "ledger-commit-more", lambda: ledger.commit(["f2", "f3"], "ds"))
    assert more == (1, 0)
    read, jobs = _jobs(spark, "ledger-read", lambda: ledger.processed_files("ds"))
    assert (len(read), jobs) == (3, 0)


def test_ledger_compares_paths_as_uri_values(spark, tmp_path):
    ledger = FileLedger(spark, str(tmp_path / "l"))
    assert ledger.commit(["file:/a/x%20y.json"], "ds") == 1
    assert path_key("file:///a/x y.json") in ledger.processed_files("ds")
    assert ledger.commit(["file:///a/x%20y.json", "file:/a/x y.json"], "ds") == 0

    # a ledger written with the other spelling of the lake's files still
    # makes the re-run a no-op: nothing is read or appended twice
    json_root, pq = str(tmp_path / "j"), str(tmp_path / "p")
    _write_batch(spark, json_root, [("r1", [1])])
    files = [
        "file://" + str(f)
        for f in (tmp_path / "j").rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    ]
    assert files and all(f.startswith("file:///") for f in files)
    assert ledger.commit(files, "inc_v1") == len(files)
    assert (
        run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
        == {}
    )


def test_ledger_second_writer_of_a_log_number_raises(spark, tmp_path):
    log_dir = tmp_path / "l" / "dataset=ds"
    ledger = FileLedger(spark, str(tmp_path / "l"))
    ledger.commit(["f1"], "ds")
    stale = read_log(spark, str(log_dir))
    ledger.commit(["f2"], "ds")  # another writer takes log number 1
    before = (log_dir / "1").read_text()
    with pytest.raises(Exception, match="FileAlreadyExists"):
        append_log(spark, str(log_dir), [{"path": "f3"}], stale)
    assert (log_dir / "1").read_text() == before
    assert sorted(p.name for p in log_dir.iterdir()) == [".0.crc", ".1.crc", "0", "1"]
    assert ledger.processed_files("ds") == {path_key("f1"), path_key("f2")}


@pytest.mark.parametrize(
    "damage",
    [
        lambda text: text[:-3],  # a truncated last line
        lambda text: "v2" + text[2:],  # another log version
        lambda text: "",  # an empty file
    ],
    ids=["truncated", "version", "empty"],
)
def test_unreadable_ledger_raises(spark, tmp_path, damage):
    # a ledger that cannot be read must never read as empty: that would
    # reprocess and double-append every file
    json_root, pq, led = str(tmp_path / "j"), str(tmp_path / "p"), tmp_path / "l"
    ledger = FileLedger(spark, str(led))
    _write_batch(spark, json_root, [("r1", [1])])
    run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    log = led / "dataset=inc_v1" / "0"
    log.write_text(damage(log.read_text()))
    (log.parent / ".0.crc").unlink()
    with pytest.raises(ValueError):
        ledger.processed_files("inc_v1")
    with pytest.raises(ValueError):
        ledger.commit(["f9"], "inc_v1")
    with pytest.raises(ValueError):
        run_json_to_parquet(spark, json_root, pq, "inc_v1", REGISTRY, ledger=ledger)
    assert spark.read.parquet(f"{pq}/inc_v1").count() == 1


def test_ledger_with_a_missing_log_file_raises(spark, tmp_path):
    ledger = FileLedger(spark, str(tmp_path / "l"))
    ledger.commit(["f1"], "ds")
    ledger.commit(["f2"], "ds")
    (tmp_path / "l" / "dataset=ds" / "0").unlink()
    with pytest.raises(ValueError, match="missing"):
        ledger.processed_files("ds")


def test_ledger_compacts_every_tenth_file(spark, tmp_path):
    log_dir = tmp_path / "l" / "dataset=ds"
    ledger = FileLedger(spark, str(tmp_path / "l"))
    batches = [[f"s3a://b/ds/{i}-{j}.json" for j in range(i % 3 + 1)] for i in range(25)]
    for batch in batches:
        assert ledger.commit(batch, "ds") == len(batch)
    names = {p.name for p in log_dir.iterdir() if not p.name.startswith(".")}
    assert names == {str(i) for i in range(25) if i not in (9, 19)} | {
        "9.compact",
        "19.compact",
    }
    union = {path_key(p) for batch in batches for p in batch}
    assert ledger.processed_files("ds") == union
    # the latest compaction holds every entry before it: the files it
    # replaces are not read
    for i in range(19):
        (log_dir / str(i)).unlink(missing_ok=True)
    assert ledger.processed_files("ds") == union


def test_ledger_concurrent_datasets_lose_no_entry(spark, tmp_path):
    # stage 2 diffs and commits each dataset from its own thread of a
    # pool, as run_study_workflow does; with more threads than cores and a
    # short switch interval, no commit may lose another's entries
    import sys
    from concurrent.futures import ThreadPoolExecutor

    ledger = FileLedger(spark, str(tmp_path / "l"))
    datasets = [f"ds{d}" for d in range(8)]

    def commit_all(ds):
        return sum(
            ledger.commit(ledger.new_files([f"{ds}/{i}-{j}" for j in range(2)], ds), ds)
            for i in range(12)
        )

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(datasets)) as pool:
            futures = [pool.submit(commit_all, ds) for ds in datasets]
            committed = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert committed == [24] * len(datasets)
    for ds in datasets:
        assert ledger.processed_files(ds) == {
            path_key(f"{ds}/{i}-{j}") for i in range(12) for j in range(2)
        }
