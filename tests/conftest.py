from __future__ import annotations

import pytest

from bridgedownstream_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # default.parallelism=8: the suite builds hundreds of tiny
    # createDataFrame/mapInPandas jobs whose data fits one partition —
    # on local[32] each would otherwise schedule 32 (mostly empty) tasks,
    # pure scheduler overhead at test scale. Semantics are partition-
    # count-independent (the oracle gate runs the production 32).
    spark = get_spark(
        "bridgedownstream-tests",
        shuffle_partitions=8,
        extra_conf={"spark.default.parallelism": "8"},
    )
    yield spark


@pytest.fixture
def new_jobs(spark):
    """``new_jobs()`` returns ``(job id, task count)`` of every Spark job
    launched since its previous call (or since the test began), read from
    Spark's status store once its listener events are processed."""
    sc = spark.sparkContext._jsc.sc()

    def listed() -> list[tuple[int, int]]:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return [(j.jobId(), j.numTasks()) for j in (jobs.apply(i) for i in range(jobs.size()))]

    seen = {job for job, _ in listed()}

    def new() -> list[tuple[int, int]]:
        fresh = sorted(j for j in listed() if j[0] not in seen)
        seen.update(job for job, _ in fresh)
        return fresh

    return new
