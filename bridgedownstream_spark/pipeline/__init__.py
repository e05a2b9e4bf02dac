"""Pipeline jobs: the two-stage lake build.

- :mod:`.registry` — declared-schema dataset registry (the Glue-catalog
  replacement; reference src/glue/resources/table_columns.yaml).
- :mod:`.json_to_parquet` — stage 2: JSON dataset → relationalized,
  partitioned parquet tables (reference src/glue/jobs/json_s3_to_parquet.py).
- :mod:`.ledger` — processed-files ledger giving job-bookmark-style
  incremental semantics (reference transformation_ctx/job.commit()); the
  one bookmark of both stages and of the upsert lake sync.
- :mod:`.commitlog` — the ledger's log format: Spark's numbered ``v1``
  checkpoint-log files, read and appended on the driver (one log per
  dataset).
- :mod:`.compact` — small-file compaction: distributed listing, fragmented
  partitions rewritten at target file size via dynamic partition overwrite.
- :mod:`.upsert` — partition-scoped merge-into (the reference's
  overwrite-by-recordid contract, at lake scale).
- :mod:`.partitions` — the Hive partition-path format (``c=v/c=v``, the
  NULL directory, the path-safe charset) shared by the maintenance sinks.
- :mod:`.workflow` — the one-call study workflow: ledger-bookmarked
  archive ingest → dataset discovery from the lake layout → incremental stage 2
  per dataset (the SNS→Lambda→Glue-workflow lifecycle, minus the cloud).
- :mod:`.rollup` — incrementally-refreshed rollups (continuous
  aggregates): only new partitions aggregate; late data re-refreshes its
  partition under dynamic overwrite.
"""

from bridgedownstream_spark.pipeline.catalog import register_lake_views
from bridgedownstream_spark.pipeline.compact import (
    compact_dataset,
    partition_file_stats,
)
from bridgedownstream_spark.pipeline.registry import DatasetRegistry
from bridgedownstream_spark.pipeline.upsert import upsert_dataset
from bridgedownstream_spark.pipeline.json_to_parquet import (
    conform_to_schema,
    read_json_dataset,
    run_json_to_parquet,
    write_parquet_dataset,
)
from bridgedownstream_spark.pipeline.rollup import refresh_rollup
from bridgedownstream_spark.pipeline.workflow import (
    discover_datasets,
    run_study_workflow,
)

__all__ = [
    "DatasetRegistry",
    "compact_dataset",
    "conform_to_schema",
    "discover_datasets",
    "partition_file_stats",
    "refresh_rollup",
    "register_lake_views",
    "run_study_workflow",
    "read_json_dataset",
    "run_json_to_parquet",
    "upsert_dataset",
    "write_parquet_dataset",
]
