"""Streaming/incremental processing.

- :mod:`.stateful` — custom stateful operator (cross-batch record dedup
  via ``applyInPandasWithState``).
- :mod:`.windowed` — watermarked event-time windowed aggregation.
- :mod:`.joins` — stream-stream interval join (watermarked two-sided
  correlation with bounded state).
- :mod:`.drain` — the one availableNow drain (start, bounded wait, stop
  and raise on timeout) behind every bounded stream run of the three
  modules above.

- :mod:`.ingest_stream` — incremental stage 1 (archives → NDJSON lake),
  one bounded batch of the archives not yet ingested per call.
- :mod:`.lake_sync` — incremental stage 2 whose sink is the
  partition-scoped UPSERT: re-exported records replace their rows in
  place, keeping the parquet lake dedup-latest; one bounded batch of the
  lake files not yet synced per call.

Both stages' incremental jobs — stage 1, the append stage 2 and the lake
sync — are bookmarked by the processed-files ledger
(:mod:`bridgedownstream_spark.pipeline.ledger`), not by a streaming
checkpoint, and run no stream. It is written in the checkpoint logs' own
format (:mod:`bridgedownstream_spark.pipeline.commitlog`): numbered ``v1``
files of one JSON entry per line, readable with any text tool (the
reference needed a script just to *read* its bookmarks,
src/scripts/bookmarks/get-bookmarks.py).
"""

from bridgedownstream_spark.streaming.ingest_stream import stream_ingest
from bridgedownstream_spark.streaming.joins import interval_join_streams
from bridgedownstream_spark.streaming.lake_sync import (
    stream_upsert_lake,
    sync_batch_to_lake,
)
from bridgedownstream_spark.streaming.stateful import dedup_stream
from bridgedownstream_spark.streaming.windowed import session_counts, windowed_counts

__all__ = [
    "stream_ingest",
    "stream_upsert_lake",
    "sync_batch_to_lake",
    "dedup_stream",
    "interval_join_streams",
    "session_counts",
    "windowed_counts",
]
