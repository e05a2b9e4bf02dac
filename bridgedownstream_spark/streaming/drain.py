"""The one availableNow drain every bounded stream run goes through."""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter

__all__ = ["drain"]


def drain(
    writer: DataStreamWriter, checkpoint: str, timeout_sec: int, what: str
) -> None:
    """Start ``writer`` checkpointed at ``checkpoint`` with an availableNow
    trigger, and wait up to ``timeout_sec`` for it to process everything
    available and stop. A drain that does not finish in time is stopped
    and raises ``TimeoutError`` naming ``what`` and the checkpoint: callers
    assume the sink is complete on return, so a hung drain must not
    return a half-written sink quietly. A failed batch raises from the
    wait as Spark's ``StreamingQueryException``."""
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{what}: drain exceeded {timeout_sec}s (checkpoint={checkpoint})"
        )
