"""Shared foreachBatch attachment — the one place the
writeStream/trigger/checkpoint boilerplate lives, so every micro-batch
stage (trainer, scorer, quality gate, dedup gate, composed pipeline)
starts its stream identically and trigger-option changes happen once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def attach_foreach_batch(
    stream_df: DataFrame,
    process_batch,
    checkpoint: str | None = None,
    trigger_seconds: int = 5,
    available_now: bool = False,
) -> StreamingQuery:
    """Start ``stream_df`` through ``process_batch``: 5 s
    processing-time trigger by default (the reference's
    ``StreamingContext(sc, 5)``), or ``available_now=True`` for a
    one-shot catch-up replay; ``checkpoint`` enables exactly-once
    restart."""
    w = stream_df.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


class ForeachBatchStage:
    """Base for a stage whose whole stream contract is
    ``process_batch(batch_df, batch_id)``: ``attach`` starts ``docs``
    through it. ``self.process_batch`` is resolved when ``attach`` is
    called, so an instance attribute that wraps it wins."""

    def attach(
        self,
        docs: DataFrame,
        checkpoint: str | None = None,
        trigger_seconds: int = 5,
        available_now: bool = False,
    ) -> StreamingQuery:
        return attach_foreach_batch(
            docs, self.process_batch, checkpoint, trigger_seconds, available_now
        )
