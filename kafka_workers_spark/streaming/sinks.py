"""Sinks: the reference has none built in — user tasks produce wherever
they want (README.md:303 lists closed-source connectors; MergerTest's task
holds a raw KafkaProducer, MergerTest.java:165-182). On Spark the sink
surface is ``writeStream`` + ``foreachBatch``, which upgrades the
reference's at-least-once ceiling to end-to-end exactly-once when the
batch write is idempotent or transactional (SURVEY.md §2 Table B).

``exactly_once_parquet_sink`` demonstrates the canonical idempotent
pattern: each micro-batch writes to a deterministic ``batch_id``-derived
path with overwrite, so a replayed batch (failure between write and
checkpoint commit) overwrites its own previous attempt instead of
duplicating. This is the standard Spark recipe — checkpoint tracks which
batches are committed; the path layout makes retries idempotent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def foreach_batch_sink(
    df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """The A4 'process + produce anywhere' surface: user code per
    micro-batch, checkpointed offsets, any DataFrame writer inside."""
    writer = df.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def exactly_once_parquet_sink(
    df: DataFrame, out_dir: str, checkpoint: str, trigger_available_now: bool = True
) -> StreamingQuery:
    """End-to-end exactly-once file sink via idempotent per-batch paths."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return foreach_batch_sink(
        df, write_batch, checkpoint, trigger_available_now=trigger_available_now
    )
