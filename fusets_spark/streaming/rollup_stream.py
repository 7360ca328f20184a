"""Structured Streaming rollup — the streaming twin of the batch ladder.

The reference is batch-only (SURVEY.md §2.8); the continuous-aggregate
requirement comes from the north rule. The batch-incremental pipeline
(plans/pipeline.py) is the primary path because its commit protocol gives
exact resume; this module provides the alternative `readStream` shape for
true streaming ingestion, checkpointed by Spark's own offset log.

The stream is stateless: one foreachBatch writer runs the batch operator,
rollup.rollup_from_raw(with_order_keys=True), over each micro-batch (epoch)
and publishes the result as one tier partial, `output_path/epoch=<id>`.
No window state and no watermark are kept between epochs, so a late point
is never dropped: it lands in a later epoch's partial. Readers merge the
partials with rollup.merge_tier_partials, which is exact under any split
of a bucket (partials carry first_pos/last_pos) and derives avg_val.

Exactly-once: an epoch is written under `output_path/_staging/`, which
Spark and pyarrow readers skip (`_` prefix), then renamed into place.
Spark replays an epoch whose commit it did not record, and the replay
replaces that epoch's directory with the same rows — the discipline of
plans/lineage.TierStore.write_batch."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators import rollup

POINTS_DDL = (
    "source string, doc_id string, pos long, ts timestamp, value double"
)


def _publish(partial: DataFrame, output_path: str, epoch_id: int) -> None:
    """Write `partial` as output_path/epoch=<epoch_id>, replacing any
    directory an earlier attempt at the same epoch left there."""
    staging = os.path.join(output_path, "_staging")
    os.makedirs(staging, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{epoch_id}-", dir=staging)
    try:
        data = os.path.join(tmp, "data")
        partial.write.parquet(data)
        final = os.path.join(output_path, f"epoch={epoch_id}")
        shutil.rmtree(final, ignore_errors=True)
        os.replace(data, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def start_stream_rollup(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    tier: str = "1m",
    integer_values: bool = True,
) -> StreamingQuery:
    """Drain `stream` (source, doc_id, pos, ts, value) into per-epoch tier
    partials under `output_path`. Trigger availableNow processes the
    current backlog and stops (incremental batch over a stream API); a
    restart on the same checkpoint resumes after the last committed epoch."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        partial = rollup.rollup_from_raw(
            batch, tier, integer_values=integer_values, with_order_keys=True
        ).drop("avg_val")
        _publish(partial, output_path, epoch_id)

    return (
        stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def start_file_stream_rollup(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    tier: str = "1m",
) -> StreamingQuery:
    """Production shape: a parquet file source of points (POINTS_DDL, at
    most 16 new files per epoch) drained by start_stream_rollup."""
    stream = (
        spark.readStream.schema(POINTS_DDL)
        .option("maxFilesPerTrigger", "16")
        .parquet(input_path)
    )
    return start_stream_rollup(stream, output_path, checkpoint_path, tier)
