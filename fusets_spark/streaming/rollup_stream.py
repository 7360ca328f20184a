"""Structured Streaming rollup — the streaming twin of the batch ladder.

The reference is batch-only (SURVEY.md §2.8); the continuous-aggregate
requirement comes from the north rule. The batch-incremental pipeline
(plans/pipeline.py) is the primary path because its commit protocol gives
exact resume; this module provides the alternative `readStream` shape for
true streaming ingestion: tumbling-window aggregates with a watermark for
late data, checkpointed by Spark's own offset log.

Aggregate set IS the batch tiers' (operators/rollup.point_aggs over the
window): n_obs/sum/min/max/avg + first/last by min_by/max_by on pos, which
is unique per series, so first_val/last_val agree with the batch ladder
bit-for-bit.

State width: the aggregation's state store has one shard per core
(start_per_core, spark.sql.shuffle.partitions = defaultParallelism at
start), so each micro-batch's stateful stage is one wave of tasks and
one state commit per core. A checkpoint keeps the width it was created
with; restarts never reshard it."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.rollup import SERIES_KEYS, point_aggs
from . import start_per_core

POINTS_DDL = (
    "source string, doc_id string, pos long, ts timestamp, value double"
)


def stream_rollup_df(
    stream: DataFrame,
    tier_seconds: int = 60,
    watermark: str = "10 minutes",
    integer_values: bool = True,
) -> DataFrame:
    """Windowed tier aggregation over a streaming points frame."""
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            *SERIES_KEYS, F.window("ts", f"{tier_seconds} seconds").alias("w")
        )
        .agg(*point_aggs(F.col("value"), F.col("pos"), integer_values))
    )
    return agg.select(
        *SERIES_KEYS,
        F.col("w.start").alias("bucket_ts"),
        "n_obs",
        "sum_val",
        "min_val",
        "max_val",
        (F.col("sum_val").cast("double") / F.col("n_obs")).alias("avg_val"),
        "first_val",
        "last_val",
    )


def start_file_stream_rollup(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    tier_seconds: int = 60,
    watermark: str = "10 minutes",
) -> StreamingQuery:
    """Production shape: parquet file source -> windowed agg -> parquet sink,
    append mode (only watermark-finalized windows are emitted), exactly-once
    via the checkpointed offset/commit log. Trigger availableNow processes
    the current backlog and stops (incremental batch over a stream API)."""
    stream = (
        spark.readStream.schema(POINTS_DDL)
        .option("maxFilesPerTrigger", "16")
        .parquet(input_path)
    )
    out = stream_rollup_df(stream, tier_seconds, watermark)
    return start_per_core(
        spark,
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True),
    )
