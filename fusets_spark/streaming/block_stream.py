"""Stateful streaming Gorilla block builder — applyInPandasWithState.

The batch encoder (codec/blocks.py) sees a series' full history at once;
a streaming ingest can't. This operator keeps each series' OPEN buckets
in Spark-managed group state and seals a bucket — emitting its Gorilla
DoD+XOR block — only once the event-time watermark has passed the bucket
end, so late points within the watermark still land in their bucket and
sealed blocks are byte-identical to what the batch encoder produces for
the same points (pinned in tests/test_streaming.py and by the driver
query's decode-identity oracle).

This is the engine's `applyInPandasWithState` surface (brief §custom
stateful operators): state is a pair of arrays (timestamps µs, values)
per (source, doc_id); each micro-batch appends its points, seals
watermark-expired buckets through the block fold every batch path uses
(codec.blocks.block_frame, in canonical_order), and keeps the remainder. At
10^12-sequence scale the state store shards by the group key exactly like
the batch hash buckets, and per-series state is bounded by
(watermark window / point interval) points.

Draining semantics: a bucket seals when `bucket_ts + block_seconds <=
watermark`. Spark's watermark for micro-batch N is derived from data seen
through batch N-1, so a bounded backlog needs a sentinel row (later event
time, junk key) to push the watermark past the real data. One sentinel
staged in the same write as the points is enough: micro-batch 0 buffers
everything and moves the watermark past every real bucket, and Spark's
no-data batch then fires the event-time timeouts that seal them — two
micro-batches in all. See seal_all_with_sentinels() for the recipe the
driver query uses.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..codec.blocks import (
    BLOCK_SCHEMA,
    POINTS_SCHEMA,
    block_frame,
    canonical_order,
    series_codes,
)
from ..kernels import bucket_col
from . import start_per_core

# open points ride the state store as PACKED BINARY columns (raw numpy
# buffers + a pickled doc-id array), not array<primitive>: list-typed state
# boxes every element into a Python object on each update/get — ~2M
# boxed objects per micro-batch at 1M buffered points — while
# tobytes()/frombuffer round-trips are single memcpy-scale operations.
STATE_DDL = "docs binary, ts_us binary, vals binary"

# fixed bucket floor: _g is part of the state key, so a count that followed
# the input would misroute a restored checkpoint's open points
SEAL_BUCKETS = 256


def _seal(
    source: str,
    docs: np.ndarray,
    ts_us: np.ndarray,
    vals: np.ndarray,
    block_seconds: int,
    wm_us: int,
) -> tuple[pd.DataFrame | None, np.ndarray, np.ndarray, np.ndarray]:
    """Split buffered points (possibly MANY series — the state key is a
    hash bucket of series, mirroring the batch encoder's granularity) into
    sealed blocks (bucket fully below the watermark) and the retained open
    remainder. The sealed subset goes through the block fold
    (codec.blocks.block_frame) in canonical order, so the bytes are a
    pure function of each (doc, bucket)'s point multiset — batch/stream
    identical."""
    span = block_seconds * 10**6
    series, labels = series_codes(docs)
    bucket = ts_us - ts_us % span
    o = canonical_order(series, bucket, ts_us, vals)
    series, bucket, ts_us, vals = series[o], bucket[o], ts_us[o], vals[o]
    sealed = bucket + span <= wm_us
    keep = ~sealed
    keep_docs, keep_ts, keep_vals = labels[series[keep]], ts_us[keep], vals[keep]
    if not sealed.any():
        return None, keep_docs, keep_ts, keep_vals
    frame = block_frame(
        np.full(len(labels), source, dtype=object),
        labels,
        series[sealed],
        bucket[sealed],
        ts_us[sealed],
        vals[sealed],
    )
    return frame, keep_docs, keep_ts, keep_vals


def stream_encode_blocks(
    stream: DataFrame,
    block_seconds: int = 3600,
) -> DataFrame:
    """points stream (source, doc_id, ts, value) -> sealed-block stream
    (append mode).

    r7: the state key is (source, hash bucket of doc_id) — the SAME
    granularity the batch encoder and compactor shuffle on — not
    (source, doc_id). Per-series state made applyInPandasWithState invoke
    the Python function once per SERIES per micro-batch (~80k calls/batch
    at 1M events; measured ~40 s of pure per-group machinery), while
    per-bucket state amortizes that to one call per bucket and seals
    every expired (doc, bucket) run inside one vectorized kernel pass.
    Sealing time depends only on the global bucket grid, never on the
    series, so bucketing changes NO sealed byte (identity with the batch
    encoder stays pinned in tests/test_streaming.py). State per group is
    bounded by (bucket span / point interval) × series-per-bucket — the
    same bound the batch hash buckets already impose."""

    span_us = block_seconds * 10**6

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # Called for keys present in the micro-batch AND for keys whose
        # event-time timeout expired (state.hasTimedOut) — the timeout is
        # what re-visits a quiet bucket group once the watermark passes an
        # open bucket's end; without it a group with no new rows would
        # never seal.
        if state.exists:
            old_docs, old_ts, old_vals = state.get
            doc_list = [pickle.loads(bytes(old_docs))]
            ts_list = [np.frombuffer(bytes(old_ts), dtype=np.int64)]
            val_list = [np.frombuffer(bytes(old_vals), dtype=np.float64)]
        else:
            doc_list, ts_list, val_list = [], [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            doc_list.append(pdf["doc_id"].to_numpy(dtype=object))
            ts_list.append(pdf["ts"].astype("int64").to_numpy() // 10**3)
            val_list.append(pdf["value"].to_numpy(np.float64))
        docs = (
            np.concatenate(doc_list)
            if doc_list
            else np.empty(0, dtype=object)
        )
        ts_us = (
            np.concatenate(ts_list) if ts_list else np.empty(0, np.int64)
        )
        vals = (
            np.concatenate(val_list) if val_list else np.empty(0, np.float64)
        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        frame, keep_docs, keep_ts, keep_vals = _seal(
            key[0], docs, ts_us, vals, block_seconds, wm_us
        )
        if len(keep_ts):
            state.update(
                (
                    pickle.dumps(keep_docs, protocol=4),
                    keep_ts.tobytes(),
                    keep_vals.tobytes(),
                )
            )
            # wake this key when the watermark passes the earliest open
            # bucket end (sealing guarantees bucket_end > watermark here,
            # satisfying Spark's strictly-greater requirement)
            next_end_ms = int(
                (keep_ts.min() - keep_ts.min() % span_us + span_us) // 1000
            )
            state.setTimeoutTimestamp(next_end_ms)
        elif state.exists:
            state.remove()
        if frame is not None:
            yield frame

    n = max(SEAL_BUCKETS, stream.sparkSession.sparkContext.defaultParallelism * 8)
    keyed = stream.withWatermark("ts", "0 seconds").withColumn(
        "_g", bucket_col(("doc_id",), n)
    )
    return (
        keyed.groupBy("source", "_g")
        .applyInPandasWithState(
            fn,
            outputStructType=BLOCK_SCHEMA,
            stateStructType=STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def seal_all_with_sentinels(
    spark,
    points_df: DataFrame,
    work_dir: str,
    block_seconds: int = 3600,
    sentinel_source: str = "__sentinel__",
    sink: str = "parquet",
) -> DataFrame:
    """Deterministic bounded-backlog drain: stage the real points plus ONE
    sentinel row, whose event time lies a year past the real data, in one
    parquet write. Micro-batch 0 reads all of it, buffers every point and
    moves the watermark to the sentinel's time; the no-data batch that
    follows fires every real bucket's event-time timeout and seals it.
    Sealed blocks stream to `<work_dir>/blocks` through a parquet file
    sink with a checkpoint at `<work_dir>/ckpt` (exactly-once, nothing
    held driver-side); the returned DataFrame is a parquet scan of the
    sink with the sentinel's rows filtered out. Byte identity with the
    batch encoder is pinned in tests/test_streaming.py.

    sink: only 'parquet' (kept as a keyword for existing callers).
    An empty backlog starts no stream and returns an empty block frame."""
    import os
    import shutil

    from pyspark.sql import functions as F

    if sink != "parquet":
        raise ValueError(f"unknown sink {sink!r} (only 'parquet')")
    # watermarks need TIMESTAMP; parquet NTZ inputs are cast under the
    # session's pinned-UTC zone
    pts = points_df.select(
        "source", "doc_id", F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    far = pts.agg(F.max("ts").alias("m")).collect()[0]["m"]
    if far is None:
        return spark.createDataFrame([], BLOCK_SCHEMA)
    # built from literals, not createDataFrame(list): a list goes through
    # a Python RDD, whose tasks start Python workers of their own
    sentinel = spark.range(1).select(
        F.lit(sentinel_source).alias("source"),
        F.lit("s").alias("doc_id"),
        (F.lit(far) + F.expr("INTERVAL 365 DAYS")).alias("ts"),
        F.lit(0.0).alias("value"),
    )
    pts_path = os.path.join(work_dir, "in")
    blocks_path = os.path.join(work_dir, "blocks")
    ckpt_path = os.path.join(work_dir, "ckpt")
    for path in (pts_path, blocks_path, ckpt_path):
        shutil.rmtree(path, ignore_errors=True)
    # one staging write; with no maxFilesPerTrigger the file source reads
    # all of its part files in micro-batch 0
    pts.unionByName(sentinel).write.parquet(pts_path)
    stream = spark.readStream.schema(POINTS_SCHEMA).parquet(pts_path)
    out = stream_encode_blocks(stream, block_seconds=block_seconds)
    q = start_per_core(
        spark,
        out.writeStream.format("parquet")
        .option("path", blocks_path)
        .option("checkpointLocation", ckpt_path)
        .outputMode("append")
        .trigger(availableNow=True),
    )
    q.awaitTermination()
    return spark.read.parquet(blocks_path).filter(
        F.col("source") != sentinel_source
    )
