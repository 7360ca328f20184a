"""Streaming twins of the batch rollup ladder and block encoder.

The rollup stream (rollup_stream) is stateless. The block sealer
(block_stream) is the one stateful stream, and it starts through
start_per_core(), so its state store has one shard per core
(spark.sql.shuffle.partitions = defaultParallelism). AQE does not run on
streaming queries, so the session's batch-sized shuffle width would
otherwise become the state width, and every micro-batch pays one state
commit per shard.
"""

from __future__ import annotations

import threading

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_WIDTH_KEY = "spark.sql.shuffle.partitions"
# serializes the set/start/restore below: two threads interleaving it on
# one session would let the second save the first's temporary width and
# restore it last
_START_LOCK = threading.Lock()


def start_per_core(spark, writer: DataStreamWriter) -> StreamingQuery:
    """Start `writer` with one state shard per core.

    The width is set on the caller's session only around start():
    StreamExecution clones the session synchronously inside start(), and
    the query runs on that clone. The first batch records the width in the
    offset log, so a restart on an existing checkpoint keeps the width the
    checkpoint was created with. A query started on spark.newSession()
    would register on the clone's StreamingQueryManager instead of
    spark.streams, where listeners would never see it."""
    with _START_LOCK:
        prev = spark.conf.get(_WIDTH_KEY, None)
        spark.conf.set(_WIDTH_KEY, str(spark.sparkContext.defaultParallelism))
        try:
            return writer.start()
        finally:
            if prev is None:
                spark.conf.unset(_WIDTH_KEY)
            else:
                spark.conf.set(_WIDTH_KEY, prev)
