"""Streaming rollup: the streaming windowed aggregation must agree with the
batch rollup on every window it emits (complete-mode memory sink for full
equality; append-mode file pipeline for the production shape)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fusets_spark.datagen import generate_tokens
from fusets_spark.operators.explode import explode_raw
from fusets_spark.operators.rollup import rollup_from_raw
from fusets_spark.streaming.rollup_stream import (
    POINTS_DDL,
    start_file_stream_rollup,
    stream_rollup_df,
)

WIDTH = "spark.sql.shuffle.partitions"


def _points_pdf(spark, n_docs=40, seed=5):
    toks = generate_tokens(spark, n_docs, seed=seed, min_tok=32, max_tok=200)
    return explode_raw(toks)


def test_streaming_equals_batch_complete_mode(spark, tmp_path):
    pts = _points_pdf(spark)
    src = str(tmp_path / "pts")
    pts.write.parquet(src)

    stream = (
        spark.readStream.schema(POINTS_DDL).parquet(src)
    )
    q = (
        stream_rollup_df(stream, tier_seconds=60)
        .writeStream.format("memory")
        .queryName("t1m_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = ["source", "doc_id", "bucket_ts", "n_obs", "sum_val",
            "min_val", "max_val", "first_val", "last_val", "avg_val"]
    got = spark.table("t1m_stream").select(*cols).toPandas()
    want = rollup_from_raw(spark.read.parquet(src), "1m").select(*cols).toPandas()
    key = ["source", "doc_id", "bucket_ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_file_pipeline_append_mode(spark, tmp_path):
    pts = _points_pdf(spark, n_docs=30, seed=9)
    src = str(tmp_path / "pts2")
    pts.write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = start_file_stream_rollup(spark, src, out, ckpt, tier_seconds=60)
    q.awaitTermination(120)

    emitted = spark.read.parquet(out).toPandas()
    batch = rollup_from_raw(spark.read.parquet(src), "1m").toPandas()
    # append mode emits only watermark-finalized windows: a subset of batch
    key = ["source", "doc_id", "bucket_ts"]
    b = batch.set_index(key)
    for _, row in emitted.iterrows():
        k = (row["source"], row["doc_id"], row["bucket_ts"])
        assert k in b.index
        assert row["n_obs"] == b.loc[k, "n_obs"]
        assert row["sum_val"] == b.loc[k, "sum_val"]
    # restarting on the same checkpoint emits nothing new (exactly-once)
    n_before = len(emitted)
    q2 = start_file_stream_rollup(spark, src, out, ckpt, tier_seconds=60)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_stream_output_feeds_coarser_tiers(spark, tmp_path):
    """The streaming 1m output composes with the batch ladder: re-aggregating
    the streamed tier through rollup_from_tier gives exactly the 1h tier the
    batch ladder computes from raw — the continuous-aggregate contract."""
    from fusets_spark.operators.rollup import rollup_from_tier

    pts = _points_pdf(spark, n_docs=25, seed=11)
    src = str(tmp_path / "pts3")
    pts.write.parquet(src)
    stream = spark.readStream.schema(POINTS_DDL).parquet(src)
    q = (
        stream_rollup_df(stream, tier_seconds=60)
        .writeStream.format("memory")
        .queryName("t1m_compose")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed_1m = spark.table("t1m_compose")
    got = rollup_from_tier(streamed_1m, "1h").toPandas()
    want = rollup_from_raw(spark.read.parquet(src), "1h").toPandas()
    key = ["source", "doc_id", "bucket_ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _bag(pdf):
    return sorted(
        (r.source, r.doc_id, r.bucket_ts, r.min_ts, r.max_ts,
         int(r.n_points), bytes(r.block))
        for r in pdf.itertuples()
    )


@pytest.mark.parametrize(
    "n_docs,seed", [(35, 13), (40, 9)], ids=["seed13", "seed9"]
)
def test_stream_blocks_file_sink_byte_identical(spark, tmp_path, n_docs, seed):
    """The applyInPandasWithState block builder, drained with one sentinel
    through the parquet file sink + checkpoint (no driver collect), must
    hold byte-identical Gorilla blocks to the batch encoder over the same
    points."""
    from fusets_spark.codec.blocks import encode_blocks
    from fusets_spark.streaming.block_stream import seal_all_with_sentinels

    toks = generate_tokens(spark, n_docs, seed=seed, min_tok=32, max_tok=128)
    pts = explode_raw(toks).select("source", "doc_id", "ts", "value")

    got = seal_all_with_sentinels(
        spark, pts, str(tmp_path / "drain"), block_seconds=60, sink="parquet"
    ).toPandas()
    want = encode_blocks(pts, block_seconds=60).toPandas()

    assert len(got) == len(want) and len(got) > 0
    assert _bag(got) == _bag(want)


def test_seal_empty_backlog_returns_empty_blocks(spark, tmp_path):
    """An empty backlog has no watermark to push past: the drain starts no
    stream and returns an empty frame with the block schema."""
    from fusets_spark.codec.blocks import BLOCK_SCHEMA, POINTS_SCHEMA
    from fusets_spark.streaming.block_stream import seal_all_with_sentinels

    work = tmp_path / "drain_empty"
    empty = spark.createDataFrame([], POINTS_SCHEMA)
    got = seal_all_with_sentinels(spark, empty, str(work), sink="parquet")
    assert got.schema == spark.createDataFrame([], BLOCK_SCHEMA).schema
    assert got.count() == 0
    assert not (work / "ckpt").exists()
    with pytest.raises(ValueError, match="memory"):
        seal_all_with_sentinels(spark, empty, str(work), sink="memory")


def _progress(q):
    return [p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress]


def _state_widths(q):
    return {
        op["numShufflePartitions"]
        for p in _progress(q)
        for op in p["stateOperators"]
    }


def _numbered(path):
    return sorted(int(n) for n in os.listdir(path) if n.isdigit())


def _offset_log_width(ckpt):
    """spark.sql.shuffle.partitions as recorded by the latest offset log
    entry (line 2 of the entry is the batch metadata JSON)."""
    last = _numbered(os.path.join(ckpt, "offsets"))[-1]
    with open(os.path.join(ckpt, "offsets", str(last))) as f:
        meta = json.loads(f.read().splitlines()[1])
    return meta["conf"]["spark.sql.shuffle.partitions"]


def test_stateful_streams_get_one_state_shard_per_core(spark, tmp_path):
    """Both stateful streams run one state shard per core, whatever the
    session's batch shuffle width, and the session's own setting is left
    as it was. The seal drain takes exactly two micro-batches: the data
    batch and the no-data batch that seals."""
    from fusets_spark.streaming.block_stream import seal_all_with_sentinels

    cores = spark.sparkContext.defaultParallelism
    assert (cores, spark.conf.get(WIDTH)) == (4, "8")
    pts = _points_pdf(spark, n_docs=20, seed=3)
    src = str(tmp_path / "pts")
    pts.write.parquet(src)

    q = start_file_stream_rollup(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert spark.conf.get(WIDTH) == "8"
    q.awaitTermination(120)
    assert _state_widths(q) == {cores}

    work = tmp_path / "seal"
    seal_all_with_sentinels(
        spark, pts.select("source", "doc_id", "ts", "value"), str(work),
        block_seconds=60,
    )
    assert spark.conf.get(WIDTH) == "8"
    ckpt = str(work / "ckpt")
    assert _numbered(os.path.join(ckpt, "commits")) == [0, 1]
    assert _numbered(os.path.join(ckpt, "state", "0")) == list(range(cores))


def test_old_rollup_checkpoint_keeps_its_state_width(spark, tmp_path):
    """A checkpoint created at the session's width (8 state shards, a plain
    writeStream.start()) restarts through start_file_stream_rollup with a
    new input file: the offset log keeps width 8 and the output stays
    exactly-once — every emitted window once, equal to the batch rollup.
    A zero watermark delay lets both runs finalize windows: the run-1
    windows still open at the cut carry their state into run 2."""
    pts = _points_pdf(spark, n_docs=30, seed=21)
    ts = sorted(r["ts"] for r in pts.select("ts").collect())
    cut = ts[len(ts) // 2]
    src = str(tmp_path / "pts")
    pts.filter(F.col("ts") < F.lit(cut)).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = (
        stream_rollup_df(
            spark.readStream.schema(POINTS_DDL).parquet(src),
            watermark="0 seconds",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _offset_log_width(ckpt) == "8"
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    later = str(tmp_path / "later")
    pts.filter(F.col("ts") >= F.lit(cut)).coalesce(1).write.parquet(later)
    part = next(n for n in os.listdir(later) if n.endswith(".parquet"))
    shutil.move(os.path.join(later, part), os.path.join(src, "later.parquet"))

    q2 = start_file_stream_rollup(spark, src, out, ckpt, watermark="0 seconds")
    q2.awaitTermination(120)
    assert _offset_log_width(ckpt) == "8"
    assert _state_widths(q2) == {8}

    key = ["source", "doc_id", "bucket_ts"]
    cols = key + ["n_obs", "sum_val", "min_val", "max_val", "avg_val",
                  "first_val", "last_val"]
    got = spark.read.parquet(out).select(*cols).toPandas()
    want = rollup_from_raw(spark.read.parquet(src), "1m").select(*cols).toPandas()
    assert len(got) > n_first
    assert not got.duplicated(key).any()
    merged = got.merge(want, on=key, how="left", suffixes=("", "_b"))
    for c in cols[len(key):]:
        assert (merged[c] == merged[c + "_b"]).all(), c
    # every window that closed before the final watermark is emitted
    wm = pd.Timestamp(ts[-1]) - pd.Timedelta(minutes=1)
    closed = want[pd.to_datetime(want["bucket_ts"]) + pd.Timedelta(minutes=1) <= wm]
    assert set(map(tuple, closed[key].values)) <= set(map(tuple, got[key].values))


def test_overlapping_starts_restore_the_session_width(spark):
    """A start_per_core call that begins while another is still inside
    start() must neither see nor leave behind the temporary width: both
    writers start at one shard per core, and the session reads its own
    width afterwards. The second writer holds longer, so without
    serialization it would save the first's temporary width and restore
    it last."""
    import threading
    import time

    from fusets_spark.streaming import start_per_core

    seen, inside = [], threading.Event()

    class SlowWriter:
        def __init__(self, hold):
            self.hold = hold

        def start(self):
            seen.append(spark.conf.get(WIDTH))
            inside.set()
            time.sleep(self.hold)

    first = threading.Thread(target=start_per_core, args=(spark, SlowWriter(0.3)))
    second = threading.Thread(target=start_per_core, args=(spark, SlowWriter(0.6)))
    first.start()
    assert inside.wait(30)
    second.start()
    for t in (first, second):
        t.join(30)
        assert not t.is_alive()
    assert seen == ["4", "4"]
    assert spark.conf.get(WIDTH) == "8"


def test_start_per_core_leaves_an_unset_width_unset(spark):
    """A session that never set spark.sql.shuffle.partitions (any session
    not built by get_spark) reads it as unset again after a start."""
    from fusets_spark.streaming import start_per_core

    class Writer:
        def start(self):
            return spark.conf.get(WIDTH)

    spark.conf.unset(WIDTH)
    try:
        assert start_per_core(spark, Writer()) == "4"
        assert spark.conf.get(WIDTH, None) is None
    finally:
        spark.conf.set(WIDTH, "8")
