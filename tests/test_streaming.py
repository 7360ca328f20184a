"""Streaming rollup: every micro-batch of the stateless rollup stream is
the batch rollup, published as a tier partial; merged reads of the
partials must equal rollup_from_raw over the same points — across epochs,
across a replayed epoch and with late points."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fusets_spark.datagen import generate_tokens
from fusets_spark.operators.explode import explode_raw
from fusets_spark.operators.rollup import merge_tier_partials, rollup_from_raw
from fusets_spark.streaming import rollup_stream
from fusets_spark.streaming.rollup_stream import (
    POINTS_DDL,
    start_file_stream_rollup,
    start_stream_rollup,
)

WIDTH = "spark.sql.shuffle.partitions"
KEY = ["source", "doc_id", "bucket_ts"]


def _points_pdf(spark, n_docs=40, seed=5, min_tok=32, max_tok=200):
    toks = generate_tokens(spark, n_docs, seed=seed, min_tok=min_tok, max_tok=max_tok)
    return explode_raw(toks)


def _merged(spark, out):
    """A reader's view of the stream: every published partial, merged."""
    return merge_tier_partials(spark.read.parquet(out))


def _assert_equals_batch(got, want):
    got, want = got.toPandas(), want.toPandas()
    assert len(got) > 0 and not got.duplicated(KEY).any()
    pd.testing.assert_frame_equal(
        got[want.columns].sort_values(KEY).reset_index(drop=True),
        want.sort_values(KEY).reset_index(drop=True),
        check_dtype=False,  # the stream reads pos as long (POINTS_DDL)
        check_exact=True,
    )


def _write_files(pts, src, n_files):
    """`pts` as n_files parquet files in `src`, every series split across
    them (file = pos % n_files)."""
    staged = src + "_parts"
    (
        pts.withColumn("part", F.col("pos") % n_files)
        .repartition("part")
        .write.partitionBy("part")
        .parquet(staged)
    )
    os.makedirs(src)
    for k in range(n_files):
        (part,) = glob.glob(os.path.join(staged, f"part={k}", "*.parquet"))
        shutil.move(part, os.path.join(src, f"f{k:03d}.parquet"))
    shutil.rmtree(staged)


def _epochs(out):
    return sorted(n for n in os.listdir(out) if n.startswith("epoch="))


def test_streaming_equals_batch(spark, tmp_path):
    pts = _points_pdf(spark)
    src = str(tmp_path / "pts")
    pts.write.parquet(src)
    out = str(tmp_path / "out")

    q = start_stream_rollup(
        spark.readStream.schema(POINTS_DDL).parquet(src),
        out, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    want = rollup_from_raw(spark.read.parquet(src), "1m", with_order_keys=True)
    _assert_equals_batch(_merged(spark, out), want)


def test_streaming_file_pipeline_append_mode(spark, tmp_path):
    """The production file path, and exactly-once on restart: a second
    drain on the same checkpoint publishes nothing new."""
    pts = _points_pdf(spark, n_docs=30, seed=9)
    src = str(tmp_path / "pts2")
    pts.write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = start_file_stream_rollup(spark, src, out, ckpt)
    q.awaitTermination(120)
    want = rollup_from_raw(spark.read.parquet(src), "1m", with_order_keys=True)
    _assert_equals_batch(_merged(spark, out), want)

    epochs = _epochs(out)
    q2 = start_file_stream_rollup(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert _epochs(out) == epochs
    _assert_equals_batch(_merged(spark, out), want)


def test_stream_output_feeds_coarser_tiers(spark, tmp_path):
    """The streaming 1m output composes with the batch ladder: re-aggregating
    the merged stream tier through rollup_from_tier gives exactly the 1h
    tier the batch ladder computes from raw — the continuous-aggregate
    contract."""
    from fusets_spark.operators.rollup import rollup_from_tier

    pts = _points_pdf(spark, n_docs=25, seed=11)
    src = str(tmp_path / "pts3")
    pts.write.parquet(src)
    out = str(tmp_path / "out")
    q = start_stream_rollup(
        spark.readStream.schema(POINTS_DDL).parquet(src),
        out, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = rollup_from_tier(_merged(spark, out), "1h")
    _assert_equals_batch(got, rollup_from_raw(spark.read.parquet(src), "1h"))


def _progress(q):
    return [p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress]


def test_multi_epoch_drain_equals_batch(spark, tmp_path):
    """More input files than one epoch takes (16), every series split
    across files: the drain publishes several partials that share
    (series, bucket) keys, keeps no state, and the merged read equals the
    batch rollup with no duplicated key."""
    pts = _points_pdf(spark, n_docs=30, seed=17)
    src = str(tmp_path / "pts")
    _write_files(pts, src, 20)
    out = str(tmp_path / "out")

    q = start_file_stream_rollup(spark, src, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    progress = _progress(q)
    assert len(progress) == len(_epochs(out)) == 2
    assert not any(p["stateOperators"] for p in progress)
    partials = spark.read.parquet(out)
    assert partials.groupBy(*KEY).count().filter("count > 1").count() > 0

    want = rollup_from_raw(spark.read.parquet(src), "1m", with_order_keys=True)
    _assert_equals_batch(_merged(spark, out), want)


def test_replayed_epoch_replaces_its_partial(spark, tmp_path, monkeypatch):
    """An epoch that fails after publishing its partial but before Spark
    commits it is replayed on restart and replaces its own directory: the
    restarted drain's partials equal a clean drain's, row for row."""
    pts = _points_pdf(spark, n_docs=30, seed=19)
    src = str(tmp_path / "pts")
    _write_files(pts, src, 20)

    def partials(out):
        return (
            spark.read.parquet(out)
            .toPandas()
            .sort_values(["epoch", *KEY])
            .reset_index(drop=True)
        )

    clean = str(tmp_path / "clean")
    start_file_stream_rollup(
        spark, src, clean, str(tmp_path / "clean_ckpt")
    ).awaitTermination(120)

    publish = rollup_stream._publish

    def publish_then_fail(partial, output_path, epoch_id):
        publish(partial, output_path, epoch_id)
        raise RuntimeError(f"lost after publishing epoch {epoch_id}")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    monkeypatch.setattr(rollup_stream, "_publish", publish_then_fail)
    with pytest.raises(Exception, match="lost after publishing epoch 0"):
        start_file_stream_rollup(spark, src, out, ckpt).awaitTermination(120)
    monkeypatch.undo()
    assert _epochs(out) == ["epoch=0"]
    assert not os.listdir(os.path.join(ckpt, "commits"))

    start_file_stream_rollup(spark, src, out, ckpt).awaitTermination(120)
    assert _epochs(out) == _epochs(clean) == ["epoch=0", "epoch=1"]
    pd.testing.assert_frame_equal(partials(out), partials(clean), check_exact=True)
    assert os.listdir(os.path.join(out, "_staging")) == []


def test_late_points_are_kept(spark, tmp_path):
    """Points that arrive in a later drain and are more than ten minutes
    older than everything the first drain saw (an event-time watermark's
    usual delay) still reach the merged tier."""
    pts = _points_pdf(spark, n_docs=6, seed=23, min_tok=3000, max_tok=4000)
    cut = pts.agg(F.min("ts")).first()[0] + pd.Timedelta(minutes=20)
    src = str(tmp_path / "pts")
    pts.filter(F.col("ts") >= F.lit(cut)).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    start_file_stream_rollup(spark, src, out, ckpt).awaitTermination(120)
    first_max = spark.read.parquet(src).agg(F.max("ts")).first()[0]

    late_dir = str(tmp_path / "late")
    late = pts.filter(F.col("ts") < F.lit(cut))
    late.coalesce(1).write.parquet(late_dir)
    assert late.agg(F.max("ts")).first()[0] < first_max - pd.Timedelta(minutes=10)
    (part,) = glob.glob(os.path.join(late_dir, "*.parquet"))
    shutil.move(part, os.path.join(src, "late.parquet"))
    start_file_stream_rollup(spark, src, out, ckpt).awaitTermination(120)

    assert _epochs(out) == ["epoch=0", "epoch=1"]
    want = rollup_from_raw(spark.read.parquet(src), "1m", with_order_keys=True)
    _assert_equals_batch(_merged(spark, out), want)


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


def _numbered(path):
    return sorted(int(n) for n in os.listdir(path) if n.isdigit())


def test_stateful_streams_get_one_state_shard_per_core(spark, tmp_path):
    """The stateful stream (the block sealer) runs one state shard per
    core, whatever the session's batch shuffle width, and the session's
    own setting is left as it was. The seal drain takes exactly two
    micro-batches: the data batch and the no-data batch that seals."""
    from fusets_spark.streaming.block_stream import seal_all_with_sentinels

    cores = spark.sparkContext.defaultParallelism
    assert (cores, spark.conf.get(WIDTH)) == (4, "8")
    pts = _points_pdf(spark, n_docs=20, seed=3)

    work = tmp_path / "seal"
    seal_all_with_sentinels(
        spark, pts.select("source", "doc_id", "ts", "value"), str(work),
        block_seconds=60,
    )
    assert spark.conf.get(WIDTH) == "8"
    ckpt = str(work / "ckpt")
    assert _numbered(os.path.join(ckpt, "commits")) == [0, 1]
    assert _numbered(os.path.join(ckpt, "state", "0")) == list(range(cores))


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
