"""Codec round-trip: encode∘decode = identity on every block (SURVEY.md §5),
plus compression-ratio sanity and Spark-side block operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fusets_spark.codec.gorilla import (
    decode_block,
    encode_block,
    encode_blocks_batched,
)


def _roundtrip(ts, vals):
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    blk = encode_block(ts, vals)
    ts2, vals2 = decode_block(blk)
    assert np.array_equal(ts, ts2)
    assert np.array_equal(vals.view(np.uint64), vals2.view(np.uint64))
    return blk


def test_empty_and_singleton():
    assert _roundtrip([], []) == b"\x00\x00\x00\x00"  # bare u32 0 header
    _roundtrip([1700000000], [3.14159])


def test_regular_cadence_constant_value():
    ts = 1700000000 + 60 * np.arange(1000)
    blk = _roundtrip(ts, np.full(1000, 42.5))
    # DoD==0 and XOR==0 -> ~2 bits/point after header
    assert len(blk) < 300


def test_irregular_and_special_floats():
    ts = np.cumsum(np.asarray([10**9, 1, 59, 61, 3600, 2, 2, 86400, 5]))
    vals = np.asarray([0.0, -0.0, np.nan, np.inf, -np.inf, 1e-308, 1e308, -1.5, 0.1])
    _roundtrip(ts, vals)


def test_decreasing_and_negative_timestamps():
    _roundtrip([-5, -4, 0, 1000, 999], [1.0, 2.0, 3.0, 4.0, 5.0])


@settings(max_examples=60, deadline=None)
@given(
    deltas=st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=80),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_roundtrip_property(deltas, seed):
    ts = np.cumsum(np.asarray([1700000000] + deltas, dtype=np.int64))
    rng = np.random.default_rng(seed)
    vals = rng.normal(scale=10.0, size=len(ts))
    vals[rng.random(len(ts)) < 0.1] = np.nan
    _roundtrip(ts, vals)


@settings(max_examples=30, deadline=None)
@given(
    deltas=st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=60),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_pointwise_encoder_decodes_identically(deltas, seed):
    """The stateful per-point reference encoder and the vectorized encoder
    must both decode to the same points (format compatibility)."""
    from reference_impls import encode_block_pointwise

    ts = np.cumsum(np.asarray([1700000000] + deltas, dtype=np.int64))
    rng = np.random.default_rng(seed)
    vals = rng.normal(scale=10.0, size=len(ts))
    for enc in (encode_block, encode_block_pointwise):
        t2, v2 = decode_block(enc(ts, vals))
        assert np.array_equal(ts, t2)
        assert np.array_equal(vals.view(np.uint64), v2.view(np.uint64))


def _segment(n, seed):
    """n points: DoD fallbacks (2**33 steps), repeats, NaN, ±inf, -0.0
    and subnormals mixed with fresh normals."""
    rng = np.random.default_rng(seed)
    deltas = rng.choice(
        [0, 1, 60, 3600, 10**6, 2**33, -5, 127, 255, 2048], size=max(n - 1, 0)
    )
    ts = np.cumsum(np.r_[rng.integers(-(2**40), 2**40), deltas])[:n]
    vals = rng.choice([0.0, -0.0, 1.5, np.nan, np.inf, 2.0**-1074], size=n)
    fresh = rng.random(n) < 0.5
    vals[fresh] = rng.normal(size=int(fresh.sum()))
    return ts.astype(np.int64), vals


@settings(max_examples=80, deadline=None)
@given(
    spec=st.lists(
        st.tuples(
            st.one_of(st.just(0), st.just(1), st.integers(0, 40)),  # n points
            st.integers(min_value=0, max_value=2**31),  # seed
        ),
        max_size=12,
    ),
)
def test_batched_blocks_equal_single_segment_encodes(spec):
    """One encode_blocks_batched call over many segments, empty and
    one-point ones included: each block equals its segment encoded on its
    own and decodes to the segment's exact bits."""
    segs = [_segment(n, seed) for n, seed in spec]
    blocks = encode_blocks_batched([t for t, _ in segs], [v for _, v in segs])
    assert len(blocks) == len(segs)
    for (ts, vals), blk in zip(segs, blocks):
        assert blk == encode_block(ts, vals)
        t2, v2 = decode_block(blk)
        assert np.array_equal(ts, t2)
        assert np.array_equal(vals.view(np.uint64), v2.view(np.uint64))


def test_encoder_rejects_mismatched_lengths():
    ts = np.arange(3, dtype=np.int64)
    with pytest.raises(ValueError, match="segment 1: 3 timestamps but 2 values"):
        encode_blocks_batched([ts, ts], [np.zeros(3), np.zeros(2)])
    with pytest.raises(ValueError, match="2 timestamp segments but 1 value"):
        encode_blocks_batched([ts, ts], [np.zeros(3)])


def test_compression_ratio_on_token_series():
    # quantized harmonic (token-like) at 1s cadence: XOR paths short
    pos = np.arange(4096)
    vals = np.round(
        (0.5 + 0.3 * np.cos(2 * np.pi * pos / 96.0)) * 10000
    ).astype(np.float64)
    blk = encode_block(1700000000 + pos, vals)
    raw = 16 * len(pos)
    assert len(blk) < raw / 3, f"ratio {raw/len(blk):.2f}x too low"


def test_token_direct_encode_equals_explode_path(spark):
    """The shuffle-free token ingest must produce byte-identical blocks to
    explode_raw + generic encode_blocks, NULL tokens included."""
    from conftest import split_ingest, with_null_tokens
    from fusets_spark.codec.blocks import encode_blocks
    from fusets_spark.datagen import generate_tokens
    from fusets_spark.operators.explode import explode_raw
    from fusets_spark.operators.ingest import ingest_from_tokens

    toks = with_null_tokens(
        spark, generate_tokens(spark, 50, min_tok=32, max_tok=300)
    )
    _, blocks = split_ingest(ingest_from_tokens(toks, block_seconds=60))
    a = blocks.toPandas()
    b = encode_blocks(explode_raw(toks), block_seconds=60).toPandas()
    key = ["source", "doc_id", "bucket_ts"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    for df in (a, b):
        df["block"] = df["block"].map(bytes)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_spark_block_roundtrip(spark):
    from fusets_spark.codec.blocks import decode_blocks, encode_blocks
    from fusets_spark.datagen import generate_tokens
    from fusets_spark.operators.explode import explode_raw

    pts = explode_raw(generate_tokens(spark, 60, min_tok=32, max_tok=300))
    blocks = encode_blocks(pts, block_seconds=60)
    back = decode_blocks(blocks)

    a = pts.select("source", "doc_id", "ts", "value").toPandas()
    b = back.toPandas()
    key = ["source", "doc_id", "ts"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)

    meta = blocks.agg({"n_points": "sum"}).collect()[0][0]
    assert meta == len(a)


def test_compaction_equals_direct_coarse_encode(spark):
    """compact_blocks(fine -> coarse) must produce byte-identical blocks to
    encoding the raw points at the coarse bucket directly, and composes:
    compact(compact(60s, 300s), 900s) == encode(900s)."""
    from fusets_spark.codec.blocks import compact_blocks, encode_blocks
    from fusets_spark.datagen import generate_tokens
    from fusets_spark.operators.explode import explode_raw

    pts = explode_raw(generate_tokens(spark, 50, min_tok=32, max_tok=300))
    fine = encode_blocks(pts, block_seconds=60)
    key = ["source", "doc_id", "bucket_ts"]

    a = compact_blocks(fine, 300).toPandas().sort_values(key).reset_index(drop=True)
    b = encode_blocks(pts, block_seconds=300).toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert (a["n_points"].to_numpy() == b["n_points"].to_numpy()).all()
    assert (a["min_ts"].to_numpy() == b["min_ts"].to_numpy()).all()
    assert (a["max_ts"].to_numpy() == b["max_ts"].to_numpy()).all()
    assert all(bytes(x) == bytes(y) for x, y in zip(a["block"], b["block"]))

    c = (
        compact_blocks(compact_blocks(fine, 300), 900)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    d = encode_blocks(pts, block_seconds=900).toPandas().sort_values(key).reset_index(drop=True)
    assert len(c) == len(d) and len(c) > 0
    assert all(bytes(x) == bytes(y) for x, y in zip(c["block"], d["block"]))


@settings(max_examples=40, deadline=None)
@given(
    spec=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),   # n points
            st.integers(min_value=0, max_value=2**31),  # seed
            st.booleans(),                              # pointwise encoder?
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_lockstep_decoder_matches_sequential(spec):
    """The lockstep (numpy-across-blocks) decoder must agree bit-for-bit
    with the per-block sequential reference on both encoder variants —
    including the stateful '10' reuse-window path only the pointwise
    encoder emits, NaN/Inf/-0.0 payloads, and 64-bit raw DoD fallbacks."""
    from fusets_spark.codec.gorilla import decode_blocks_lockstep
    from reference_impls import encode_block_pointwise

    blocks = []
    for n, seed, pointwise in spec:
        rng = np.random.default_rng(seed)
        if n == 0:
            ts = np.empty(0, np.int64)
            vals = np.empty(0, np.float64)
        else:
            deltas = rng.choice(
                [0, 1, 60, 3600, 10**6, 2**33, -5, 127, 255, 2048],
                size=max(n - 1, 0),
            )
            ts = np.cumsum(
                np.r_[rng.integers(-(2**40), 2**40), deltas]
            ).astype(np.int64)
            vals = rng.normal(size=n)
            vals[rng.random(n) < 0.15] = np.nan
            vals[rng.random(n) < 0.1] = np.inf
            vals[rng.random(n) < 0.1] = -0.0
        enc = encode_block_pointwise if pointwise else encode_block
        blocks.append(enc(ts, vals))

    counts, ts_all, vals_all = decode_blocks_lockstep(blocks)
    off = np.r_[0, np.cumsum(counts)]
    for i, b in enumerate(blocks):
        t_ref, v_ref = decode_block(b)
        assert counts[i] == len(t_ref)
        assert np.array_equal(t_ref, ts_all[off[i] : off[i + 1]])
        assert np.array_equal(
            np.asarray(v_ref).view(np.int64),
            vals_all[off[i] : off[i + 1]].view(np.int64),
        )


def test_encode_and_compact_bytes_invariant_to_parallelism(spark, set_buckets):
    """Block bytes must be a pure function of the point MULTISET — invariant
    to shuffle arrival order across partition counts, INCLUDING tied
    timestamps within one (series, bucket) (the ADVICE r4 medium finding:
    datagen never produces ties, so only an explicit tie fixture exercises
    the canonical (doc_id, ts, value) sort in encode_blocks._encode).
    Also pins multi-batch overlap compaction byte-equality across
    partition counts (VERDICT r4 next-round #6)."""
    from fusets_spark.codec.blocks import compact_blocks, encode_blocks

    rng = np.random.default_rng(7)
    n = 400
    base = pd.Timestamp("2024-01-01").value // 1000  # µs
    # ~50% tied timestamps: pairs of rows share (doc, ts) with differing
    # values, so any arrival-order-dependent sort changes the bytes
    ts_us = base + np.repeat(
        rng.integers(0, 6 * 3600, size=n // 2), 2
    ) * 10**6
    pdf = pd.DataFrame(
        {
            "source": "s0",
            "doc_id": np.char.add("d-", rng.integers(0, 5, n).astype(str)),
            "ts": pd.to_datetime(ts_us * 1000),
            "value": rng.normal(size=n).round(3),
        }
    )

    def enc_bag(num_parts, groups):
        df = spark.createDataFrame(pdf).repartition(num_parts)
        set_buckets(groups)
        out = encode_blocks(df, block_seconds=3600)
        return sorted(
            (r.source, r.doc_id, r.bucket_ts, bytes(r.block))
            for r in out.toPandas().itertuples()
        )

    a = enc_bag(1, 2)
    b = enc_bag(13, 7)
    assert a == b

    # overlap compaction: same multiset through two batch splits and two
    # partition counts -> byte-identical coarse blocks
    half = pdf.iloc[: n // 2], pdf.iloc[n // 2 :]

    def comp_bag(frames, num_parts, groups):
        set_buckets(groups)
        blks = [
            encode_blocks(
                spark.createDataFrame(f).repartition(num_parts),
                block_seconds=3600,
            )
            for f in frames
        ]
        merged = blks[0]
        for x in blks[1:]:
            merged = merged.unionByName(x)
        out = compact_blocks(merged, 86400)
        return sorted(
            (r.source, r.doc_id, r.bucket_ts, r.min_ts, r.max_ts,
             bytes(r.block))
            for r in out.toPandas().itertuples()
        )

    c = comp_bag(half, 1, 2)
    d = comp_bag(half[::-1], 11, 5)
    assert c == d


def test_roundtrip_points_equals_chained_encode_decode(spark):
    """The fused roundtrip kernel must restore EXACTLY the rows the
    chained decode_blocks(encode_blocks(...)) restores — same grouping,
    same canonical ordering, same codec in both directions."""
    from pyspark.sql import functions as F

    from fusets_spark.codec.blocks import (
        decode_blocks,
        encode_blocks,
        roundtrip_points,
    )

    pts = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select(
            F.col("event_type").alias("source"),
            F.col("user_id").cast("string").alias("doc_id"),
            "ts",
            "value",
        )
    )
    cols = ["source", "doc_id", "ts", "value"]
    chained = (
        decode_blocks(encode_blocks(pts, block_seconds=86400))
        .select(*cols)
        .orderBy(*cols)
        .toPandas()
    )
    fused = (
        roundtrip_points(pts, block_seconds=86400)
        .select(*cols)
        .orderBy(*cols)
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        chained.reset_index(drop=True), fused.reset_index(drop=True)
    )
