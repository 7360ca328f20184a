"""Spark operators for compressed point blocks.

One block = one (source, doc_id, block bucket) — a block is NEVER split
across tasks (SURVEY.md §7.3).

Granularity design: the kernels run through kernels.group_kernel, which
hashes (source, doc_id) straight into partitions and calls the kernel once
per source in each — each kernel call receives many whole series and
encodes ALL their blocks in one pass, with per-(series, bucket) runs found
by numpy change detection on the sorted frame. Grouping by (series,
bucket) directly would create millions of tiny groups and drown in
Spark's per-group machinery (measured ~8 ms/group — 60x slower than the
codec itself); hash-partitioning amortizes that overhead to ~zero while
the partition count bounds per-task memory at cluster scale (results are
independent of it). The partition count follows the input
(kernels.n_buckets), as for every grouped kernel.

Every block in the package is built by ONE fold, block_frame: per-point
arrays in canonical (series, bucket, ts, value) order in, BLOCK_SCHEMA rows
out, one row per (series, bucket) run. Its five producers only differ in
how they reach canonical order: token ingest is already in it;
encode_blocks, roundtrip_points and the stream sealer sort with
canonical_order; compaction decodes its merging runs, labels each point
with its block's coarse bucket and sorts with canonical_order. A block's
bytes are therefore a pure function of its (series, bucket) point
multiset, whichever path built it.

encode_blocks:  points -> (source, doc_id, bucket_ts, n_points, min/max ts,
                           codec, block: binary)
decode_blocks:  inverse, restores exact (ts, value) points (µs-exact).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import group_kernel, map_kernel
from .gorilla import decode_blocks_batch, encode_blocks_batched

BLOCK_SCHEMA = (
    "source string, doc_id string, bucket_ts timestamp, n_points long, "
    "min_ts timestamp, max_ts timestamp, codec string, block binary"
)
POINTS_SCHEMA = "source string, doc_id string, ts timestamp, value double"

CODEC_NAME = "gorilla-dod-xor-v1"


def _dt_ns(ns) -> np.ndarray:
    """int64 epoch-ns ndarray → datetime64[ns], as a free reinterpret.
    pd.to_datetime on integer input takes the per-element object path
    (~0.28 s per million rows); the values are identical.

    The reinterpret drops pd.to_datetime's OutOfBoundsDatetime check: an
    int64 past the datetime64[ns] range would wrap silently instead of
    raising. That is safe because every caller passes encoder-internal
    values: timestamps that arrived as datetime64[ns] columns (so already
    in range) and their bucket floors, a parsed t0 plus token offsets, or
    points decoded from blocks this codec wrote from such values."""
    return np.ascontiguousarray(ns, dtype=np.int64).view("datetime64[ns]")


def series_codes(doc_id) -> tuple[np.ndarray, np.ndarray]:
    """(per-point integer series codes, per-series doc_id labels). Codes
    follow doc_id order, so block rows come out sorted by doc_id, the row
    order the stores and sinks have always written (parquet file bytes
    depend on it)."""
    return pd.factorize(doc_id, sort=True, use_na_sentinel=False)


def canonical_order(series, bucket_us, ts_us, vals) -> np.ndarray:
    """Permutation of points into the canonical (series, bucket, ts,
    value) order the block fold requires. The value tie-break matters:
    with tied timestamps in one (series, bucket), any order left to
    shuffle arrival or file-read order would change the block bytes.
    np.lexsort over integer series codes (measured faster than a pandas
    mergesort at kernel-call sizes, and equal to it in order)."""
    return np.lexsort((vals, ts_us, bucket_us, series))


def block_frame(source, doc_id, series, bucket_us, ts_us, vals) -> pd.DataFrame:
    """The block fold: per-point arrays in canonical order (series,
    bucket_us, ts_us µs, vals) -> BLOCK_SCHEMA pandas frame, one encoded
    Gorilla block per (series, bucket) run. `series` holds integer codes
    into the per-series label arrays `source` and `doc_id`."""
    n = len(series)
    new = np.ones(n, dtype=bool)
    new[1:] = (series[1:] != series[:-1]) | (bucket_us[1:] != bucket_us[:-1])
    bs = np.flatnonzero(new)
    be = np.r_[bs, n][1:]
    blks = encode_blocks_batched(
        [ts_us[s:e] for s, e in zip(bs, be)],
        [vals[s:e] for s, e in zip(bs, be)],
    )
    key = series[bs]
    return pd.DataFrame(
        {
            "source": source[key],
            "doc_id": doc_id[key],
            "bucket_ts": _dt_ns(bucket_us[bs] * 10**3),
            "n_points": (be - bs).astype(np.int64),
            "min_ts": _dt_ns(ts_us[bs] * 10**3),
            "max_ts": _dt_ns(ts_us[be - 1] * 10**3),
            "codec": CODEC_NAME,
            "block": blks,
        }
    )


def _fold_points(pdf: pd.DataFrame, block_seconds: int, value_col: str):
    """Blocks of one kernel group's points (one source, many series)."""
    series, doc_id = series_codes(pdf["doc_id"].to_numpy())
    ts_us = pdf["ts"].astype("int64").to_numpy() // 10**3
    vals = pdf[value_col].to_numpy(dtype=np.float64)
    bucket = ts_us - ts_us % (block_seconds * 10**6)
    o = canonical_order(series, bucket, ts_us, vals)
    source = np.full(len(doc_id), pdf["source"].iloc[0], dtype=object)
    return block_frame(source, doc_id, series[o], bucket[o], ts_us[o], vals[o])


def encode_blocks(
    points: DataFrame,
    block_seconds: int = 3600,
    value_col: str = "value",
) -> DataFrame:
    """Compress raw points into per-(series, bucket) Gorilla blocks.
    Output is independent of the task grouping — blocks are keyed by
    (source, doc_id, bucket_ts) only."""

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        return _fold_points(pdf, block_seconds, value_col)

    return group_kernel(points, _encode, BLOCK_SCHEMA)


def compact_blocks(
    blocks: DataFrame,
    target_seconds: int,
) -> DataFrame:
    """Tier compaction for the block store (north-rule retention path):
    merge fine (series, bucket) blocks into coarser `target_seconds`
    buckets as data ages — the classic TSDB compaction that keeps block
    count (and per-block header overhead) bounded as tiers cool.

    Whole blocks move; a block is never split — the shuffle key is a hash
    bucket of the series, and each kernel call decodes the blocks of
    every (doc, coarse bucket) run that merges, and refolds their points
    through block_frame in canonical order. Output bytes
    are IDENTICAL to encoding the raw points at target_seconds directly
    (pinned in tests), so compaction composes:
    compact(compact(x, 1d), 7d) == encode(x, 7d).

    SINGLE-BLOCK FAST PATH: a run holding exactly one fine block needs NO
    decode/re-encode — the block bytes are a pure function of the run's
    canonical point sequence, which is unchanged; only bucket_ts
    relabels to the coarse grid. In a steady-state tier most series
    contribute one block per coarse bucket (a series only has several
    when it straddles a fine-bucket boundary or received late data), so
    the fast path skips the codec for the large majority of blocks. This
    is what keeps compaction from being DRAM-bound at high core counts:
    the decode+encode memory traffic only runs for runs that genuinely
    merge."""

    def _compact(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [
            "source", "doc_id", "bucket_ts", "n_points",
            "min_ts", "max_ts", "codec", "block",
        ]
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        # min_ts in the sort key: multi-batch inputs can hold several blocks
        # for the same (doc_id, bucket_ts) (late-data batches). Their points
        # are re-sorted canonically below; min_ts keeps the blocks' order,
        # and so the order of points canonical_order leaves tied (0.0 and
        # -0.0 at one timestamp), independent of file-read order.
        pdf = pdf.sort_values(
            ["doc_id", "bucket_ts", "min_ts"], kind="mergesort"
        )
        docs = pdf["doc_id"].to_numpy()
        bkt_us = pdf["bucket_ts"].astype("int64").to_numpy() // 10**3
        coarse = bkt_us - bkt_us % (target_seconds * 10**6)
        new_doc = np.r_[True, docs[1:] != docs[:-1]]
        new = new_doc | np.r_[True, np.diff(coarse) != 0]
        bs = np.flatnonzero(new)
        be = np.r_[bs[1:], len(docs)]
        run_len = be - bs
        run_id = np.cumsum(new) - 1
        multi_blk = run_len[run_id] > 1  # per input block
        single_rs = np.flatnonzero(run_len == 1)
        multi_rs = np.flatnonzero(run_len > 1)
        src_arr = pdf["source"].to_numpy()
        blk_arr = pdf["block"].to_numpy()
        frames = []
        if len(single_rs):
            idx = bs[single_rs]
            frames.append(
                pd.DataFrame(
                    {
                        "source": src_arr[idx],
                        "doc_id": docs[idx],
                        "bucket_ts": _dt_ns(coarse[idx] * 10**3),
                        "n_points": pdf["n_points"].to_numpy()[idx].astype(
                            np.int64
                        ),
                        "min_ts": pdf["min_ts"].to_numpy()[idx],
                        "max_ts": pdf["max_ts"].to_numpy()[idx],
                        # bytes unchanged -> codec label unchanged
                        "codec": pdf["codec"].to_numpy()[idx],
                        "block": blk_arr[idx],
                    }
                )
            )
        if len(multi_rs):
            # merging runs: decode, label each point with its block's
            # series and coarse bucket, and fold in canonical order —
            # overlapping late-data blocks may interleave in time or tie
            mb_idx = np.flatnonzero(multi_blk)
            counts, ts, vals = decode_blocks_batch(
                [bytes(b) for b in blk_arr[mb_idx]]
            )
            series = np.repeat((np.cumsum(new_doc) - 1)[mb_idx], counts)
            bucket = np.repeat(coarse[mb_idx], counts)
            o = canonical_order(series, bucket, ts, vals)
            frames.append(
                block_frame(
                    src_arr[new_doc], docs[new_doc],
                    series[o], bucket[o], ts[o], vals[o],
                )
            )
        if len(frames) == 1:
            return frames[0]
        return pd.concat(frames, ignore_index=True)

    return group_kernel(blocks, _compact, BLOCK_SCHEMA)


def roundtrip_points(
    points: DataFrame,
    block_seconds: int = 3600,
    value_col: str = "value",
) -> DataFrame:
    """encode∘decode in ONE kernel pass — the codec verification path
    (gorilla_roundtrip). Each group's points are encoded with EXACTLY the
    batch encoder's grouping/ordering/codec (same bytes as encode_blocks,
    pinned in tests/test_codec.py) and immediately decoded back; the
    intermediate block table never crosses the Python↔JVM boundary, which
    the chained decode_blocks(encode_blocks(...)) pays twice (~800k Arrow
    rows each way at 1M points). The separate operators remain the store
    write/read paths; this is pipelining, not a shortcut — every block is
    fully encoded and fully decoded."""

    def _rt(pdf: pd.DataFrame) -> pd.DataFrame:
        blocks = _fold_points(pdf, block_seconds, value_col)
        counts, ts, out_vals = decode_blocks_batch(blocks["block"].tolist())
        return pd.DataFrame(
            {
                "source": np.repeat(blocks["source"].to_numpy(), counts),
                "doc_id": np.repeat(blocks["doc_id"].to_numpy(), counts),
                "ts": _dt_ns(ts * 10**3),
                "value": out_vals,
            }
        )

    return group_kernel(points, _rt, POINTS_SCHEMA)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Restore exact points from Gorilla blocks (verification / read path)."""

    def _decode(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        counts, ts, vals = decode_blocks_batch([bytes(b) for b in pdf["block"]])
        yield pd.DataFrame(
            {
                "source": np.repeat(pdf["source"].to_numpy(), counts),
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), counts),
                "ts": _dt_ns(ts * 10**3),
                "value": vals,
            }
        )

    return map_kernel(
        blocks.select("source", "doc_id", "block"), _decode, POINTS_SCHEMA
    )
