"""Spark operators for compressed point blocks.

One block = one (source, doc_id, block bucket) — a block is NEVER split
across tasks (SURVEY.md §7.3).

Granularity design: the kernels run through kernels.group_kernel, whose
groups are (source, hash bucket of doc_id) — each kernel call receives
many whole series and encodes ALL their blocks in one pass, with
per-(series, bucket) runs found by numpy change detection on the sorted
frame. Grouping by (series, bucket) directly would create millions of tiny
groups and drown in Spark's per-group applyInPandas machinery (measured
~8 ms/group — 60x slower than the codec itself); hash-bucketing amortizes
that overhead to ~zero while the bucket count bounds per-task memory at
cluster scale (results are independent of it). The codec's bucket policy
is BUCKETS (floor 256, 8 per core), which the stream sealer shares.

encode_blocks:  points -> (source, doc_id, bucket_ts, n_points, min/max ts,
                           codec, block: binary)
decode_blocks:  inverse, restores exact (ts, value) points (µs-exact).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import Buckets, group_kernel
from .gorilla import decode_blocks_batch, encode_block, encode_blocks_batched

BLOCK_SCHEMA = (
    "source string, doc_id string, bucket_ts timestamp, n_points long, "
    "min_ts timestamp, max_ts timestamp, codec string, block binary"
)
POINTS_SCHEMA = "source string, doc_id string, ts timestamp, value double"

CODEC_NAME = "gorilla-dod-xor-v1"

BUCKETS = Buckets(floor=256, per_core=8)


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


def encode_blocks(
    points: DataFrame,
    block_seconds: int = 3600,
    value_col: str = "value",
) -> DataFrame:
    """Compress raw points into per-(series, bucket) Gorilla blocks.
    Output is independent of the task grouping — blocks are keyed by
    (source, doc_id, bucket_ts) only."""

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        # Canonical (doc_id, ts, value) order: with tied timestamps in one
        # series+bucket, a (doc_id, ts)-only sort would leave tied rows in
        # shuffle-arrival order and the block bytes would differ across
        # parallelism — and from the stream _seal / compact_blocks paths,
        # which already canonicalize ties. Same tie-break everywhere keeps
        # the byte-identity contract a pure function of the point multiset.
        pdf = pdf.sort_values(["doc_id", "ts", value_col], kind="mergesort")
        epoch_us = (pdf["ts"].astype("int64") // 10**3).to_numpy()
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        docs = pdf["doc_id"].to_numpy()
        bucket = epoch_us - epoch_us % (block_seconds * 10**6)
        # run boundaries: new series OR new bucket (frame sorted by doc, ts)
        new_doc = docs[1:] != docs[:-1]
        new_bkt = np.diff(bucket) != 0
        cut = np.flatnonzero(new_doc | new_bkt) + 1
        starts = np.r_[0, cut]
        ends = np.r_[cut, len(bucket)]
        blocks = encode_blocks_batched(
            [epoch_us[s:e] for s, e in zip(starts, ends)],
            [vals[s:e] for s, e in zip(starts, ends)],
        )
        return pd.DataFrame(
            {
                "source": np.repeat(pdf["source"].iloc[0], len(starts)),
                "doc_id": docs[starts],
                "bucket_ts": _dt_ns(bucket[starts] * 10**3),
                "n_points": (ends - starts).astype(np.int64),
                "min_ts": _dt_ns(epoch_us[starts] * 10**3),
                "max_ts": _dt_ns(epoch_us[ends - 1] * 10**3),
                "codec": CODEC_NAME,
                "block": blocks,
            }
        )

    return group_kernel(points, _encode, BLOCK_SCHEMA, buckets=BUCKETS)


def block_frame(src_arr, doc_arr, d, ep_us, vals, block_seconds):
    """Pure-numpy block fold over one decoded batch -> pandas frame of
    encoded Gorilla blocks (one row per (doc, bucket) run; the decoded
    arrays must be (doc, ts)-sorted, which token order guarantees)."""
    bucket = ep_us - ep_us % (block_seconds * 10**6)
    newblk = np.r_[True, (d[1:] != d[:-1]) | (bucket[1:] != bucket[:-1])]
    bs = np.flatnonzero(newblk)
    be = np.r_[bs[1:], len(d)]
    blks = encode_blocks_batched(
        [ep_us[s:e] for s, e in zip(bs, be)],
        [vals[s:e] for s, e in zip(bs, be)],
    )
    return pd.DataFrame(
        {
            "source": src_arr[d[bs]],
            "doc_id": doc_arr[d[bs]],
            "bucket_ts": _dt_ns(bucket[bs] * 10**3),
            "n_points": (be - bs).astype(np.int64),
            "min_ts": _dt_ns(ep_us[bs] * 10**3),
            "max_ts": _dt_ns(ep_us[be - 1] * 10**3),
            "codec": CODEC_NAME,
            "block": blks,
        }
    )


def compact_blocks(
    blocks: DataFrame,
    target_seconds: int,
) -> DataFrame:
    """Tier compaction for the block store (north-rule retention path):
    merge fine (series, bucket) blocks into coarser `target_seconds`
    buckets as data ages — the classic TSDB compaction that keeps block
    count (and per-block header overhead) bounded as tiers cool.

    Whole blocks move; a block is never split — the shuffle key is a hash
    bucket of the series, and each applyInPandas call concatenates runs
    per (doc, coarse bucket) (blocks cover disjoint time ranges per
    series, so bucket_ts order == ts order) and re-encodes. Output bytes
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
        # for the same (doc_id, bucket_ts) (late-data batches) — without it,
        # ties fall back to file-read order and the compacted bytes vary
        # across re-runs, breaking the byte-identity contract.
        pdf = pdf.sort_values(
            ["doc_id", "bucket_ts", "min_ts"], kind="mergesort"
        )
        docs = pdf["doc_id"].to_numpy()
        bkt_us = pdf["bucket_ts"].astype("int64").to_numpy() // 10**3
        coarse = bkt_us - bkt_us % (target_seconds * 10**6)
        new = np.r_[True, (docs[1:] != docs[:-1]) | (np.diff(coarse) != 0)]
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
            mb_idx = np.flatnonzero(multi_blk)
            counts, ts, vals = decode_blocks_batch(
                [bytes(b) for b in blk_arr[mb_idx]]
            )
            pt_off = np.r_[0, np.cumsum(counts)]
            # dense position of each multi block within the decoded subset
            pos_in_sub = np.cumsum(multi_blk) - 1
            runs_ts, runs_vals = [], []
            for r in multi_rs:
                s = pos_in_sub[bs[r]]
                e = pos_in_sub[be[r] - 1] + 1
                rt = ts[pt_off[s] : pt_off[e]]
                rv = vals[pt_off[s] : pt_off[e]]
                # Overlapping-block runs (late-data batches for the same
                # series) may interleave in time or even hold tied
                # timestamps — re-sort to the CANONICAL (ts, value) order
                # so the compacted bytes are a pure function of the point
                # multiset, independent of batch / file-read order.
                if np.any(np.diff(rt) <= 0):
                    order = np.lexsort((rv, rt))
                    rt, rv = rt[order], rv[order]
                runs_ts.append(rt)
                runs_vals.append(rv)
            blks = encode_blocks_batched(runs_ts, runs_vals)
            idx = bs[multi_rs]
            frames.append(
                pd.DataFrame(
                    {
                        "source": src_arr[idx],
                        "doc_id": docs[idx],
                        "bucket_ts": _dt_ns(coarse[idx] * 10**3),
                        "n_points": np.asarray(
                            [len(rt) for rt in runs_ts], dtype=np.int64
                        ),
                        "min_ts": _dt_ns(
                            np.array([rt[0] for rt in runs_ts]) * 10**3
                        ),
                        "max_ts": _dt_ns(
                            np.array([rt[-1] for rt in runs_ts]) * 10**3
                        ),
                        "codec": CODEC_NAME,
                        "block": blks,
                    }
                )
            )
        if len(frames) == 1:
            return frames[0]
        return pd.concat(frames, ignore_index=True)

    return group_kernel(blocks, _compact, BLOCK_SCHEMA, buckets=BUCKETS)


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
        pdf = pdf.sort_values(["doc_id", "ts", value_col], kind="mergesort")
        epoch_us = (pdf["ts"].astype("int64") // 10**3).to_numpy()
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        docs = pdf["doc_id"].to_numpy()
        bucket = epoch_us - epoch_us % (block_seconds * 10**6)
        new_doc = docs[1:] != docs[:-1]
        new_bkt = np.diff(bucket) != 0
        cut = np.flatnonzero(new_doc | new_bkt) + 1
        starts = np.r_[0, cut]
        ends = np.r_[cut, len(bucket)]
        blocks = encode_blocks_batched(
            [epoch_us[s:e] for s, e in zip(starts, ends)],
            [vals[s:e] for s, e in zip(starts, ends)],
        )
        counts, ts, out_vals = decode_blocks_batch(blocks)
        return pd.DataFrame(
            {
                "source": np.repeat(pdf["source"].iloc[0], len(ts)),
                "doc_id": np.repeat(docs[starts], counts),
                "ts": _dt_ns(ts * 10**3),
                "value": out_vals,
            }
        )

    return group_kernel(points, _rt, POINTS_SCHEMA, buckets=BUCKETS)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Restore exact points from Gorilla blocks (verification / read path)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            blks = [bytes(b) for b in pdf["block"]]
            counts, ts, vals = decode_blocks_batch(blks)
            yield pd.DataFrame(
                {
                    "source": np.repeat(pdf["source"].to_numpy(), counts),
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), counts),
                    "ts": _dt_ns(ts * 10**3),
                    "value": vals,
                }
            )

    return blocks.select("source", "doc_id", "block").mapInPandas(
        _decode, schema=POINTS_SCHEMA
    )
