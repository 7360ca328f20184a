"""Token ingest: every retention tier AND the Gorilla block store from ONE
pass over the tokenized-sequence table.

This is the only code that turns tokens into tiers or blocks, and the only
module that maps a token position to time (position i -> t0 + i seconds;
the -1 sentinel is a missing point and is skipped, the reference's NaN
convention, whittaker.py:40-42). A (doc_id, bucket) group never spans two
input rows — the tokens array IS the whole series — so both folds are pure
maps: no explode, no shuffle.

The dominant cost is the block fold (codec.blocks.block_frame, ~70% of
kernel CPU on a perfbench-shaped 2048-row batch); the token decode and the
pandas->Arrow hand-back are ~8% each, the ladder fold ~6%. Each Arrow batch
is decoded once (decode_token_batch) and feeds both the ladder fold
(ladder_frames) and the block fold.
The output is a superset-schema frame with a `kind` discriminator ('tier'
rows carry the rollup columns, 'block' rows the codec columns; the other
side holds placeholders); split_ingest separates the two.

Outputs equal the independent references exactly: tiers equal
rollup_from_raw(explode_raw(tokens), tier, with_order_keys=True) without
its avg_val (readers derive it as sum/count), blocks
are byte-identical to encode_blocks(explode_raw(tokens)) (pinned in
tests/test_rollup.py and tests/test_codec.py)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..codec.blocks import _dt_ns, block_frame
from .rollup import TIERS

_KEY_DDL = "source string, doc_id string, bucket_ts timestamp, "
_TIER_DDL = (
    "n_obs long, sum_val long, min_val double, max_val double, "
    "first_val double, last_val double, "
)
_ORDER_KEY_DDL = "first_pos long, last_pos long"  # late-data merge keys

INGEST_SCHEMA = (
    "kind string, " + _KEY_DDL
    # tier columns
    + _TIER_DDL + "tier string, " + _ORDER_KEY_DDL + ", "
    # block columns
    + "n_points long, min_ts timestamp, max_ts timestamp, codec string, "
    "block binary"
)
# the committed tier columns: split_ingest's tier side without `tier`
TIER_SCHEMA = _KEY_DDL + _TIER_DDL + _ORDER_KEY_DDL

_TIER_COLS = [
    "n_obs", "sum_val", "min_val", "max_val",
    "first_val", "last_val", "tier", "first_pos", "last_pos",
]
_BLOCK_COLS = ["n_points", "min_ts", "max_ts", "codec", "block"]
_ORDER = ["kind", "source", "doc_id", "bucket_ts", *_TIER_COLS, *_BLOCK_COLS]


def decode_token_batch(pdf):
    """Flatten one pandas batch's `tokens` arrays into (src_arr, doc_arr,
    d, pos, v): d indexes src_arr/doc_arr, pos is the 0-based token
    position and v the token value, with -1 sentinels (missing) dropped.
    Returns None for empty / all-missing batches."""
    tok_list = [np.asarray(t, dtype=np.int64) for t in pdf["tokens"]]
    if not tok_list:
        return None
    lens = np.asarray([len(t) for t in tok_list], dtype=np.int64)
    toks = np.concatenate(tok_list)
    doc_idx = np.repeat(np.arange(len(tok_list)), lens)
    doc_start = np.r_[0, np.cumsum(lens)[:-1]]
    pos = np.arange(len(toks), dtype=np.int64) - doc_start[doc_idx]
    keep = toks != -1
    if not keep.any():
        return None
    return (
        pdf["source"].to_numpy(),
        pdf["doc_id"].to_numpy(),
        doc_idx[keep],
        pos[keep],
        toks[keep],
    )


def ladder_frames(src_arr, doc_arr, d, pos_kept, v, t0_s):
    """Pure-numpy ladder fold over one decoded batch -> list of per-tier
    pandas frames: 1m reduced from raw positions, 5m re-aggregating the
    in-memory 1m group arrays, 1h the 5m arrays (the same associative
    merges as rollup_from_tier). Every frame carries the first_pos /
    last_pos order keys."""

    def reduce_tier(d, bucket, n, s, mn, mx, fv, lv, fp, lp, seconds):
        # merge finer-tier group arrays into coarser buckets (order keys
        # ride along: groups are pos-sorted, so the coarse first is the
        # first fine group's first)
        b2 = bucket - bucket % seconds
        new = np.r_[True, (d[1:] != d[:-1]) | (b2[1:] != b2[:-1])]
        st = np.flatnonzero(new)
        en = np.r_[st[1:], len(d)]
        return (
            d[st],
            b2[st],
            np.add.reduceat(n, st),
            np.add.reduceat(s, st),
            np.minimum.reduceat(mn, st),
            np.maximum.reduceat(mx, st),
            fv[st],
            lv[en - 1],
            fp[st],
            lp[en - 1],
        )

    epoch = t0_s + pos_kept
    bucket = epoch - epoch % TIERS["1m"]
    new = np.r_[True, (d[1:] != d[:-1]) | (bucket[1:] != bucket[:-1])]
    st = np.flatnonzero(new)
    en = np.r_[st[1:], len(d)]
    vf = v.astype(np.float64)
    cur = (
        d[st],
        bucket[st],
        (en - st).astype(np.int64),
        np.add.reduceat(v, st),
        np.minimum.reduceat(vf, st),
        np.maximum.reduceat(vf, st),
        vf[st],
        vf[en - 1],
        pos_kept[st],
        pos_kept[en - 1],
    )
    frames = []
    for tier, seconds in TIERS.items():
        if tier != "1m":
            cur = reduce_tier(*cur, seconds)
        td, tb, tn, ts_, tmn, tmx, tf, tl, tfp, tlp = cur
        frames.append(
            pd.DataFrame(
                {
                    "source": src_arr[td],
                    "doc_id": doc_arr[td],
                    "bucket_ts": _dt_ns(tb * 10**9),
                    "n_obs": tn,
                    "sum_val": ts_,
                    "min_val": tmn,
                    "max_val": tmx,
                    "first_val": tf,
                    "last_val": tl,
                    "tier": tier,
                    "first_pos": tfp,
                    "last_pos": tlp,
                }
            )
        )
    return frames


def _pad_nulls(frame: pd.DataFrame, null_cols: list[str]) -> pd.DataFrame:
    # Pad the other kind's columns with NATIVE-dtype placeholders.
    # Two hard constraints, both measured:
    #   * NEVER concat tier+block frames into one — mixing typed
    #     numerics with object Nones coerces the numeric columns to
    #     object dtype and Arrow serialization goes per-element
    #     (2x wall on the whole job);
    #   * NEVER use pandas extension dtypes ("Int64" masked ints) for
    #     the padded long columns — their Arrow conversion crashed
    #     Python workers sporadically under load (silent worker exit
    #     mid-stage, which local mode turns into a hung job). Integer
    #     placeholders are 0, not null: split_ingest selects only the
    #     columns matching the row's `kind`, so padded cells are never
    #     read.
    for col in null_cols:
        if col in ("min_ts", "max_ts"):
            frame[col] = pd.Series(pd.NaT, index=frame.index)
        elif col in ("codec", "tier"):
            frame[col] = ""
        elif col == "block":
            frame[col] = None  # binary: object column either way
        elif col in ("n_obs", "sum_val", "n_points", "first_pos",
                     "last_pos"):
            frame[col] = np.int64(0)
        else:
            frame[col] = np.nan
    return frame[_ORDER]


def ingest_from_tokens(
    tokens_df: DataFrame,
    t0: str = "2024-01-01 00:00:00",
    block_seconds: int = 3600,
) -> DataFrame:
    """tokens -> one frame holding all three rollup tiers (kind='tier')
    and the encoded Gorilla blocks (kind='block'), from a single scan."""
    t0_s = int(pd.Timestamp(t0).value // 10**9)
    t0_us = t0_s * 10**6

    def _ingest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dec = decode_token_batch(pdf)
            if dec is None:
                continue
            src_arr, doc_arr, d, pos, v = dec
            tiers = pd.concat(
                ladder_frames(src_arr, doc_arr, d, pos, v, t0_s),
                ignore_index=True,
            )
            tiers.insert(0, "kind", "tier")
            yield _pad_nulls(tiers, _BLOCK_COLS)
            # token order (row, position) is already canonical
            ep_us = t0_us + pos * 10**6
            blocks = block_frame(
                src_arr,
                doc_arr,
                d,
                ep_us - ep_us % (block_seconds * 10**6),
                ep_us,
                v.astype(np.float64),
            )
            blocks.insert(0, "kind", "block")
            yield _pad_nulls(blocks, _TIER_COLS)

    return tokens_df.select("source", "doc_id", "tokens").mapInPandas(
        _ingest, schema=INGEST_SCHEMA
    )


def split_ingest(ingested: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tiers, blocks) views of a fused ingest frame — cheap filters; use
    after persisting the fused output (or over its parquet sink) so the
    token scan is not recomputed per side. Tier rows keep their `tier`
    label; both sides keep their committed column order."""
    tiers = ingested.filter("kind = 'tier'").select(
        "source", "doc_id", "bucket_ts", *_TIER_COLS
    )
    blocks = ingested.filter("kind = 'block'").select(
        "source", "doc_id", "bucket_ts", *_BLOCK_COLS
    )
    return tiers, blocks
