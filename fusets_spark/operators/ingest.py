"""Token ingest: every retention tier AND the Gorilla block store from ONE
pass over the tokenized-sequence table.

This is the only code that turns tokens into tiers or blocks, and the only
module that maps a token position to time (position i -> t0 + i seconds;
the -1 sentinel is a missing point and is skipped, the reference's NaN
convention, whittaker.py:40-42). A (doc_id, bucket) group never spans two
input rows — the tokens array IS the whole series — so both folds are pure
maps: no explode, no shuffle.

The dominant cost is the block fold (codec.blocks.block_frame, ~80% of
kernel CPU on a perfbench-shaped 2048-row batch); the token decode is ~10%,
the ladder fold and building the Arrow output ~5% each. The kernel
runs on Arrow batches (kernels.map_kernel with arrow=True): each batch's
token lists are decoded once from their flattened values (decode_token_batch)
and feed both the ladder fold (ladder_columns) and the block fold.
The output holds the rollup tiers (kind='tier') and the encoded blocks
(kind='block') in one superset schema; a row's other-kind columns are
nulls. The pipeline labels each row with its stage and stages them all in
one write (plans/pipeline.py), whose reads take each stage's own columns.

Outputs equal the independent references exactly: tiers equal
rollup_from_raw(explode_raw(tokens), tier, with_order_keys=True) without
its avg_val (readers derive it as sum/count), blocks
are byte-identical to encode_blocks(explode_raw(tokens)) (pinned in
tests/test_rollup.py and tests/test_codec.py), NULL tokens included: a
NULL element is a missing point and a NULL array has no points, as in
explode_raw."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .. import TOKEN_MISSING
from ..codec.blocks import block_frame
from ..kernels import map_kernel
from .rollup import TIERS

# Spark's timestamp type as Arrow hands it over (the session pins UTC)
_TS = pa.timestamp("us", tz="UTC")
_KEY = {"source": pa.string(), "doc_id": pa.string(), "bucket_ts": _TS}
_TIER = {
    "n_obs": pa.int64(), "sum_val": pa.int64(),
    "min_val": pa.float64(), "max_val": pa.float64(),
    "first_val": pa.float64(), "last_val": pa.float64(),
    "tier": pa.string(),
    # late-data merge keys
    "first_pos": pa.int64(), "last_pos": pa.int64(),
}
_BLOCK = {
    "n_points": pa.int64(), "min_ts": _TS, "max_ts": _TS,
    "codec": pa.string(), "block": pa.binary(),
}
_OUT = pa.schema({"kind": pa.string(), **_KEY, **_TIER, **_BLOCK})

_DDL = {
    pa.string(): "string", pa.int64(): "long", pa.float64(): "double",
    _TS: "timestamp", pa.binary(): "binary",
}


def _ddl(fields) -> str:
    return ", ".join(f"{f.name} {_DDL[f.type]}" for f in fields)


INGEST_SCHEMA = _ddl(_OUT)
# the committed tier columns: the tier rows' columns without `tier`
TIER_SCHEMA = _ddl(
    f for f in _OUT if f.name in _KEY or f.name in _TIER and f.name != "tier"
)


def decode_token_batch(batch: pa.RecordBatch):
    """Flatten one Arrow batch's `tokens` lists into (d, pos, v): d indexes
    the batch's rows, pos is the 0-based token position and v the token
    value. Missing points are dropped: -1 sentinels and NULL elements (both
    keep their position), and a NULL array has no points. flatten() and
    list_value_length skip a NULL array's slot (the list's .values and
    list_parent_indices would not). Returns None when no point is left."""
    toks = batch.column("tokens")
    flat = pc.fill_null(toks.flatten(), TOKEN_MISSING).to_numpy()
    lens = pc.fill_null(pc.list_value_length(toks), 0).to_numpy()
    starts = np.cumsum(lens) - lens
    d = np.repeat(np.arange(len(lens)), lens)
    pos = np.arange(len(flat), dtype=np.int64) - starts[d]
    keep = flat != TOKEN_MISSING
    if not keep.any():
        return None
    return d[keep], pos[keep], flat[keep].astype(np.int64)


def ladder_columns(d, pos_kept, v, t0_s) -> dict[str, np.ndarray]:
    """Pure-numpy ladder fold over one decoded batch -> the tier rows of
    every tier, as columns: 1m reduced from raw positions, 5m
    re-aggregating the in-memory 1m group arrays, 1h the 5m arrays (the
    same associative merges as rollup_from_tier). `row` indexes the batch
    rows, `tier` indexes TIERS, `bucket` is in epoch seconds, and every row
    carries the first_pos / last_pos order keys."""

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
    tiers = []
    for seconds in TIERS.values():
        if seconds != TIERS["1m"]:
            cur = reduce_tier(*cur, seconds)
        tiers.append(cur)
    names = (
        "row", "bucket", "n_obs", "sum_val", "min_val", "max_val",
        "first_val", "last_val", "first_pos", "last_pos",
    )
    cols = {k: np.concatenate(c) for k, c in zip(names, zip(*tiers))}
    cols["tier"] = np.repeat(np.arange(len(tiers)), [len(t[0]) for t in tiers])
    return cols


def _out_batch(kind: str, cols: dict[str, pa.Array]) -> pa.RecordBatch:
    """One output batch of `kind` rows: `cols` and typed nulls for the
    other kind's columns."""
    n = len(cols["doc_id"])
    cols["kind"] = pa.repeat(pa.scalar(kind), n)
    return pa.RecordBatch.from_arrays(
        [cols[f.name] if f.name in cols else pa.nulls(n, f.type) for f in _OUT],
        schema=_OUT,
    )


def ingest_from_tokens(
    tokens_df: DataFrame,
    t0: str = "2024-01-01 00:00:00",
    block_seconds: int = 3600,
) -> DataFrame:
    """tokens -> one frame holding all three rollup tiers (kind='tier')
    and the encoded Gorilla blocks (kind='block'), from a single scan."""
    t0_s = int(pd.Timestamp(t0).value // 10**9)
    t0_us = t0_s * 10**6
    tier_names = pa.array(list(TIERS))

    def _ingest(batch: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
        dec = decode_token_batch(batch)
        if dec is None:
            return
        d, pos, v = dec
        src, doc = batch.column("source"), batch.column("doc_id")
        t = ladder_columns(d, pos, v, t0_s)
        row = pa.array(t.pop("row"))
        yield _out_batch(
            "tier",
            {
                "source": src.take(row),
                "doc_id": doc.take(row),
                "bucket_ts": pa.array(t.pop("bucket") * 10**6, _TS),
                "tier": tier_names.take(pa.array(t.pop("tier"))),
                **{k: pa.array(c) for k, c in t.items()},
            },
        )
        # token order (row, position) is already canonical
        ep_us = t0_us + pos * 10**6
        blocks = block_frame(
            src.to_numpy(zero_copy_only=False),
            doc.to_numpy(zero_copy_only=False),
            d,
            ep_us - ep_us % (block_seconds * 10**6),
            ep_us,
            v.astype(np.float64),
        )
        yield _out_batch(
            "block",
            {c: pa.array(blocks[c], _OUT.field(c).type) for c in blocks},
        )

    return map_kernel(
        tokens_df.select("source", "doc_id", "tokens"),
        _ingest,
        INGEST_SCHEMA,
        arrow=True,
    )
