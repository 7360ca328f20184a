"""Reference implementations that tests pin production code against.

They are independent second forms of a production result and are not part
of the engine:

- rollup_ladder: the per-tier retention ladder, each tier from the one below
- encode_block_pointwise: the stateful per-point Gorilla encoder, the only
  encoder that emits the '10' reuse-window code
- minhash_signatures_expr: the pure-Catalyst minhash signature builder
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fusets_spark.codec.gorilla import _FALLBACK_PREFIX, _FALLBACK_WIDTH, _RANGES
from fusets_spark.operators.dedup import _doc_shingles
from fusets_spark.operators.rollup import rollup_from_raw, rollup_from_tier


def rollup_ladder(points: DataFrame) -> dict[str, DataFrame]:
    """Full retention ladder; each coarser tier derives from the finer one
    through rollup_from_tier."""
    t1m = rollup_from_raw(points, "1m")
    t5m = rollup_from_tier(t1m, "5m")
    t1h = rollup_from_tier(t5m, "1h")
    return {"1m": t1m, "5m": t5m, "1h": t1h}


class _BitWriter:
    """Collect (value, width) codewords; pack once with numpy at the end."""

    __slots__ = ("vals", "widths")

    def __init__(self) -> None:
        self.vals: list[int] = []
        self.widths: list[int] = []

    def write(self, value: int, width: int) -> None:
        self.vals.append(value & ((1 << width) - 1) if width < 64 else value & 0xFFFFFFFFFFFFFFFF)
        self.widths.append(width)

    def pack(self) -> bytes:
        vals = np.asarray(self.vals, dtype=np.uint64)
        widths = np.asarray(self.widths, dtype=np.int64)
        total = int(widths.sum())
        if total == 0:
            return b""
        ends = np.cumsum(widths)
        starts = ends - widths
        row = np.repeat(np.arange(len(vals)), widths)
        bitpos = np.arange(total, dtype=np.int64) - starts[row]
        shift = (widths[row] - 1 - bitpos).astype(np.uint64)
        bits = ((vals[row] >> shift) & np.uint64(1)).astype(np.uint8)
        return np.packbits(bits).tobytes()


def _encode_dod(w: _BitWriter, dod: np.ndarray) -> None:
    for d in dod:
        d = int(d)
        if d == 0:
            w.write(0, 1)
            continue
        for i, (bits, ub) in enumerate(_RANGES):
            if -(ub - 1) <= d <= ub:
                w.write(2 ** (i + 2) - 2, i + 2)  # prefix '10' / '110' / '1110'
                w.write(d + (ub - 1), bits)  # bias to unsigned
                break
        else:
            w.write(_FALLBACK_PREFIX, _FALLBACK_WIDTH)
            w.write(d & 0xFFFFFFFFFFFFFFFF, 64)


def encode_block_pointwise(ts: np.ndarray, values: np.ndarray) -> bytes:
    """Reference per-point encoder (keeps the stateful '10' reuse path of
    the Gorilla paper). Pins decoder compatibility; production blocks come
    from the vectorized encode_blocks_batched, through the block fold in
    codec/blocks.py."""
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    values = np.ascontiguousarray(values, dtype=np.float64)
    n = len(ts)
    assert len(values) == n
    w = _BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.pack()
    w.write(int(ts[0]) & 0xFFFFFFFFFFFFFFFF, 64)
    vbits = values.view(np.uint64)
    w.write(int(vbits[0]), 64)
    if n > 1:
        deltas = np.diff(ts)
        dod = np.empty_like(deltas)
        dod[0] = deltas[0]  # first delta encoded as DoD with prev_delta = 0
        dod[1:] = np.diff(deltas)
        _encode_dod(w, dod)
        # value stream
        prev_lead, prev_len = -1, -1
        prev = int(vbits[0])
        for cur in vbits[1:]:
            cur = int(cur)
            x = prev ^ cur
            prev = cur
            if x == 0:
                w.write(0, 1)
                continue
            lead = 64 - x.bit_length()
            trail = (x & -x).bit_length() - 1
            if lead > 31:
                lead = 31
            mean_len = 64 - lead - trail
            if (
                prev_lead >= 0
                and lead >= prev_lead
                and trail >= (64 - prev_lead - prev_len)
            ):
                w.write(0b10, 2)
                w.write(x >> (64 - prev_lead - prev_len), prev_len)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(mean_len - 1, 6)
                w.write(x >> trail, mean_len)
                prev_lead, prev_len = lead, mean_len
    return w.pack()


def minhash_signatures_expr(
    docs: DataFrame, n_hashes: int = 8, shingle_words: int = 3
) -> DataFrame:
    """Pure-Catalyst signature builder (the pre-round-7 implementation):
    shingle explode + min-aggregate per doc. min() is duplicate-
    insensitive, so the shingle stream skips the distinct shuffle. The
    independent reference the minhash_signatures kernel is pinned against."""
    sh = _doc_shingles(docs, shingle_words, distinct=False)
    digests = {
        j: F.md5(F.concat_ws(":", F.col("shingle"), F.lit(str(j))))
        for j in range((n_hashes + 3) // 4)
    }
    aggs = [
        F.min(F.substring(digests[i // 4], 8 * (i % 4) + 1, 8)).alias(
            f"mh{i}"
        )
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)
