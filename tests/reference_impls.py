"""Reference implementations that tests pin production code against.

They are independent second forms of a production result and are not part
of the engine:

- rollup_ladder: the per-tier retention ladder, each tier from the one below
- encode_block_pointwise: the stateful per-point Gorilla encoder, the only
  encoder that emits the '10' reuse-window code
- minhash_signatures_expr: the pure-Catalyst minhash signature builder
- _bucket_expr / _plane_dot / _dlit: the Catalyst LSH bucket string, one
  parsed left-fold dot per hyperplane
- _ivf_cell_scores: the Catalyst IVF per-cell score structs
- simhash_expr: the pure-Catalyst SimHash vote fold
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fusets_spark.codec.gorilla import _FALLBACK_PREFIX, _FALLBACK_WIDTH, _RANGES
from fusets_spark.operators.dedup import _doc_shingles, _words
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


def _dlit(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-tripping
    decimal and both Python and Spark parse decimal→double with correct
    rounding, so the parsed Literal is bit-identical to F.lit(float(v))."""
    return f"{v!r}D"


def _plane_dot(vec_col: str, plane: np.ndarray) -> Column:
    """vec·plane as ONE parsed SQL expression (one py4j round trip, not
    hundreds per plane): the left-associated (((0.0 + x0·p0) + x1·p1) + ...)
    chain with CAST(vec[k] AS DOUBLE) terms."""
    terms = " + ".join(
        f"CAST({vec_col}[{k}] AS DOUBLE) * {_dlit(float(v))}"
        for k, v in enumerate(plane)
    )
    return F.expr(f"0.0D + {terms}")


def _bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """Catalyst LSH bucket: one '0'/'1' char per plane, '1' iff the dot is
    > 0. similarity._bucket_strings_kernel is pinned to this form."""
    bits = [
        (_plane_dot(vec_col, p) > 0).cast("int").cast("string") for p in planes
    ]
    return F.concat(*bits)


def _ivf_cell_scores(vec_col: str, centroids: np.ndarray) -> list[Column]:
    """Per-cell score struct (|c|² − 2·v·c, cell) — the first element of
    their array_sort is the nearest centroid (the |v|² term is constant
    across cells). similarity._assign_cells_kernel and the IVF query's
    probe order are pinned to this form."""
    out = []
    for i, c in enumerate(centroids):
        n2 = float(c @ c)
        score = F.lit(n2) - 2.0 * _plane_dot(vec_col, c)
        out.append(F.struct(score.alias("d"), F.lit(i).alias("c")))
    return out


def simhash_expr(docs: DataFrame, bits: int = 64) -> DataFrame:
    """Pure-Catalyst SimHash (the pre-round-7 implementation): a single
    per-row higher-order array fold (aggregate over the word-hash array of
    zip_with'd ±1 vote vectors) — zero shuffle, no Python. Reads bits // 4
    hex nibbles, so it is a reference only for bits % 4 == 0. The
    independent reference the dedup.simhash kernel is pinned against."""
    nibbles = bits // 4
    hashes = F.transform(_words(), lambda w: F.substring(F.md5(w), 1, nibbles))
    # hex char -> its 4-bit ±1 vote vector, as a 16-entry literal map: one
    # lookup + flatten per nibble beats 4 arithmetic bit extractions
    vote_map = F.create_map(
        *[
            part
            for c in "0123456789abcdef"
            for part in (
                F.lit(c),
                F.array(
                    *[
                        F.lit(1 if (int(c, 16) >> (3 - b)) & 1 else -1)
                        for b in range(4)
                    ]
                ),
            )
        ]
    )

    def votes(hx: Column) -> Column:
        # ±1 vote vector of length `bits` for one word hash: per-nibble
        # map lookup, flattened in hex-digit order (bit b = nibble b//4,
        # position 3-(b%4) — exactly the map entries' order).
        return F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(nibbles - 1)),
                lambda j: F.element_at(vote_map, F.substr(hx, j + 1, F.lit(1))),
            )
        )

    acc = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda a, hx: F.zip_with(a, votes(hx), lambda x, v: x + v),
    )
    sim = F.concat_ws(
        "", F.transform(acc, lambda s: (s > 0).cast("int").cast("string"))
    )
    return docs.select("doc_id", sim.alias("simhash"))
