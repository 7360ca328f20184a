"""Seeded input generator for the pipeline benchmark.

Uses numpy and pyarrow only; it never imports the engine, so the engine
receives nothing but generated files. Every value is a pure function of
(seed, series key, position), so any chunking of the keys yields the same
arrays and the same seed always yields byte-identical parquet files.

Data model (the engine's input schema)::

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Token position i is the timestamp ``T0 + i`` seconds and token -1 marks a
missing observation. A series is one (source, doc_id) row; a two-signal doc
has two rows with the same doc_id under FUSE_SOURCES.

Late data: a late point is a -1 slot in its series' on-time row and a real
token in a later batch's row for the same (source, doc_id), at the same
position, so late rows never overlap the on-time row.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC, the pipeline's default t0
MISSING = -1
MIN_TOK, MAX_TOK = 128, 384
MISSING_FRAC = 0.25
SOURCES = ("s2ndvi", "rvi", "vv", "vh")
SOURCE_CUM = (0.70, 0.85, 0.95)
FUSE_SOURCES = ("s2ndvi", "rvi")
SENTINEL_SOURCE = "__sentinel__"

TOKENS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)
POINTS_SCHEMA = pa.schema(
    [
        ("source", pa.string()),
        ("doc_id", pa.string()),
        ("pos", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
    ]
)

# salts: one per independent random quantity
_S_LEN, _S_PERIOD, _S_PHASE, _S_AMP, _S_NOISE = 1, 2, 3, 4, 5
_S_MISS, _S_LATE, _S_LAG, _S_SRC, _S_TWO = 6, 7, 8, 9, 10


def uniform(a: np.ndarray, b: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Deterministic uniform [0, 1) from two int arrays (splitmix64 mix)."""
    with np.errstate(over="ignore"):
        x = (
            np.asarray(a, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            + np.asarray(b, dtype=np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
            + np.uint64((seed * 1_000_003 + salt) & 0xFFFFFFFFFFFFFFFF)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def doc_name(idx: int) -> str:
    return f"doc{idx:07d}"


@dataclass
class Series:
    """Flattened full-history series, in key order.

    key/source/doc_id are per series; offsets index the flat arrays, so
    series s owns tokens[offsets[s]:offsets[s + 1]] (position = index
    within that slice). late_lag is 0 for on-time points and 1..3 for a
    point that arrives that many batches late."""

    key: np.ndarray
    source: np.ndarray
    doc_id: np.ndarray
    doc_idx: np.ndarray
    offsets: np.ndarray
    tokens: np.ndarray
    late_lag: np.ndarray

    def __len__(self) -> int:
        return len(self.key)

    @property
    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    @property
    def pos(self) -> np.ndarray:
        rep = np.repeat(np.arange(len(self)), self.lengths)
        return np.arange(len(self.tokens)) - self.offsets[rep]

    @property
    def series_of_point(self) -> np.ndarray:
        return np.repeat(np.arange(len(self)), self.lengths)

    def n_points(self) -> int:
        return int((self.tokens != MISSING).sum())


def make_series(
    doc_idx: np.ndarray,
    seed: int,
    two_signal_frac: float = 0.0,
    late_frac: float = 0.0,
) -> Series:
    """All series of the given docs. A doc is two-signal with probability
    `two_signal_frac` (then it has one series per FUSE_SOURCES entry);
    otherwise it has one series whose source follows a skewed mix. Each
    non-missing point is late with probability `late_frac`."""
    doc_idx = np.asarray(doc_idx, dtype=np.int64)
    zero = np.zeros_like(doc_idx)
    two = uniform(doc_idx, zero, seed, _S_TWO) < two_signal_frac
    src_u = uniform(doc_idx, zero, seed, _S_SRC)
    src_i = np.searchsorted(np.asarray(SOURCE_CUM), src_u, side="right")
    keys, sources, docs = [], [], []
    for i, d in enumerate(doc_idx):
        if two[i]:
            for sig, s in enumerate(FUSE_SOURCES):
                keys.append(2 * d + sig)
                sources.append(s)
                docs.append(d)
        else:
            keys.append(2 * d)
            sources.append(SOURCES[src_i[i]])
            docs.append(d)
    key = np.asarray(keys, dtype=np.int64)
    zk = np.zeros_like(key)
    lens = MIN_TOK + (
        uniform(key, zk, seed, _S_LEN) * (MAX_TOK - MIN_TOK + 1)
    ).astype(np.int64)
    offsets = np.r_[0, np.cumsum(lens)].astype(np.int64)
    rep = np.repeat(np.arange(len(key)), lens)
    pos = np.arange(offsets[-1], dtype=np.int64) - offsets[rep]
    kp = key[rep]
    period = (48.0 + 96.0 * uniform(key, zk, seed, _S_PERIOD))[rep]
    phase = (2 * np.pi * uniform(key, zk, seed, _S_PHASE))[rep]
    amp = (2500.0 + 2000.0 * uniform(key, zk, seed, _S_AMP))[rep]
    noise = (uniform(kp, pos, seed, _S_NOISE) - 0.5) * 600.0
    v = 5000.0 + amp * np.cos(2 * np.pi * pos / period + phase) + noise
    tokens = np.clip(np.round(v), 0, 10000).astype(np.int32)
    tokens[uniform(kp, pos, seed, _S_MISS) < MISSING_FRAC] = MISSING
    late = (uniform(kp, pos, seed, _S_LATE) < late_frac) & (tokens != MISSING)
    lag = 1 + (uniform(kp, pos, seed, _S_LAG) * 3).astype(np.int64)
    return Series(
        key=key,
        source=np.asarray(sources, dtype=object),
        doc_id=np.asarray([doc_name(int(d)) for d in docs], dtype=object),
        doc_idx=np.asarray(docs, dtype=np.int64),
        offsets=offsets,
        tokens=tokens,
        late_lag=np.where(late, lag, 0).astype(np.int64),
    )


def concat_series(parts: list[Series]) -> Series:
    offs, base = [], 0
    for p in parts:
        offs.append(p.offsets[:-1] + base)
        base += int(p.offsets[-1])
    return Series(
        key=np.concatenate([p.key for p in parts]),
        source=np.concatenate([p.source for p in parts]),
        doc_id=np.concatenate([p.doc_id for p in parts]),
        doc_idx=np.concatenate([p.doc_idx for p in parts]),
        offsets=np.r_[np.concatenate(offs), base].astype(np.int64),
        tokens=np.concatenate([p.tokens for p in parts]),
        late_lag=np.concatenate([p.late_lag for p in parts]),
    )


@dataclass
class BatchSet:
    """A sequence of input batches plus the full-history series they hold."""

    series: Series  # every series of every batch, full history
    batch_ids: list[str]
    rows: list[pa.Table]  # one token table per batch

    def n_rows(self) -> int:
        return sum(t.num_rows for t in self.rows)


def _token_table(source, doc_id, tok_list) -> pa.Table:
    return pa.Table.from_arrays(
        [
            pa.array(list(doc_id), pa.string()),
            pa.array(tok_list, pa.list_(pa.int32())),
            pa.array([len(t) for t in tok_list], pa.int32()),
            pa.array(list(source), pa.string()),
        ],
        schema=TOKENS_SCHEMA,
    )


def make_batches(
    n_batches: int,
    docs_per_batch: int,
    seed: int,
    late_frac: float = 0.0,
    two_signal_frac: float = 0.0,
) -> BatchSet:
    """Batch b holds the on-time rows of docs [b*N, (b+1)*N), then one late
    row per (series, b) for points of earlier batches whose lag lands them
    in b. A lag that would pass the last batch lands in the last batch;
    points of the last batch stay on time."""
    per_batch = [
        make_series(
            np.arange(b * docs_per_batch, (b + 1) * docs_per_batch),
            seed,
            two_signal_frac=two_signal_frac,
            late_frac=late_frac,
        )
        for b in range(n_batches)
    ]
    on_time: list[list] = [[] for _ in range(n_batches)]
    late: list[list] = [[] for _ in range(n_batches)]
    for b, ser in enumerate(per_batch):
        lag = np.minimum(ser.late_lag, n_batches - 1 - b)
        ser.late_lag = lag
        for s in range(len(ser)):
            sl = slice(ser.offsets[s], ser.offsets[s + 1])
            tok, lg = ser.tokens[sl], lag[sl]
            on_time[b].append(
                (ser.source[s], ser.doc_id[s], np.where(lg == 0, tok, MISSING))
            )
            for k in np.unique(lg[lg > 0]):
                late[b + int(k)].append(
                    (
                        ser.source[s],
                        ser.doc_id[s],
                        np.where(lg == k, tok, MISSING).astype(np.int32),
                    )
                )
    tables = []
    for b in range(n_batches):
        rows = on_time[b] + late[b]
        tables.append(
            _token_table(
                [r[0] for r in rows],
                [r[1] for r in rows],
                [r[2].astype(np.int32) for r in rows],
            )
        )
    return BatchSet(
        series=concat_series(per_batch),
        batch_ids=[f"b{b:02d}" for b in range(n_batches)],
        rows=tables,
    )


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write `table` as `n_files` parquet files under directory `path`,
    contiguous row ranges in order (file names sort in row order)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        pq.write_table(
            table.slice(bounds[f], bounds[f + 1] - bounds[f]),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )


def points_table(ser: Series) -> pa.Table:
    """Long points (source, doc_id, pos, ts, value) of all non-missing
    points, in (series, pos) order — the streaming input shape."""
    keep = ser.tokens != MISSING
    sp = ser.series_of_point[keep]
    pos = ser.pos[keep]
    ts_us = (T0_S + pos) * 1_000_000
    return pa.Table.from_arrays(
        [
            pa.array(ser.source[sp], pa.string()),
            pa.array(ser.doc_id[sp], pa.string()),
            pa.array(pos, pa.int64()),
            pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            pa.array(ser.tokens[keep].astype(np.float64), pa.float64()),
        ],
        schema=POINTS_SCHEMA,
    )


def write_backlog(ser: Series, path: str, n_files: int = 8) -> None:
    """Stream backlog: the points of doc d go to file d % n_files, then one
    trailing sentinel file holding a single point a day past the data (so
    event-time watermarks pass every real window). Files get strictly
    increasing mtimes: the file source reads oldest first."""
    pts = points_table(ser)
    file_of = np.repeat(ser.doc_idx % n_files, ser.lengths)[
        ser.tokens != MISSING
    ]
    os.makedirs(path, exist_ok=True)
    names = []
    for f in range(n_files):
        name = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(pts.filter(pa.array(file_of == f)), name)
        names.append(name)
    sentinel = pa.Table.from_arrays(
        [
            pa.array([SENTINEL_SOURCE]),
            pa.array(["s"]),
            pa.array([86400], pa.int64()),
            pa.array([(T0_S + 86400) * 1_000_000], pa.timestamp("us", tz="UTC")),
            pa.array([0.0]),
        ],
        schema=POINTS_SCHEMA,
    )
    name = os.path.join(path, f"part-{n_files:03d}.parquet")
    pq.write_table(sentinel, name)
    names.append(name)
    for i, name in enumerate(names):
        os.utime(name, (1_700_000_000 + i, 1_700_000_000 + i))
