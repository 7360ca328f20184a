"""Deterministic synthetic data generators.

F1: the canonical tokenized-sequence table (BASELINE.json input_hint)::

    doc_id: string, tokens: array<int>, n_tok: int, source: string

Generation is *distributed* (spark.range -> map_kernel) and *deterministic
independent of partitioning*: every token value is a pure function of
(doc index, position), so the same (n_docs, seed) always yields byte-identical
tables at any parallelism — required for the resume/parity tests.

F2-F4 mirror the reference test fixtures (see FIXTURES.md):
  - F2 sinusoidal gap fixture  (reference tests/conftest.py:25-40)
  - F3 harmonic fixture        (reference tests/conftest.py:43-68)
  - F4 outlier fixture         (reference tests/conftest.py:71-78)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import TOKEN_MISSING, VALUE_SCALE
from .kernels import map_kernel

TOKENS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

# deliberately skewed source mix: one hot source to exercise salting
SOURCES = ("s2ndvi", "rvi", "vv", "vh")
SOURCE_CUM_WEIGHTS = (0.70, 0.85, 0.95, 1.00)

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _hash01(a: np.ndarray, b: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic uniform[0,1) from two integer arrays (splitmix-style)."""
    x = (
        a.astype(np.uint64) * _MIX
        + b.astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
        + np.uint64(seed)
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _doc_source_idx(doc_idx: np.ndarray, seed: int) -> np.ndarray:
    u = _hash01(doc_idx, np.zeros_like(doc_idx), seed ^ 0xA5A5)
    idx = np.zeros(len(doc_idx), dtype=np.int64)
    for i, c in enumerate(SOURCE_CUM_WEIGHTS[:-1]):
        idx += (u >= c).astype(np.int64)
    return idx


def _doc_tokens(doc_idx: int, seed: int, min_tok: int, max_tok: int) -> np.ndarray:
    """Token array for one doc: quantized harmonic + trend + hash noise, with
    deterministic ~25% missing (-1 sentinel). Values land in the reference's
    [0, 10000] convention (ccdc.py:125) before quantization."""
    d = np.asarray([doc_idx], dtype=np.int64)
    n = min_tok + int(_hash01(d, d + 1, seed ^ 0x77)[0] * (max_tok - min_tok + 1))
    pos = np.arange(n, dtype=np.int64)
    docv = np.full(n, doc_idx, dtype=np.int64)
    period = 48.0 + 96.0 * _hash01(d, d + 2, seed ^ 0x11)[0]
    phase = 2 * np.pi * _hash01(d, d + 3, seed ^ 0x22)[0]
    amp = 0.25 + 0.2 * _hash01(d, d + 4, seed ^ 0x33)[0]
    trend = (_hash01(d, d + 5, seed ^ 0x44)[0] - 0.5) * 0.3 / max(n, 1)
    noise = (_hash01(docv, pos, seed ^ 0x55) - 0.5) * 0.06
    v = 0.5 + amp * np.cos(2 * np.pi * pos / period + phase) + trend * pos + noise
    tok = np.clip(np.round(v * VALUE_SCALE), 0, 2**31 - 1).astype(np.int32)
    missing = _hash01(docv, pos, seed ^ 0x66) < 0.25
    tok[missing] = TOKEN_MISSING
    return tok


def generate_tokens(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    min_tok: int = 64,
    max_tok: int = 512,
    partitions: int | None = None,
) -> DataFrame:
    """F1 tokenized-sequence table, generated distributed + deterministic."""

    def gen(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        ids = pdf["id"].to_numpy()
        src_idx = _doc_source_idx(ids, seed)
        toks = [_doc_tokens(int(i), seed, min_tok, max_tok) for i in ids]
        yield pd.DataFrame(
            {
                "doc_id": [f"{SOURCES[s]}-{i:010d}" for i, s in zip(ids, src_idx)],
                "tokens": toks,
                "n_tok": np.asarray([len(t) for t in toks], dtype=np.int32),
                "source": [SOURCES[s] for s in src_idx],
            }
        )

    rng = spark.range(n_docs, numPartitions=partitions)
    return map_kernel(rng, gen, TOKENS_SCHEMA)


# ---------------------------------------------------------------------------
# Reference test fixtures (F2-F4), as pandas frames usable both for Spark
# inputs (spark.createDataFrame) and for numpy oracles.
# ---------------------------------------------------------------------------

def sinusoidal_fixture() -> pd.DataFrame:
    """F2 — mirror of reference tests/conftest.py:25-40: 32 obs, uneven day
    offsets x_i = i + i//3 from 2022-01-01, y = cos(0.35 x), NaN if x%5>=2."""
    i = np.arange(32)
    x = i + i // 3
    y = np.cos(0.35 * x)
    y = np.where(x % 5 >= 2, np.nan, y)
    ts = pd.Timestamp("2022-01-01") + pd.to_timedelta(x, unit="D")
    return pd.DataFrame({"ts": ts, "day": x, "value": y})


def harmonic_fixture() -> pd.DataFrame:
    """F3 — mirror of reference tests/conftest.py:43-68: 365 points at 5-day
    cadence from 2016-01-01, y = 5000 + 5 d + 600 cos(2πd/365.25) + 200 sin."""
    i = np.arange(365)
    d = 5.0 * i
    y = (
        5000.0
        + 5.0 * d
        + 600.0 * np.cos(2 * np.pi * d / 365.25)
        + 200.0 * np.sin(2 * np.pi * d / 365.25)
    )
    ts = pd.Timestamp("2016-01-01") + pd.to_timedelta(d, unit="D")
    return pd.DataFrame({"ts": ts, "day": d, "value": y})


def outlier_fixture() -> pd.DataFrame:
    """F4 — mirror of reference tests/conftest.py:71-78: seed-42 noisy sine
    over 2019 with four ±5 spikes. Goldens: filtered mean 0.09904716 / std
    0.71552783 (reference tests/test_temporal_outliers.py:12-15)."""
    rng = np.random.default_rng(42)
    ts = pd.date_range("2019-01-01", "2019-12-31", periods=300)
    y = np.sin(np.linspace(0, 4 * np.pi, 300)) + rng.random(300) * 0.2
    idx = rng.choice(range(300), 4)
    sgn = rng.choice([-1, 1], 4)
    y[idx] += sgn * 5.0
    return pd.DataFrame({"ts": ts, "value": y})


def fusion_fixture() -> pd.DataFrame:
    """F5 — 4 series x 2 signals (phase-shifted harmonics, independent
    missingness), long format (doc_id, source, ts, value). Mirrors the MOGPR
    shape contract (reference tests/test_mogpr.py:10-18) without remote data."""
    frames = []
    t = pd.date_range("2019-01-05", periods=146, freq="5D")
    d = np.arange(146) * 5.0
    for k in range(4):
        for s_i, (src, phase) in enumerate([("s2ndvi", 0.0), ("rvi", 0.6)]):
            v = 0.5 + 0.3 * np.cos(2 * np.pi * d / 365.25 + 0.3 * k + phase)
            v = v + 0.02 * np.sin(d / 11.0 + s_i)
            mask = _hash01(
                np.full(146, k, dtype=np.int64), np.arange(146, dtype=np.int64),
                7 + s_i,
            ) < 0.3
            v = np.where(mask, np.nan, v)
            frames.append(
                pd.DataFrame(
                    {"doc_id": f"px-{k:04d}", "source": src, "ts": t, "value": v}
                )
            )
    return pd.concat(frames, ignore_index=True)
