"""Whittaker gap-fill goldens — mirrors reference tests/test_whittaker.py:29-41
(42-day daily grid, smoothed ≈ cos(0.35x) within atol=0.15, no NaNs, stride-4
sampling) plus solver cross-checks against a dense numpy solve."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fusets_spark.datagen import sinusoidal_fixture
from fusets_spark.operators.whittaker import (
    per_series_bands,
    whittaker_gapfill,
    whittaker_smooth_series,
    whittaker_solve,
)


def _dense_solve(y, w, lmbd):
    n = len(y)
    D2 = np.diff(np.eye(n), 2, axis=0)
    A = np.diag(w) + lmbd * (D2.T @ D2) + 1e-9 * np.eye(n)
    return np.linalg.solve(A, w * y)


def test_bands_match_dense_matrix():
    for n in (3, 4, 7, 30):
        D2 = np.diff(np.eye(n), 2, axis=0)
        M = D2.T @ D2
        (m0,), (m1,), (m2,) = per_series_bands(np.array([n]), n)
        assert np.allclose(np.diag(M), m0)
        assert np.allclose(np.diag(M, 1), m1)
        assert np.allclose(np.diag(M, 2), m2)


def test_banded_solver_matches_dense():
    rng = np.random.default_rng(0)
    for n in (3, 5, 17, 101):
        y = rng.normal(size=n)
        w = (rng.random(n) > 0.3).astype(float)
        w[0] = 1.0
        z_band = whittaker_solve(y[None, :], w[None, :], 42.0)[0]
        z_dense = _dense_solve(y, w, 42.0)
        assert np.allclose(z_band, z_dense, atol=1e-9)


def test_padding_does_not_change_solution():
    """A padded (w=0) tail must not perturb the real segment — this is what
    makes the batched (S, n_max) solve exact for ragged series."""
    rng = np.random.default_rng(1)
    n, pad = 40, 25
    y = rng.normal(size=n)
    w = np.ones(n)
    solo = whittaker_solve(y[None, :], w[None, :], 100.0)[0]
    yp = np.r_[y, np.zeros(pad)]
    wp = np.r_[w, np.zeros(pad)]
    padded = whittaker_solve(yp[None, :], wp[None, :], 100.0)[0][:n]
    assert np.allclose(solo, padded, atol=1e-6)


def test_reference_golden_f2():
    fx = sinusoidal_fixture().dropna(subset=["value"])
    epoch = fx["ts"].astype("int64").to_numpy() // 10**9
    grid, z = whittaker_smooth_series(
        epoch, fx["value"].to_numpy(), lmbd=1.0, grid_seconds=86400
    )
    assert len(grid) == 42  # daily grid spans 42 days (reference golden)
    assert not np.isnan(z).any()
    days = (grid - grid[0]) // 86400
    assert np.allclose(z, np.cos(0.35 * days), atol=0.15)
    # stride-4 sampling picks days 0, 4, 8, ...
    take = np.arange(0, len(grid), 4)
    assert list((grid[take] - grid[0]) // 86400) == list(range(0, 42, 4))[: len(take)]


def test_spark_gapfill_matches_local_oracle(spark, set_buckets):
    fx = sinusoidal_fixture().dropna(subset=["value"]).copy()
    frames = []
    for k in range(6):  # several series, shifted values, to exercise batching
        f = fx.copy()
        f["doc_id"] = f"s-{k:03d}"
        f["source"] = "s2ndvi" if k % 2 == 0 else "rvi"
        f["value"] = f["value"] + 0.1 * k
        frames.append(f)
    pdf = pd.concat(frames, ignore_index=True)
    sdf = spark.createDataFrame(pdf[["source", "doc_id", "ts", "value"]])
    set_buckets(2)
    got = (
        whittaker_gapfill(sdf, lmbd=1.0, grid_seconds=86400)
        .toPandas()
        .sort_values(["source", "doc_id", "ts"])
        .reset_index(drop=True)
    )
    # local oracle per series
    oracle_rows = []
    for (src, doc), g in pdf.groupby(["source", "doc_id"]):
        ep = g["ts"].astype("int64").to_numpy() // 10**9
        grid, z = whittaker_smooth_series(ep, g["value"].to_numpy(), 1.0, 86400)
        oracle_rows.append(
            pd.DataFrame(
                {"source": src, "doc_id": doc,
                 "ts": pd.to_datetime(grid * 10**9), "value_smooth": z}
            )
        )
    want = (
        pd.concat(oracle_rows, ignore_index=True)
        .sort_values(["source", "doc_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert np.allclose(got["value_smooth"], want["value_smooth"], atol=1e-6)
    assert (got["ts"].to_numpy() == want["ts"].to_numpy()).all()


def test_padded_solve_bit_identical_with_lengths():
    """Per-series bands decouple the factorization at each series' boundary:
    a sparse series padded to ANY longer grid must solve bit-identically to
    its unpadded solve (without lengths, the w=0 tail couples back through
    the penalty + ridge and visibly bends sparse series — grouping-dependent
    results at the operator level)."""
    import numpy as np

    from fusets_spark.operators.whittaker import whittaker_solve

    rng = np.random.default_rng(7)
    for n_obs, n in ((6, 374), (30, 50), (3, 3), (2, 10), (1, 5)):
        idx = np.sort(rng.choice(n, size=min(n_obs, n), replace=False))
        vv = rng.normal(size=len(idx)) * 100
        ref_y = np.zeros((1, n))
        ref_w = np.zeros((1, n))
        ref_y[0, idx] = vv
        ref_w[0, idx] = 1.0
        z_ref = whittaker_solve(ref_y, ref_w, 100.0)[0]
        for pad in (1, 100, 1000):
            y = np.zeros((1, n + pad))
            w = np.zeros((1, n + pad))
            y[0, idx] = vv
            w[0, idx] = 1.0
            z = whittaker_solve(y, w, 100.0, lengths=np.array([n]))[0][:n]
            assert (z == z_ref).all(), (n_obs, n, pad)


def test_gapfill_grouping_invariant(spark, set_buckets):
    """The distributed operator's output must not depend on how series are
    hash-bucketed (exact equality, not approx)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fusets_spark.operators.whittaker import whittaker_gapfill

    pts = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.col("event_type").alias("source"),
        F.col("user_id").cast("string").alias("doc_id"),
        "ts",
        "value",
    )
    set_buckets(5)
    a = (
        whittaker_gapfill(pts, lmbd=100.0, grid_seconds=3600)
        .orderBy("source", "doc_id", "ts")
        .toPandas()
    )
    set_buckets(61)
    b = (
        whittaker_gapfill(pts, lmbd=100.0, grid_seconds=3600)
        .orderBy("source", "doc_id", "ts")
        .toPandas()
    )
    assert len(a) == len(b)
    av = a["value_smooth"].to_numpy(np.float64)
    bv = b["value_smooth"].to_numpy(np.float64)
    assert av.tobytes() == bv.tobytes()
