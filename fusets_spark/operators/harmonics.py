"""CCDC-style harmonic curve fit (reference ccdc.py:118-154
`fit_harmonics_curve`): per series, regress the values on a Fourier design
matrix [1, t, cos(2πkt/365.25), sin(2πkt/365.25) for k=1..K] where t = days
since the series' FIRST observation (reference ccdc.py:140-141
`dates_np - dates_np[0]`). The reference uses lcmap-pyccd's lasso
(tiny regularization); plain OLS recovers the same coefficients within the
reference's own tolerance (tests/test_ccdc.py:32-34, atol=3) and is
closed-form + deterministic.

num_coefficients: 4 (intercept, slope, cos1, sin1), 6 (+cos2, sin2),
8 (+cos3, sin3) — the CCDC model sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import group_kernel

AVG_DAYS_YR = 365.25


def design_matrix(t_days: np.ndarray, num_coefficients: int) -> np.ndarray:
    assert num_coefficients in (4, 6, 8)
    w = 2 * np.pi / AVG_DAYS_YR
    cols = [np.ones_like(t_days), t_days]
    for k in range(1, (num_coefficients - 2) // 2 + 1):
        cols.append(np.cos(k * w * t_days))
        cols.append(np.sin(k * w * t_days))
    return np.stack(cols, axis=1)


def fit_harmonics_series(
    t_days: np.ndarray, y: np.ndarray, num_coefficients: int = 4
) -> np.ndarray:
    """OLS fit; returns num_coefficients coefficients. NaNs dropped
    (reference ccdc.py:95-97)."""
    ok = ~np.isnan(y)
    X = design_matrix(t_days[ok] - t_days[ok][0], num_coefficients)
    coef, *_ = np.linalg.lstsq(X, y[ok], rcond=None)
    return coef


def solve_normal_equations_fixed_order(
    G: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Solve G c = b per series via Gaussian elimination WITHOUT pivoting in
    a FIXED operation order, vectorized across series (G: (S, K, K),
    b: (S, K)). The op sequence (k ascending, rows i ascending, each update
    one multiply then one subtract; back-substitution accumulating j
    ascending) is the exact sequence the DuckDB oracle replays as staged
    SQL expressions — identical IEEE doubles on both sides. G is SPD for
    any series with ≥ K distinct observation times, so no pivoting is
    needed for the solve to be well-defined."""
    G = G.copy()
    b = b.copy()
    S, K = b.shape
    for k in range(K):
        piv = G[:, k, k]
        for i in range(k + 1, K):
            m = G[:, i, k] / piv
            for j in range(k + 1, K):
                G[:, i, j] = G[:, i, j] - m * G[:, k, j]
            b[:, i] = b[:, i] - m * b[:, k]
    c = np.zeros((S, K))
    for i in range(K - 1, -1, -1):
        r = b[:, i].copy()
        for j in range(i + 1, K):
            r = r - G[:, i, j] * c[:, j]
        c[:, i] = r / G[:, i, i]
    return c


def harmonic_fit(
    df: DataFrame,
    num_coefficients: int = 4,
) -> DataFrame:
    """Per-series harmonic coefficients over (source, doc_id, ts, value).

    Output: (source, doc_id, n_obs, c0..c{k-1}) with c0=intercept,
    c1=slope/day, then cos/sin pairs per harmonic.

    Deterministic-by-construction OLS (reference ccdc.py:118-154 uses a
    lasso with tiny regularization; plain least squares matches within the
    reference's own test tolerance, tests/test_ccdc.py:32-34 atol=3): the
    Gram matrix/RHS are accumulated SEQUENTIALLY over observations in
    (ts, value) order — a short loop over the padded time axis, vectorized
    across all series of the task — and the K×K system is solved by
    fixed-order elimination (solve_normal_equations_fixed_order). Every
    IEEE operation happens in a defined order, so the driver's DuckDB
    oracle replays the identical arithmetic via a recursive-CTE
    accumulation + staged-expression elimination and matches bit-for-bit,
    which an SVD/lstsq path could not guarantee on near-collinear designs.
    """
    cols = ", ".join(f"c{i} double" for i in range(num_coefficients))
    schema = f"source string, doc_id string, n_obs long, {cols}"
    K = num_coefficients
    w = 2 * np.pi / AVG_DAYS_YR

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "source": pd.Series(dtype=object),
                "doc_id": pd.Series(dtype=object),
                "n_obs": pd.Series(dtype=np.int64),
                **{f"c{i}": pd.Series(dtype=np.float64) for i in range(K)},
            }
        )
        if not len(pdf):
            return empty
        pdf = pdf.sort_values(["doc_id", "ts", "value"], kind="mergesort")
        y_all = pdf["value"].to_numpy(np.float64)
        okm = ~np.isnan(y_all)
        pdf = pdf.loc[okm]
        y_all = y_all[okm]
        if not len(pdf):
            return empty
        docs = pdf["doc_id"].to_numpy()
        day = (pdf["ts"].astype("int64").to_numpy() // 10**9) / 86400.0
        new = np.r_[True, docs[1:] != docs[:-1]]
        starts = np.flatnonzero(new)
        lens = np.diff(np.r_[starts, len(docs)])
        keep = lens >= K
        starts, lens = starts[keep], lens[keep]
        if not len(starts):
            return empty
        S = len(starts)
        n_max = int(lens.max())
        # padded (S, n_max) arrays; padding is exactly 0.0 everywhere so a
        # padded step adds +0.0 to every accumulator — bit-preserving (the
        # accumulators are never -0.0: they start at +0.0 and IEEE
        # round-to-nearest cancellation yields +0.0)
        T = np.zeros((S, n_max))
        Y = np.zeros((S, n_max))
        mask = np.arange(n_max)[None, :] < lens[:, None]
        idx = starts[:, None] + np.minimum(
            np.arange(n_max)[None, :], lens[:, None] - 1
        )
        T[mask] = (day[idx] - day[starts][:, None])[mask]
        Y[mask] = y_all[idx][mask]
        # basis functions per (series, step): 1, t, cos(kwt), sin(kwt)
        B = np.zeros((S, n_max, K))
        B[:, :, 0] = np.where(mask, 1.0, 0.0)
        B[:, :, 1] = T
        for h in range(1, (K - 2) // 2 + 1):
            wt = (h * w) * T
            B[:, :, 2 * h] = np.where(mask, np.cos(wt), 0.0)
            B[:, :, 2 * h + 1] = np.where(mask, np.sin(wt), 0.0)
        G = np.zeros((S, K, K))
        rhs = np.zeros((S, K))
        for i in range(n_max):
            f = B[:, i, :]
            y = Y[:, i]
            for p in range(K):
                for q in range(p, K):
                    G[:, p, q] = G[:, p, q] + f[:, p] * f[:, q]
                rhs[:, p] = rhs[:, p] + f[:, p] * y
        for p in range(K):
            for q in range(p):
                G[:, p, q] = G[:, q, p]
        coef = solve_normal_equations_fixed_order(G, rhs)
        out = {
            "source": pdf["source"].to_numpy()[starts],
            "doc_id": docs[starts],
            "n_obs": lens.astype(np.int64),
        }
        for i in range(K):
            out[f"c{i}"] = coef[:, i]
        return pd.DataFrame(out)

    return group_kernel(df, _fit, schema)


def harmonic_fitted(
    df: DataFrame,
    num_coefficients: int = 4,
) -> DataFrame:
    """Per-point FITTED values ŷ = X(XᵀX)⁻¹Xᵀy of the harmonic OLS fit —
    the verifiable face of harmonic_fit: fitted values are invariant to the
    basis spanning the model space, so a SQL oracle can evaluate the same
    projection through a stable orthogonalized basis and match to 6dp,
    where raw normal-equation COEFFICIENTS of the near-collinear Fourier
    design would not be comparable. Series with fewer than
    num_coefficients observations are dropped (as in harmonic_fit)."""

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "ts", "value"], kind="mergesort")
        outs = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            day = (g["ts"].astype("int64") // 10**9).to_numpy() / 86400.0
            y = g["value"].to_numpy(np.float64)
            ok = ~np.isnan(y)
            if ok.sum() < num_coefficients:
                continue
            coef = fit_harmonics_series(day, y, num_coefficients)
            X = design_matrix(day - day[ok][0], num_coefficients)
            outs.append(
                pd.DataFrame(
                    {
                        "source": g["source"].to_numpy(),
                        "doc_id": doc,
                        "ts": g["ts"].to_numpy(),
                        "yhat": X @ coef,
                    }
                )
            )
        if not outs:
            return pd.DataFrame(
                columns=["source", "doc_id", "ts", "yhat"]
            ).astype({"source": str, "doc_id": str, "yhat": np.float64})
        return pd.concat(outs, ignore_index=True)

    return group_kernel(
        df, _fit, "source string, doc_id string, ts timestamp, yhat double"
    )
