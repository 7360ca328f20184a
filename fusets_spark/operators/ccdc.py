"""CCDC change detection for generic timeseries (reference ccdc.py:7-115
`ccdc_change_detection`).

The reference delegates to lcmap-pyccd's `standard_procedure` (Zhu &
Woodcock, https://doi.org/10.1016/j.rse.2015.02.009) and skips its own test
(reference tests/test_ccdc.py:37-40). This module implements the CORE of the
algorithm the reference wraps — sequential harmonic-model fitting with
consecutive-anomaly break detection — for generic single-band series (the
reference's own adaptation: "works on generic timeseries, not on raw
Landsat data"):

  per series (sorted by time, t = days since first observation):
    1. initialize a model on the first `min_obs` observations
       (harmonic OLS, harmonics.design_matrix — the same CCDC model family
       as fit_harmonics_curve);
    2. for each subsequent observation, compare the residual against
       chi · RMSE of the current segment model;
    3. `peek` CONSECUTIVE anomalous observations ⇒ a break at the first of
       them: close the segment, restart model initialization there;
       fewer than `peek` ⇒ extend the segment and refit.

Output is one row per fitted segment (every series yields ≥1), with the
break day that closed it (NULL for the final segment) — the reference's
`break_day` list is exactly the non-NULL break_day values.

Scale shape: kernels.group_kernel like every sequential kernel here (many
whole series per hash bucket, no per-row Python in the plan).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import group_kernel
from .harmonics import AVG_DAYS_YR, design_matrix

SEGMENT_SCHEMA = (
    "source string, doc_id string, segment int, start_day double, "
    "end_day double, break_day double, n_obs long, rmse double"
)


def _vario(y: np.ndarray) -> float:
    """Median absolute successive difference with quantile_cont-style
    interpolation (lower + (upper-lower)*frac) so the DuckDB oracle's
    windowed replay computes the identical double — np.median's (a+b)/2
    for even counts can differ in the last ULP."""
    if len(y) < 2:
        return 0.0
    d = np.sort(np.abs(np.diff(y)))
    m = len(d)
    pos = (m - 1) * 0.5
    flo = int(np.floor(pos))
    frac = pos - flo
    return float(d[flo] + (d[min(flo + 1, m - 1)] - d[flo]) * frac)


def detect_segments(
    t_days: np.ndarray,
    y: np.ndarray,
    num_coefficients: int = 4,
    min_obs: int = 8,
    peek: int = 3,
    chi: float = 3.0,
) -> list[tuple[float, float, float | None, int, float]]:
    """Sequential CCDC segmentation of one series. Returns a list of
    (start_day, end_day, break_day|None, n_obs, rmse) tuples.

    Deterministic-replay discipline (the driver's DuckDB oracle steps the
    same state machine in a recursive CTE): the linear (k=2) model — which
    every window whose span is under half a year uses, see _k — is fit from
    RUNNING SUMS accumulated strictly left-to-right and solved by the same
    fixed-order 2×2 elimination the oracle's SQL expressions spell out, so
    every anomaly comparison sees bit-identical doubles on both sides.
    Windows long enough for harmonic terms (k>=4, spans >= half a year)
    fall back to the lstsq path; the SQL oracle's exactness contract covers
    the k=2 regime (the driver SF's 30-day series never leave it)."""
    n = len(y)
    t = t_days - t_days[0]
    # variogram floor (pyccd's adjusted variogram): a freshly-initialized
    # model nearly interpolates short windows, so in-sample RMSE
    # underestimates the noise and everything looks anomalous; the median
    # absolute successive difference is a robust noise scale instead.
    vario = _vario(y)

    def _k(lo: int, hi: int) -> int:
        # pyccd selects model complexity by observation count; we also gate
        # each harmonic on the window SPANNING its period — the reference's
        # Landsat windows span years, but on a window of days the annual
        # Fourier columns are near-collinear with [1, t], the fit
        # extrapolates wildly, and every look-ahead looks anomalous.
        m = hi - lo
        span = t[hi - 1] - t[lo]
        if m >= 24 and span >= 1.5 * AVG_DAYS_YR:
            kk = 8
        elif m >= 18 and span >= AVG_DAYS_YR:
            kk = 6
        elif m >= 12 and span >= 0.5 * AVG_DAYS_YR:
            kk = 4
        else:
            kk = 2  # intercept + slope only
        return min(kk, num_coefficients)

    class _Sums:
        """Running k=2 sums over the current window, accumulated
        left-to-right relative to the window's t origin."""

        def __init__(self, lo: int):
            self.lo = lo
            self.m = 0
            self.st = self.stt = self.sy = self.sty = self.syy = 0.0

        def add(self, j: int) -> None:
            tt = t[j] - t[self.lo]
            yj = y[j]
            self.st = self.st + tt
            self.stt = self.stt + tt * tt
            self.sy = self.sy + yj
            self.sty = self.sty + tt * yj
            self.syy = self.syy + yj * yj
            self.m += 1

        def fit2(self) -> tuple[float, float, float]:
            """(intercept a, slope b, rmse) via fixed-order elimination of
            the 2×2 normal equations — the exact expression sequence the
            SQL oracle replays."""
            nD = float(self.m)
            m1 = self.st / nD
            h11 = self.stt - m1 * self.st
            d1 = self.sty - m1 * self.sy
            b = d1 / h11
            a = (self.sy - self.st * b) / nD
            ssr = (self.syy - a * self.sy) - b * self.sty
            cl = max(ssr, 0.0)
            dof = max(self.m - 2, 1)
            rmse = float(np.sqrt(cl / dof))
            return a, b, rmse

    def fit_general(lo: int, hi: int, k: int):
        X = design_matrix(t[lo:hi] - t[lo], max(k, 4))[:, :k]
        coef, *_ = np.linalg.lstsq(X, y[lo:hi], rcond=None)
        resid = y[lo:hi] - X @ coef
        dof = max(hi - lo - k, 1)
        rmse = float(np.sqrt(resid @ resid / dof))
        return coef, rmse

    def window_model(sums: _Sums, hi: int):
        """model = (k, a, b, coef) + rmse for window [sums.lo, hi)."""
        k = _k(sums.lo, hi)
        if k == 2:
            a, b, rmse = sums.fit2()
            return (2, a, b, None), rmse
        coef, rmse = fit_general(sums.lo, hi, k)
        return (k, 0.0, 0.0, coef), rmse

    def predict(model, lo: int, idx: np.ndarray) -> np.ndarray:
        k, a, b, coef = model
        if k == 2:
            # a + tl*b, elementwise — the oracle's expression order
            return a + (t[idx] - t[lo]) * b
        return design_matrix(t[idx] - t[lo], max(k, 4))[:, :k] @ coef

    segments = []
    start = 0
    while start < n:
        if n - start < max(min_obs, num_coefficients + 1):
            # not enough observations for a model: terminal stub segment
            segments.append(
                (float(t_days[start]), float(t_days[n - 1]), None, n - start, float("nan"))
            )
            break
        i = start + min_obs
        sums = _Sums(start)
        for j in range(start, i):
            sums.add(j)
        model, rmse = window_model(sums, i)
        broke = False
        while i < n:
            look = np.arange(i, min(i + peek, n))
            pred = predict(model, start, look)
            anom = np.abs(y[look] - pred) > chi * max(rmse, vario, 1e-9)
            if len(look) == peek and bool(anom.all()):
                segments.append(
                    (float(t_days[start]), float(t_days[i - 1]), float(t_days[i]),
                     i - start, rmse)
                )
                start = i
                broke = True
                break
            sums.add(i)
            model, rmse = window_model(sums, i + 1)
            i += 1
        if not broke:
            segments.append(
                (float(t_days[start]), float(t_days[n - 1]), None, n - start, rmse)
            )
            break
    return segments


def ccdc_segments(
    df: DataFrame,
    num_coefficients: int = 4,
    min_obs: int = 8,
    peek: int = 3,
    chi: float = 3.0,
) -> DataFrame:
    """CCDC segmentation over (source, doc_id, ts, value): one row per
    fitted segment; break_day is the day of the first observation of the
    NEXT segment (reference `break_day`), NULL for the final segment."""

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        # value in the sort key: tied timestamps must order deterministically
        # (and identically to the oracle's ORDER BY ts, value) — arrival
        # order is shuffle-dependent
        pdf = pdf.sort_values(["doc_id", "ts", "value"], kind="mergesort")
        rows = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            day = (g["ts"].astype("int64") // 10**9).to_numpy() / 86400.0
            y = g["value"].to_numpy(np.float64)
            ok = ~np.isnan(y)
            if ok.sum() == 0:
                continue
            segs = detect_segments(
                day[ok], y[ok], num_coefficients, min_obs, peek, chi
            )
            for k, (sd, ed, bd, nobs, rmse) in enumerate(segs):
                rows.append((g["source"].iloc[0], doc, k, sd, ed, bd, nobs, rmse))
        return pd.DataFrame(
            rows,
            columns=["source", "doc_id", "segment", "start_day", "end_day",
                     "break_day", "n_obs", "rmse"],
        )

    return group_kernel(df, _run, SEGMENT_SCHEMA)
