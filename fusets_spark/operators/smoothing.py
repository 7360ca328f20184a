"""Savitzky–Golay and Gaussian smoothing (reference _phenolopy.py:765-779
`remove_noise_savitsky` / `remove_noise_gaussian`, scipy savgol_filter /
gaussian_filter1d) — reimplemented in pure numpy with scipy's default
semantics, run vectorized across many whole series per Arrow group.

Savitzky–Golay (mode='interp', scipy default): interior = convolution with
the least-squares coefficient window; the first/last half-windows are
evaluated from a polyorder-degree polynomial fit to the first/last `window`
samples (exactly scipy's _fit_edges_polyfit).

Gaussian (mode='reflect', truncate=4.0, scipy defaults): convolution with a
normalized Gaussian kernel over reflect-padded values.

Both assume regular sampling along the row order (the reference applies
them to resampled/interpolated cubes, _phenolopy.py:711-800).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import group_kernel

SMOOTH_SCHEMA = "source string, doc_id string, ts timestamp, value_smooth double"


def savgol_coeffs(window: int, polyorder: int) -> np.ndarray:
    """Least-squares smoothing coefficients for the centered window
    (equivalent to scipy.signal.savgol_coeffs(..., deriv=0), derived from
    the normal equations of a polynomial fit on [-k..k])."""
    assert window % 2 == 1 and polyorder < window
    k = window // 2
    x = np.arange(-k, k + 1, dtype=np.float64)
    A = np.vander(x, polyorder + 1, increasing=True)  # (window, p+1)
    # projection of the delta at center onto the polynomial space:
    # coeffs = e0^T (A^T A)^{-1} A^T
    ATA_inv = np.linalg.inv(A.T @ A)
    return (A @ ATA_inv)[:, 0]  # value at x=0 is the 0th poly coefficient


def savgol_matrix(n: int, polyorder: int) -> np.ndarray:
    """Least-squares smoothing (projection) matrix S = A (AᵀA)⁻¹ Aᵀ over
    x = 0..n-1: Ŷ = S·y is the polyorder-degree polyfit evaluated at every
    x. Row i is the fixed linear-combination weights producing out[i] — the
    same literals the SQL oracle embeds."""
    x = np.arange(n, dtype=np.float64)
    A = np.vander(x, polyorder + 1, increasing=True)
    return A @ np.linalg.inv(A.T @ A) @ A.T


def savgol_1d(y: np.ndarray, window: int, polyorder: int) -> np.ndarray:
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n < window:
        # degenerate: single global polynomial fit (scipy raises; we fit)
        if n <= polyorder:
            return y.copy()
        return savgol_matrix(n, polyorder) @ y
    k = window // 2
    c = savgol_coeffs(window, polyorder)
    out = np.convolve(y, c[::-1], mode="same")
    # edges: polynomial fit to the first/last `window` samples (mode=interp)
    S = savgol_matrix(window, polyorder)
    out[:k] = S[:k] @ y[:window]
    out[-k:] = S[-k:] @ y[-window:]
    return out


def gaussian_kernel(sigma: float, truncate: float = 4.0) -> np.ndarray:
    r = int(truncate * sigma + 0.5)
    x = np.arange(-r, r + 1, dtype=np.float64)
    k = np.exp(-0.5 * (x / sigma) ** 2)
    return k / k.sum()


def reflect_index(j: int, n: int) -> int:
    """Symmetric-reflection index (np.pad mode='symmetric', edge sample
    included, repeated reflection for pad > n): tile period is 2n."""
    m = j % (2 * n)
    return m if m < n else 2 * n - 1 - m


def gaussian_fold_weights(i: int, n: int, kern: np.ndarray) -> np.ndarray:
    """Per-position effective weights over the ORIGINAL samples after
    folding the reflect padding into the kernel: out[i] = w·y with
    w[u] = Σ_j kern[j-i+r] over all padded offsets j that reflect to u.
    These are the literals the SQL oracle embeds for edge rows."""
    r = len(kern) // 2
    w = np.zeros(n)
    for j in range(i - r, i + r + 1):
        w[reflect_index(j, n)] += kern[j - i + r]
    return w


def gaussian_1d(y: np.ndarray, sigma: float, truncate: float = 4.0) -> np.ndarray:
    k = gaussian_kernel(sigma, truncate)
    r = len(k) // 2
    if r == 0 or len(y) == 0:
        return y.astype(np.float64).copy()
    # scipy mode='reflect' (edge sample included) == np.pad 'symmetric';
    # np.pad handles pad width > len(y) via repeated reflection
    yp = np.pad(y.astype(np.float64), r, mode="symmetric")
    return np.convolve(yp, k[::-1], mode="valid")


def loess_trend(y: np.ndarray, seasonal: int = 7) -> np.ndarray:
    """STL trend component for the reference's stl_trend SOS/EOS method
    (reference _phenolopy.py:1510-1593): the reference calls statsmodels
    STL with period = len(series) (+1 if even) and seasonal=7. With a
    single cycle the seasonal component is unidentifiable (every cycle
    subseries has one sample), so STL degenerates to its TREND smoother —
    degree-1 LOESS with tricube weights and the STL default trend window
    (smallest odd integer ≥ 1.5·period/(1 − 1.5/seasonal)), which we
    implement directly in numpy (no statsmodels in this container).
    Exactly reproduces linear series (weighted linear fit)."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n <= 2:
        return y.copy()
    period = n if n % 2 == 1 else n + 1
    window = int(np.ceil(1.5 * period / (1 - 1.5 / seasonal)))
    if window % 2 == 0:
        window += 1
    x = np.arange(n, dtype=np.float64)
    out = np.empty(n)
    for i in range(n):
        d = np.abs(x - x[i])
        q = min(window, n)
        dq = np.partition(d, q - 1)[q - 1]
        if window > n:  # lowess extension for span > data (Cleveland)
            dq *= window / n
        w = (1.0 - np.clip(d / max(dq, 1e-12), 0.0, 1.0) ** 3) ** 3
        sw = w.sum()
        sx = (w * x).sum()
        sy = (w * y).sum()
        sxx = (w * x * x).sum()
        sxy = (w * x * y).sum()
        det = sw * sxx - sx * sx
        if det <= 1e-12 * sw * sxx:
            out[i] = sy / sw
        else:
            b = (sw * sxy - sx * sy) / det
            a = (sy - b * sx) / sw
            out[i] = a + b * x[i]
    return out


def stl_trend_col(df: DataFrame) -> DataFrame:
    """Per-row LOESS/STL trend over (source, doc_id, ts, value) — the
    per-row target curve for phenometrics(method='stl_trend'). Output
    (source string, doc_id string, ts, trend)."""
    out = _per_series(df, loess_trend)
    return out.withColumnRenamed("value_smooth", "trend")


def _per_series(df: DataFrame, fn) -> DataFrame:
    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        # value tie-break: tied timestamps must order deterministically
        # (matching the stl_trend oracle's ORDER BY ts, value)
        pdf = pdf.sort_values(["doc_id", "ts", "value"], kind="mergesort")
        outs = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            outs.append(
                pd.DataFrame(
                    {
                        "source": g["source"].to_numpy(),
                        "doc_id": doc,
                        "ts": g["ts"].to_numpy(),
                        "value_smooth": fn(g["value"].to_numpy(np.float64)),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return group_kernel(df, _run, SMOOTH_SCHEMA)


def savgol_smooth(df: DataFrame, window: int = 7, polyorder: int = 2) -> DataFrame:
    return _per_series(df, lambda y: savgol_1d(y, window, polyorder))


def gaussian_smooth(df: DataFrame, sigma: float = 1.5) -> DataFrame:
    return _per_series(df, lambda y: gaussian_1d(y, sigma))
