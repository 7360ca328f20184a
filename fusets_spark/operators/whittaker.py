"""Whittaker–Eilers gap-fill + smoothing (2nd order).

Solves (W + λ·D₂ᵀD₂) z = W·y per series on a dense regular grid, where W is
the 0/1 observation-weight diagonal (missing = weight 0, the reference's NaN
convention; reference whittaker.py:40-42, 154-176 via the Cython
`vam.whittaker.ws2d`). Here the pentadiagonal system is solved with a pure
numpy banded LDLᵀ factorization, vectorized ACROSS SERIES: one Spark group =
many whole series padded to a (S, n_max) matrix, so the sequential time loop
runs O(n) numpy ops each covering S series — no per-row or per-series Python
in the hot path.

Grid semantics mirror the reference (whittaker.py:123-196): dense grid from
each series' first to last observation at `grid_seconds` cadence; multiple
observations landing in one grid cell -> last assignment wins (whittaker.py
:158-169 does exactly this via integer day indexing); `sample_every=d`
stride-samples grid points 0, d, 2d, ... (whittaker.py:181-190).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import group_kernel

SMOOTH_SCHEMA = "source string, doc_id string, ts timestamp, value_smooth double"


def per_series_bands(
    lengths: np.ndarray, n_max: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-row bands of D₂ᵀD₂ for series of individual length n_s inside a
    padded (S, n_max) batch: penalty row k exists iff 0 ≤ k ≤ n_s−3, so
    every band entry is an indicator sum — m0[j] = 1·[row j] + 4·[row j−1]
    + 1·[row j−2], m1[j] = −2·[row j] − 2·[row j−1], m2[j] = [row j].
    Beyond a series' own length all bands are 0, which makes the padded
    factorization DECOUPLE exactly at the series boundary: the solution on
    the real segment is bit-identical to an unpadded solve, so results
    cannot depend on how series are batched (grouping-invariance)."""
    ns = np.asarray(lengths, dtype=np.int64)[:, None]
    j = np.arange(n_max)[None, :]
    r0 = (j <= ns - 3).astype(np.float64)
    r1 = ((j >= 1) & (j - 1 <= ns - 3)).astype(np.float64)
    r2 = ((j >= 2) & (j - 2 <= ns - 3)).astype(np.float64)
    m0 = r0 + 4.0 * r1 + r2
    m1 = (-2.0 * r0 - 2.0 * r1)[:, : max(n_max - 1, 0)]
    m2 = r0[:, : max(n_max - 2, 0)]
    return m0, m1, m2


def whittaker_solve(
    Y: np.ndarray,
    W: np.ndarray,
    lmbd: float,
    lengths: np.ndarray | None = None,
) -> np.ndarray:
    """Solve (diag(w) + λ D₂ᵀD₂) z = w*y for each row of Y (shape S×n).

    W rows may be 0/1 or arbitrary nonnegative weights. Rows of different
    true lengths may be padded to a common n: pass `lengths` (per-row n_s,
    padding cells carry w=0) and each row solves EXACTLY its own n_s-length
    system — the per-series bands zero out beyond n_s, so the factorization
    decouples at the boundary and padding cannot perturb the real segment
    (without `lengths`, a long w=0 tail couples back through the smoothness
    penalty + ridge and visibly bends sparse series). A tiny ridge keeps
    padded/empty cells nonsingular without moving results.
    """
    Y = np.asarray(Y, dtype=np.float64)
    W = np.asarray(W, dtype=np.float64)
    S, n = Y.shape
    if n == 0:
        return Y.copy()
    ridge = 1e-9  # keeps padded/empty rows nonsingular without moving results
    if lengths is None:
        lengths = np.full(S, n)
    m0, m1, m2 = per_series_bands(lengths, n)
    a1 = lmbd * m1
    a2 = lmbd * m2
    a0 = W + lmbd * m0 + ridge
    b = W * Y

    # banded LDLᵀ, time loop sequential, series axis vectorized
    d = np.empty((S, n))
    l1 = np.zeros((S, n))
    l2 = np.zeros((S, n))
    d[:, 0] = a0[:, 0]
    if n > 1:
        l1[:, 1] = a1[:, 0] / d[:, 0]
        d[:, 1] = a0[:, 1] - l1[:, 1] ** 2 * d[:, 0]
    for i in range(2, n):
        l2[:, i] = a2[:, i - 2] / d[:, i - 2]
        l1[:, i] = (a1[:, i - 1] - l2[:, i] * l1[:, i - 1] * d[:, i - 2]) / d[:, i - 1]
        d[:, i] = (
            a0[:, i] - l1[:, i] ** 2 * d[:, i - 1] - l2[:, i] ** 2 * d[:, i - 2]
        )

    # forward substitution L c = b
    c = np.empty((S, n))
    c[:, 0] = b[:, 0]
    if n > 1:
        c[:, 1] = b[:, 1] - l1[:, 1] * c[:, 0]
    for i in range(2, n):
        c[:, i] = b[:, i] - l1[:, i] * c[:, i - 1] - l2[:, i] * c[:, i - 2]
    c /= d
    # back substitution Lᵀ z = c
    z = np.empty((S, n))
    z[:, n - 1] = c[:, n - 1]
    if n > 1:
        z[:, n - 2] = c[:, n - 2] - l1[:, n - 1] * z[:, n - 1]
    for i in range(n - 3, -1, -1):
        z[:, i] = c[:, i] - l1[:, i + 1] * z[:, i + 1] - l2[:, i + 2] * z[:, i + 2]
    return z


def whittaker_vcurve(
    Y: np.ndarray,
    W: np.ndarray,
    llas: np.ndarray | None = None,
    lengths: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-series V-curve λ selection (Eilers' V-curve, the reference's
    `ws2doptv` path taken when smoothing_lambda < 0, whittaker.py:172-174):
    solve on a log10-λ grid, compute fit = Σ w(y−z)² and penalty = Σ(Δ²z)²
    per λ, and pick λ = 10^midpoint at the minimum of
    v = sqrt(Δlog(fit)² + Δlog(pen)²) / Δlog10(λ) between consecutive grid
    points. Vectorized across series (one grid solve per λ over the whole
    (S, n) batch).

    Returns (z, lambda) per series: the final solve uses each series' own
    selected λ."""
    if llas is None:
        llas = np.arange(-2.0, 8.0, 0.5)  # log10 grid
    S, n = Y.shape
    n_l = len(llas)
    fits = np.empty((n_l, S))
    pens = np.empty((n_l, S))
    # with per-series lengths, only penalty rows inside each series count
    # (the padded tail is exactly 0, so the boundary Δ² would be spurious)
    d2_mask = (
        None
        if lengths is None
        else (
            np.arange(max(n - 2, 0))[None, :]
            <= np.asarray(lengths)[:, None] - 3
        )
    )
    for i, la in enumerate(llas):
        z = whittaker_solve(Y, W, 10.0**la, lengths=lengths)
        fits[i] = np.sum(W * (Y - z) ** 2, axis=1)
        d2 = np.diff(z, 2, axis=1)
        if d2_mask is not None:
            d2 = d2 * d2_mask
        pens[i] = np.sum(d2**2, axis=1)
    eps = 1e-300
    lf = np.log10(fits + eps)
    lp = np.log10(pens + eps)
    dl = np.diff(llas)
    v = np.sqrt(np.diff(lf, axis=0) ** 2 + np.diff(lp, axis=0) ** 2) / dl[:, None]
    k = np.argmin(v, axis=0)  # per series
    lopt = 10.0 ** ((llas[k] + llas[k + 1]) / 2)
    z_final = np.empty((S, n))
    # final solve batched per distinct selected λ (grid has few values)
    for lam in np.unique(lopt):
        sel = lopt == lam
        z_final[sel] = whittaker_solve(
            Y[sel], W[sel], float(lam),
            lengths=None if lengths is None else lengths[sel],
        )
    return z_final, lopt


def whittaker_smooth_series(
    epoch: np.ndarray,
    values: np.ndarray,
    lmbd: float,
    grid_seconds: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Single-series helper (numpy oracle + small inputs): returns
    (grid_epoch, smoothed) on the dense grid from first to last obs."""
    idx = ((epoch - epoch[0]) // grid_seconds).astype(np.int64)
    n = int(idx[-1]) + 1
    y = np.zeros(n)
    w = np.zeros(n)
    y[idx] = values  # last assignment wins, as in the reference
    w[idx] = 1.0
    z = whittaker_solve(y[None, :], w[None, :], lmbd)[0]
    grid = epoch[0] + grid_seconds * np.arange(n)
    return grid, z


def whittaker_gapfill(
    points: DataFrame,
    lmbd: float = 10000.0,
    grid_seconds: int = 86400,
    sample_every: int | None = None,
    max_grid: int = 100_000,
) -> DataFrame:
    """Distributed gap-fill: dense-grid Whittaker smoothing per series.

    points: (source, doc_id, ts, value) with missing rows absent.
    Output: (source, doc_id, ts, value_smooth) on each series' dense grid
    (optionally stride-sampled every `sample_every` grid steps).

    Scale design: the FULL series key (source, doc_id) is hashed into
    partitions and each partition is ONE kernel call (by=()), so a call
    receives MANY whole series; they are padded to a common grid length
    and solved as one (S, n_max) matrix. The partition count is
    kernels.n_buckets (from the input's size estimate, between
    defaultParallelism × 2 and × 8) regardless of how many sources exist
    — this kernel's cost is dominated by the sequential O(n_grid) time
    loop which runs once PER CALL (vectorized across that call's series),
    so the call count must track cluster parallelism, not data
    cardinality (measured: 640 vs 40 groups on the same sf0.1 input =
    2.3× slower). Within a call, series are sub-batched by grid-length
    octave so short series are never padded to the longest one's grid.
    Results are independent of the partitioning (each series lives in
    exactly one partition).
    """

    def _smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        out_frames = []
        pdf = pdf.sort_values(["source", "doc_id", "ts", "value"], kind="mergesort")
        epoch_all = pdf["ts"].astype("int64").to_numpy() // 10**9
        vals_all = pdf["value"].to_numpy(dtype=np.float64)
        src_all = pdf["source"].to_numpy()
        doc_all = pdf["doc_id"].to_numpy()
        # series boundaries on the (source, doc_id)-sorted frame
        new = np.r_[
            True, (src_all[1:] != src_all[:-1]) | (doc_all[1:] != doc_all[:-1])
        ]
        starts = np.flatnonzero(new)
        bounds = np.r_[starts, len(pdf)]
        series = []
        for k in range(len(starts)):
            sl = slice(bounds[k], bounds[k + 1])
            ep, vv = epoch_all[sl], vals_all[sl]
            idx = ((ep - ep[0]) // grid_seconds).astype(np.int64)
            n = min(int(idx[-1]) + 1, max_grid)
            keep = idx < n
            series.append(
                (src_all[sl.start], doc_all[sl.start], ep[0], n,
                 idx[keep], vv[keep])
            )
        if not series:
            return pd.DataFrame(
                columns=["source", "doc_id", "ts", "value_smooth"]
            )
        # Length sub-batches: series with n in (n_lo, 8·n_lo] solve together.
        # Correctness does NOT depend on this (per-series bands make padded
        # solves exact); it only bounds wasted padded compute. The growth
        # factor trades padding waste (≤8x on the worst row) against the
        # number of sequential LDLᵀ time loops per group — the loop's
        # per-iteration numpy overhead dominates at typical S, so fewer,
        # wider batches win (measured on sf0.1).
        order = sorted(range(len(series)), key=lambda r: series[r][3])
        pos = 0
        while pos < len(order):
            n_lo = series[order[pos]][3]
            end = pos
            while end < len(order) and series[order[end]][3] <= 8 * n_lo:
                end += 1
            batch = order[pos:end]
            pos = end
            n_max = max(series[r][3] for r in batch)
            S = len(batch)
            Y = np.zeros((S, n_max))
            W = np.zeros((S, n_max))
            for b, r in enumerate(batch):
                _, _, _, _, idx, vv = series[r]
                Y[b, idx] = vv
                W[b, idx] = 1.0
            lens = np.asarray([series[r][3] for r in batch], dtype=np.int64)
            Z = whittaker_solve(Y, W, lmbd, lengths=lens)
            # Assemble the WHOLE batch's dense-grid output in one
            # vectorized pass: the per-series pd.DataFrame construction
            # (~0.4 ms each) used to dominate kernel CPU — ~10 CPU-s for
            # 25 k series at sf1.0 — while the values themselves are a
            # single fancy-index into Z. Grid values are unchanged:
            # grid positions are 0, step, 2·step, ... per series exactly
            # as the old per-series arange produced.
            step = sample_every or 1
            out_lens = (lens + step - 1) // step
            total = int(out_lens.sum())
            row_idx = np.repeat(np.arange(S), out_lens)
            offs = np.r_[0, np.cumsum(out_lens)[:-1]]
            gpos = (np.arange(total) - offs[row_idx]) * step
            ep0s = np.asarray([series[r][2] for r in batch], dtype=np.int64)
            src_b = np.asarray([series[r][0] for r in batch], dtype=object)
            doc_b = np.asarray([series[r][1] for r in batch], dtype=object)
            out_frames.append(
                pd.DataFrame(
                    {
                        "source": src_b[row_idx],
                        "doc_id": doc_b[row_idx],
                        # free int64→datetime64[ns] reinterpret:
                        # pd.to_datetime on ints takes the object path
                        # (~0.28 s per million grid rows)
                        "ts": (
                            (ep0s[row_idx] + grid_seconds * gpos) * 10**9
                        ).view("datetime64[ns]"),
                        "value_smooth": Z[row_idx, gpos],
                    }
                )
            )
        return pd.concat(out_frames, ignore_index=True)

    return group_kernel(
        points, _smooth, SMOOTH_SCHEMA,
        by=(), hash_on=("source", "doc_id"),
    )
