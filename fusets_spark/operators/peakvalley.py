"""Peak/valley event detection — the reference's `peakvalley_f`
(reference peakvalley.py:62-184): find peaks/valleys, merge sub-threshold
fluctuations while dropping, filter drops < drop_thr, adjust the event start
backwards along the slope (slope_thr per day), find the recovery end, and
emit a mask {1: peak/start, -1: valley/end, 0: between, NaN: other}.

The per-series kernel is an inherently sequential state machine -> it runs
inside kernels.group_kernel (many whole series per hash bucket), with
numpy peak finding (scipy-free reimplementation of find_peaks' plateau
midpoint semantics).

Golden parity: reference tests/test_peakvalley.py:8-13 pins pairs
[[9,35],[82,108],[155,181],[228,254],[301,327]] on the harmonic fixture
with drop_thr=200, rec_r=1.0, slope_thr=0 (replicated in tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import group_kernel

MASK_SCHEMA = "source string, doc_id string, ts timestamp, flag double"


def find_peaks_1d(y: np.ndarray) -> np.ndarray:
    """Indices of local maxima, scipy.signal.find_peaks default semantics:
    strictly higher than the previous sample, and a plateau counts as one
    peak at the (floored) midpoint of its flat top."""
    d = np.diff(y)
    nz = np.flatnonzero(d != 0)
    if len(nz) < 2:
        return np.empty(0, dtype=np.int64)
    sign = np.sign(d[nz])
    up_then_down = (sign[:-1] > 0) & (sign[1:] < 0)
    left = nz[:-1][up_then_down] + 1   # first sample of the plateau
    right = nz[1:][up_then_down]       # last sample of the plateau
    return (left + right) // 2


def select_by_distance(
    peaks: np.ndarray, heights: np.ndarray, distance: int
) -> np.ndarray:
    """scipy find_peaks distance filter: process peaks by descending height
    (ties: later index first, matching scipy's reversed stable argsort) and
    suppress any unkept peak strictly closer than `distance`."""
    keep = np.ones(len(peaks), dtype=bool)
    priority = np.argsort(heights, kind="stable")[::-1]
    for j in priority:
        if not keep[j]:
            continue
        k = j - 1
        while k >= 0 and peaks[j] - peaks[k] < distance:
            keep[k] = False
            k -= 1
        k = j + 1
        while k < len(peaks) and peaks[k] - peaks[j] < distance:
            keep[k] = False
            k += 1
    return peaks[keep]


def num_seasons_series(y: np.ndarray) -> int:
    """Reference calc_num_seasons (_phenolopy.py:804-880): count peaks with
    height ≥ the 75th nanquantile and spacing ≥ ceil(n/4)."""
    if len(y) == 0 or np.all(np.isnan(y)):
        return 0
    height = np.nanquantile(y, 0.75)
    distance = int(np.ceil(len(y) / 4))
    pk = find_peaks_1d(np.nan_to_num(y, nan=-np.inf))
    pk = pk[y[pk] >= height]
    if len(pk) == 0:
        return 0
    return len(select_by_distance(pk, y[pk], distance))


def num_seasons(df: DataFrame) -> DataFrame:
    """Per-series season count over (source, doc_id, ts, value)."""

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "ts", "value"], kind="mergesort")
        rows = [
            (g["source"].iloc[0], doc,
             num_seasons_series(g["value"].to_numpy(np.float64)))
            for doc, g in pdf.groupby("doc_id", sort=False)
        ]
        return pd.DataFrame(rows, columns=["source", "doc_id", "num_seasons"])

    return group_kernel(
        df, _run, "source string, doc_id string, num_seasons int"
    )


def peakvalley_series(
    day: np.ndarray,
    y: np.ndarray,
    drop_thr: float = 0.15,
    rec_r: float = 1.0,
    slope_thr: float = -0.007,
) -> tuple[np.ndarray, np.ndarray]:
    """Single-series kernel; `day` = float day offsets (the reference's
    datetime subtraction yields whole days; slope is per day).

    Returns (mask aligned to the input, pairs of [start, end] indices into
    the NaN-filtered series). NaN handling note: the reference computes the
    slope lookback on the UNFILTERED arrays with FILTERED indices
    (peakvalley.py:152-153 + 187-189), which is only well-defined for
    NaN-free input (as in its test); here slopes use the filtered series.
    """
    rec_thr = drop_thr * rec_r
    mask = np.full(len(y), np.nan)
    valid = ~np.isnan(y)
    f = y[valid]
    fd = day[valid]

    pk = find_peaks_1d(f)
    vl = find_peaks_1d(-f)
    if len(pk) == 0 or len(vl) == 0:
        return mask, np.empty((0, 2), dtype=np.int64)
    if vl[0] < pk[0]:
        pk = np.insert(pk, 0, 0)
    if vl[-1] < pk[-1]:
        vl = np.append(vl, len(f) - 1)

    pairs = list(np.stack([pk, vl], axis=1))

    # merge fluctuations while dropping
    merged = [pairs[0].copy()]
    for pk2, vl2 in pairs[1:]:
        pk1, vl1 = merged[-1]
        y11, y12, y21, y22 = f[pk1], f[vl1], f[pk2], f[vl2]
        if (y21 - y12 < rec_thr) and (y22 < y12) and (y21 < y11):
            merged[-1][1] = vl2
        else:
            merged.append(np.array([pk2, vl2]))
    pairs = np.array(merged)

    # keep only drops deeper than drop_thr
    deep = (f[pairs[:, 0]] - f[pairs[:, 1]]) > drop_thr
    pairs = pairs[deep]

    events = []
    for p_id, (pk_i, vl_i) in enumerate(pairs):
        start = None
        assigned = False
        skip_next = False
        eligible = False
        for idx in range(vl_i - 1, pk_i - 1, -1):
            if skip_next:
                skip_next = False
                continue
            if f[idx] - f[vl_i] > drop_thr and not assigned:
                start = idx
                assigned = True
                continue
            if assigned:
                slope1 = (f[idx + 1] - f[idx]) / (fd[idx + 1] - fd[idx])
                if slope1 < slope_thr:
                    start = idx
                elif idx - 1 >= pk_i:
                    slope2 = (f[idx + 1] - f[idx - 1]) / (fd[idx + 1] - fd[idx - 1])
                    if slope2 < slope_thr:
                        start = idx - 1
                        skip_next = True
                    else:
                        break
                else:
                    break
        # find recovery end
        nxt = pairs[p_id + 1][0] + 1 if p_id + 1 < len(pairs) else len(f)
        end = vl_i
        for idx in range(vl_i, nxt):
            if f[idx] - f[end] > rec_thr:
                eligible = True
                end_rec = idx
                break
            if f[idx] < f[end]:
                end = idx
        if not eligible or start is None:
            continue
        events.append([start, end])

    ev = np.array(events, dtype=np.int64).reshape(-1, 2)
    for s_i, e_i in ev:
        s_d, e_d = fd[s_i], fd[e_i]
        mask[(day > s_d) & (day < e_d)] = 0.0
        mask[day == s_d] = 1.0
        mask[day == e_d] = -1.0
    return mask, ev


def peakvalley(
    df: DataFrame,
    drop_thr: float = 0.15,
    rec_r: float = 1.0,
    slope_thr: float = -0.007,
) -> DataFrame:
    """Distributed peak/valley mask over (source, doc_id, ts, value) rows."""

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "ts", "value"], kind="mergesort")
        out = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            day = (g["ts"].astype("int64") // 10**9).to_numpy() / 86400.0
            mask, _ = peakvalley_series(
                day, g["value"].to_numpy(np.float64), drop_thr, rec_r, slope_thr
            )
            out.append(
                pd.DataFrame(
                    {
                        "source": g["source"].to_numpy(),
                        "doc_id": doc,
                        "ts": g["ts"].to_numpy(),
                        "flag": mask,
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return group_kernel(df, _run, MASK_SCHEMA)
