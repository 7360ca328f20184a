"""Numpy references for the benchmark's output checks, computed from the
generator's series (never from engine output)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from .gen import MISSING, T0_S, Series

TIER_SECONDS = {"1m": 60, "5m": 300, "1h": 3600}
TIER_COLS = [
    "n_obs", "sum_val", "min_val", "max_val",
    "first_val", "last_val", "first_pos", "last_pos",
]


def tier_reference(ser: Series, seconds: int) -> pd.DataFrame:
    """Per (source, doc_id, bucket): count, sum, min, max and the values at
    the smallest and largest position — every point of every series, on
    time or late. bucket_s is epoch seconds."""
    keep = ser.tokens != MISSING
    s_idx = ser.series_of_point[keep]
    pos = ser.pos[keep]
    v = ser.tokens[keep].astype(np.int64)
    epoch = T0_S + pos
    bucket = epoch - epoch % seconds
    # points are in (series, pos) order, so groups are contiguous runs
    new = np.r_[True, (s_idx[1:] != s_idx[:-1]) | (bucket[1:] != bucket[:-1])]
    st = np.flatnonzero(new)
    en = np.r_[st[1:], len(v)]
    out = pd.DataFrame(
        {
            "source": ser.source[s_idx[st]],
            "doc_id": ser.doc_id[s_idx[st]],
            "bucket_s": bucket[st],
            "n_obs": (en - st).astype(np.int64),
            "sum_val": np.add.reduceat(v, st),
            "min_val": np.minimum.reduceat(v, st).astype(np.float64),
            "max_val": np.maximum.reduceat(v, st).astype(np.float64),
            "first_val": v[st].astype(np.float64),
            "last_val": v[en - 1].astype(np.float64),
            "first_pos": pos[st],
            "last_pos": pos[en - 1],
        }
    )
    return _sorted(out)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["source", "doc_id", "bucket_s"]).reset_index(
        drop=True
    )


def epoch_seconds(col: pd.Series) -> np.ndarray:
    """Timestamps from a Spark/pyarrow frame (naive UTC or tz-aware) as
    int64 epoch seconds."""
    ts = pd.to_datetime(col)
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.to_numpy(dtype="datetime64[s]").astype(np.int64)


def compare_tier(
    got: pd.DataFrame, ref: pd.DataFrame, cols: list[str]
) -> list[str]:
    """Exact comparison of an engine tier frame (with bucket_ts) against a
    reference; returns mismatch descriptions (empty = equal)."""
    g = got.copy()
    g["bucket_s"] = epoch_seconds(g["bucket_ts"])
    g = _sorted(g[["source", "doc_id", "bucket_s", *cols]])
    if len(g) != len(ref):
        return [f"row count {len(g)} != reference {len(ref)}"]
    errs = []
    for c in ["source", "doc_id", "bucket_s", *cols]:
        a = g[c].to_numpy()
        b = ref[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.array_equal(a.astype(np.float64), b.astype(np.float64))
        else:
            ok = np.array_equal(a, b)
        if not ok:
            errs.append(f"column {c} differs")
    if "avg_val" in got.columns:
        avg = (ref["sum_val"] / ref["n_obs"]).to_numpy()
        ga = got.assign(bucket_s=epoch_seconds(got["bucket_ts"]))
        ga = _sorted(ga[["source", "doc_id", "bucket_s", "avg_val"]])
        if not np.allclose(ga["avg_val"].to_numpy(), avg, rtol=1e-12, atol=0):
            errs.append("column avg_val differs")
    return errs


def points_reference(ser: Series) -> pd.DataFrame:
    """Every non-missing point as (source, doc_id, ts_s, value), sorted."""
    keep = ser.tokens != MISSING
    s_idx = ser.series_of_point[keep]
    return (
        pd.DataFrame(
            {
                "source": ser.source[s_idx],
                "doc_id": ser.doc_id[s_idx],
                "ts_s": T0_S + ser.pos[keep],
                "value": ser.tokens[keep].astype(np.float64),
            }
        )
        .sort_values(["source", "doc_id", "ts_s"])
        .reset_index(drop=True)
    )


def compare_points(got: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    g = got.assign(ts_s=epoch_seconds(got["ts"]))[
        ["source", "doc_id", "ts_s", "value"]
    ]
    g = g.sort_values(["source", "doc_id", "ts_s"]).reset_index(drop=True)
    if len(g) != len(ref):
        return [f"point count {len(g)} != reference {len(ref)}"]
    errs = []
    for c in ["source", "doc_id", "ts_s", "value"]:
        if not np.array_equal(g[c].to_numpy(), ref[c].to_numpy()):
            errs.append(f"points column {c} differs")
    return errs


def block_counts_reference(ser: Series, block_seconds: int) -> pd.DataFrame:
    """Per (source, doc_id, block bucket): point count, first/last ts."""
    t = tier_reference(ser, block_seconds)
    return pd.DataFrame(
        {
            "source": t["source"],
            "doc_id": t["doc_id"],
            "bucket_s": t["bucket_s"],
            "n_points": t["n_obs"],
            "min_s": T0_S + t["first_pos"],
            "max_s": T0_S + t["last_pos"],
        }
    )


def compare_block_counts(got: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    g = pd.DataFrame(
        {
            "source": got["source"].to_numpy(),
            "doc_id": got["doc_id"].to_numpy(),
            "bucket_s": epoch_seconds(got["bucket_ts"]),
            "n_points": got["n_points"].to_numpy(np.int64),
            "min_s": epoch_seconds(got["min_ts"]),
            "max_s": epoch_seconds(got["max_ts"]),
        }
    )
    g = _sorted(g)
    if len(g) != len(ref):
        return [f"block count {len(g)} != reference {len(ref)}"]
    return [
        f"block column {c} differs"
        for c in g.columns
        if not np.array_equal(g[c].to_numpy(), ref[c].to_numpy())
    ]
