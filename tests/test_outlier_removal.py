"""num_seasons + remove_outliers vs reference-semantics numpy oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fusets_spark.datagen import harmonic_fixture, outlier_fixture
from fusets_spark.operators.outlier_removal import remove_outliers
from fusets_spark.operators.peakvalley import (
    num_seasons,
    num_seasons_series,
    select_by_distance,
)


def test_num_seasons_on_cosine():
    # 3 cycles over 365 samples: peak spacing ~122 > distance=ceil(365/4)=92
    i = np.arange(365, dtype=float)
    v = 600 * np.cos(2 * np.pi * (i - 61) * 3 / 365)  # interior peaks
    assert num_seasons_series(v) == 3
    # 5 cycles: spacing 73 < 92 -> the reference's distance rule suppresses
    # alternating peaks (faithful semantics, not a bug here)
    v5 = 600 * np.cos(2 * np.pi * i * 5 / 365)
    assert num_seasons_series(v5) < 5
    # trended fixture: the 75th-pct height cut keeps only late-series peaks
    fx = harmonic_fixture()
    assert 1 <= num_seasons_series(fx["value"].to_numpy()) <= 2


def test_select_by_distance_matches_scipy_shape():
    # peaks at 0, 3, 10 with heights 1, 5, 2 and distance 5:
    # keep 3 (highest); 0 suppressed (<5 away); keep 10 (>=5 away from 3)
    got = select_by_distance(
        np.asarray([0, 3, 10]), np.asarray([1.0, 5.0, 2.0]), 5
    )
    assert list(got) == [3, 10]


def test_num_seasons_spark(spark, set_buckets):
    fx = harmonic_fixture()
    i = np.arange(365, dtype=float)
    fx["value"] = 600 * np.cos(2 * np.pi * (i - 61) * 3 / 365)  # 3 cycles
    frames = []
    for k in range(3):
        f = fx.copy()
        f["doc_id"] = f"d-{k}"
        f["source"] = "s2ndvi"
        frames.append(f)
    sdf = spark.createDataFrame(
        pd.concat(frames)[["source", "doc_id", "ts", "value"]]
    )
    set_buckets(2)
    got = num_seasons(sdf).toPandas()
    assert (got["num_seasons"] == 3).all() and len(got) == 3


def _outlier_removal_oracle(pdf, user_factor=2.0, win_size=None):
    """Faithful numpy mirror of reference remove_outliers (median)."""
    v = pdf["value"].to_numpy(np.float64)
    n = len(v)
    years = pdf["ts"].dt.year.nunique()
    if win_size is None:
        win_size = int(n / 7 / years)
        if win_size < 3:
            win_size = 3
        elif win_size % 2 == 0:
            win_size += 1
    cutoff = v.std() * user_factor  # ddof=0
    med = (
        pd.Series(v).rolling(win_size, center=True).median().to_numpy()
    )
    med = np.where(np.isnan(med), v, med)
    candidate = np.abs(v - med) > cutoff
    prev_v = np.r_[np.nan, v[:-1]]
    next_v = np.r_[v[1:], np.nan]
    nbr_mean = (prev_v + next_v) / 2
    nbr_max = np.fmax(prev_v, next_v)
    out = candidate & (
        (v < (nbr_mean - cutoff)) | (v > (nbr_max + cutoff))
    )
    return np.where(out, np.nan, v)


def test_remove_outliers_median_matches_oracle(spark):
    fx = outlier_fixture()
    fx["ts"] = fx["ts"].astype("datetime64[us]")
    fx["source"] = "s2ndvi"
    fx["doc_id"] = "d-0"
    sdf = spark.createDataFrame(fx[["source", "doc_id", "ts", "value"]])
    got = (
        remove_outliers(sdf, method="median", user_factor=2.0)
        .orderBy("ts")
        .toPandas()["value_clean"]
        .to_numpy()
    )
    want = _outlier_removal_oracle(fx)
    np.testing.assert_allclose(
        np.nan_to_num(got, nan=9e9), np.nan_to_num(want, nan=9e9), atol=1e-12
    )
    # the four injected ±5 spikes are exactly what gets removed
    assert int(np.isnan(want).sum()) == 4
    assert int(pd.isna(got).sum()) == 4


def test_remove_outliers_zscore(spark):
    fx = outlier_fixture()
    fx["source"] = "s2ndvi"
    fx["doc_id"] = "d-0"
    sdf = spark.createDataFrame(fx[["source", "doc_id", "ts", "value"]])
    got = (
        remove_outliers(sdf, method="zscore", z_pval=0.05)
        .orderBy("ts")
        .toPandas()
    )
    assert got["value_clean"].isna().sum() == 4
