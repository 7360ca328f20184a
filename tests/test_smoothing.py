"""Savitzky–Golay / Gaussian smoothing properties + phenology method sweep.

No scipy in this container, so semantics are pinned by the defining
properties instead of cross-checks: savgol reproduces polynomials up to
`polyorder` EXACTLY (including edges, mode='interp'); the Gaussian kernel
is normalized, symmetric, and preserves constants exactly under reflect
padding."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fusets_spark.datagen import harmonic_fixture
from fusets_spark.operators.smoothing import (
    gaussian_1d,
    gaussian_kernel,
    savgol_1d,
    savgol_coeffs,
    savgol_smooth,
)


def test_savgol_preserves_polynomials_exactly():
    x = np.arange(60, dtype=float)
    for deg in (0, 1, 2):
        y = 3.0 + 0.5 * x**deg
        out = savgol_1d(y, window=9, polyorder=2)
        np.testing.assert_allclose(out, y, atol=1e-8)
    # cubics ARE preserved too (symmetric window kills odd moments);
    # quartic is the first degree a polyorder=2 filter smooths away
    y3 = ((x - 30) / 10) ** 3
    np.testing.assert_allclose(
        savgol_1d(y3, 9, 2)[10:50], y3[10:50], atol=1e-8
    )
    y4 = ((x - 30) / 10) ** 4
    out4 = savgol_1d(y4, window=9, polyorder=2)
    assert np.abs(out4[20:40] - y4[20:40]).max() > 1e-3  # genuinely smoothed


def test_savgol_coeffs_basics():
    c = savgol_coeffs(7, 2)
    assert c.sum() == pytest.approx(1.0)
    np.testing.assert_allclose(c, c[::-1])  # symmetric
    # known closed form for window=5, polyorder=2 (classic -3,12,17,12,-3)/35
    c5 = savgol_coeffs(5, 2)
    np.testing.assert_allclose(c5, np.asarray([-3, 12, 17, 12, -3]) / 35.0)


def test_savgol_denoises():
    rng = np.random.default_rng(0)
    x = np.arange(200, dtype=float)
    clean = np.sin(x / 15.0)
    noisy = clean + rng.normal(scale=0.15, size=len(x))
    out = savgol_1d(noisy, 11, 2)
    assert np.sqrt(np.mean((out - clean) ** 2)) < np.sqrt(
        np.mean((noisy - clean) ** 2)
    ) * 0.6


def test_gaussian_kernel_and_constants():
    k = gaussian_kernel(1.5)
    assert k.sum() == pytest.approx(1.0)
    np.testing.assert_allclose(k, k[::-1])
    y = np.full(37, 4.25)
    np.testing.assert_allclose(gaussian_1d(y, 2.0), y, atol=1e-12)


def test_savgol_spark_matches_local(spark, set_buckets):
    fx = harmonic_fixture()
    frames = []
    for kk in range(3):
        f = fx.copy()
        f["doc_id"] = f"s-{kk}"
        f["source"] = "s2ndvi"
        f["value"] = f["value"] + kk
        frames.append(f)
    pdf = pd.concat(frames, ignore_index=True)
    set_buckets(2)
    got = (
        savgol_smooth(
            spark.createDataFrame(pdf[["source", "doc_id", "ts", "value"]]),
            window=7, polyorder=2,
        )
        .toPandas()
        .sort_values(["doc_id", "ts"])
        .reset_index(drop=True)
    )
    for kk in range(3):
        want = savgol_1d(fx["value"].to_numpy() + kk, 7, 2)
        g = got[got["doc_id"] == f"s-{kk}"]["value_smooth"].to_numpy()
        np.testing.assert_allclose(g, want, atol=1e-9)


@pytest.mark.parametrize(
    "method", ["first_of_slope", "median_of_slope", "seasonal_amplitude",
               "absolute_value", "relative_value", "stl_trend"]
)
def test_phenometrics_all_methods_run(spark, method):
    from fusets_spark.operators.phenology import phenometrics

    i = np.arange(60)
    d = 6.0 * i
    v = 0.2 + 0.6 * np.exp(-((d - 180) ** 2) / (2 * 60.0**2))
    ts = pd.Timestamp("2021-01-01") + pd.to_timedelta(d, unit="D")
    pdf = pd.DataFrame(
        {"source": "s2ndvi", "doc_id": "d-0", "ts": ts, "value": v}
    )
    out = phenometrics(
        spark.createDataFrame(pdf), method=method, factor=0.5, abs_value=0.4
    ).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert row["sos_doy"] <= row["pos_doy"] <= row["eos_doy"]
    assert row["sos_value"] < row["pos_value"]
    # determinism across partitionings
    out2 = phenometrics(
        spark.createDataFrame(pdf).repartition(5),
        method=method, factor=0.5, abs_value=0.4,
    ).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_index(axis=1), out2.sort_index(axis=1)
    )


def test_gaussian_fold_weights_match_pad_convolve():
    """The oracle's folded edge weights must reproduce the np.pad symmetric
    + convolve kernel for every (n, i), including repeated reflection."""
    from fusets_spark.operators.smoothing import (
        gaussian_1d,
        gaussian_fold_weights,
        gaussian_kernel,
    )

    rng = np.random.default_rng(7)
    kern = gaussian_kernel(1.5, 4.0)
    for n in [1, 2, 3, 4, 5, 6, 7, 11, 12, 13, 20]:
        y = rng.uniform(0.0, 100.0, n)
        ref = gaussian_1d(y, 1.5)
        via_weights = np.array(
            [gaussian_fold_weights(i, n, kern) @ y for i in range(n)]
        )
        np.testing.assert_allclose(via_weights, ref, rtol=0, atol=1e-10)


def test_savgol_matrix_edges_match_polyfit():
    """savgol_matrix rows (the oracle literals) == explicit polyfit."""
    from fusets_spark.operators.smoothing import savgol_1d, savgol_matrix

    rng = np.random.default_rng(11)
    for n in [3, 4, 5, 6, 7, 10]:
        y = rng.uniform(0.0, 100.0, n)
        out = savgol_1d(y, 7, 2)
        if n < 7:
            S = savgol_matrix(n, 2)
            np.testing.assert_allclose(S @ y, out, atol=1e-10)
        else:
            S = savgol_matrix(7, 2)
            np.testing.assert_allclose(S[:3] @ y[:7], out[:3], atol=1e-10)
            np.testing.assert_allclose(S[4:] @ y[-7:], out[-3:], atol=1e-10)


def test_loess_trend_reproduces_linear_exactly():
    """Degree-1 LOESS reproduces linear series exactly (any weighting) and
    preserves constants; trend of a noisy line stays within the noise."""
    from fusets_spark.operators.smoothing import loess_trend

    x = np.arange(25, dtype=np.float64)
    np.testing.assert_allclose(loess_trend(2.5 * x + 1.0), 2.5 * x + 1.0,
                               atol=1e-8)
    np.testing.assert_allclose(loess_trend(np.full(10, 7.0)), 7.0, atol=1e-10)
    rng = np.random.default_rng(3)
    y = 0.5 * x + rng.normal(0, 0.1, len(x))
    t = loess_trend(y)
    assert np.abs(t - 0.5 * x).max() < 0.5
