"""Peak/valley, harmonic-fit, and fusion kernels vs reference goldens.

Goldens: reference tests/test_peakvalley.py:8-13 (exact index pairs) and
tests/test_ccdc.py:32-34 (coefficients [5000, 5, 600, 200], atol=3).
Fusion follows the reference's shape-level contract (tests/test_mogpr.py:
21-37) since the reference never pins GP numerics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from conftest import entry_mod

from fusets_spark.datagen import fusion_fixture, harmonic_fixture
from fusets_spark.operators.fusion import mogpr_fuse, mogpr_fuse_series
from fusets_spark.operators.harmonics import (
    design_matrix,
    fit_harmonics_series,
    harmonic_fit,
    harmonic_fitted,
)
from fusets_spark.operators.peakvalley import (
    find_peaks_1d,
    num_seasons,
    peakvalley,
    peakvalley_series,
)


def test_find_peaks_matches_scipy_semantics():
    # strict local maxima
    y = np.asarray([0, 2, 1, 3, 1, 0, 5, 0], dtype=float)
    assert list(find_peaks_1d(y)) == [1, 3, 6]
    # plateau -> floored midpoint (scipy behavior)
    y = np.asarray([0, 1, 1, 1, 0], dtype=float)
    assert list(find_peaks_1d(y)) == [2]
    y = np.asarray([0, 1, 1, 0], dtype=float)
    assert list(find_peaks_1d(y)) == [1]
    # edges are never peaks
    y = np.asarray([5, 1, 0, 8], dtype=float)
    assert list(find_peaks_1d(y)) == []


def test_peakvalley_reference_golden_pairs():
    fx = harmonic_fixture()
    day = fx["ts"].astype("int64").to_numpy() // 10**9 / 86400.0
    _, pairs = peakvalley_series(
        day, fx["value"].to_numpy(), drop_thr=200, rec_r=1.0, slope_thr=0
    )
    want = np.asarray([[9, 35], [82, 108], [155, 181], [228, 254], [301, 327]])
    np.testing.assert_array_equal(pairs, want)


def test_peakvalley_spark_matches_local(spark, set_buckets):
    fx = harmonic_fixture()
    frames = []
    for k in range(4):
        f = fx.copy()
        f["doc_id"] = f"d-{k}"
        f["source"] = "s2ndvi"
        f["value"] = f["value"] + 50.0 * k
        frames.append(f)
    pdf = pd.concat(frames, ignore_index=True)
    sdf = spark.createDataFrame(pdf[["source", "doc_id", "ts", "value"]])
    set_buckets(2)
    got = (
        peakvalley(sdf, drop_thr=200, rec_r=1.0, slope_thr=0)
        .toPandas()
        .sort_values(["doc_id", "ts"])
        .reset_index(drop=True)
    )
    day = fx["ts"].astype("int64").to_numpy() // 10**9 / 86400.0
    for k in range(4):
        mask, _ = peakvalley_series(
            day, fx["value"].to_numpy() + 50.0 * k, 200, 1.0, 0
        )
        g = got[got["doc_id"] == f"d-{k}"]["flag"].to_numpy()
        np.testing.assert_array_equal(np.nan_to_num(g, nan=9), np.nan_to_num(mask, nan=9))


def test_harmonic_fit_reference_golden():
    fx = harmonic_fixture()
    day = fx["ts"].astype("int64").to_numpy() // 10**9 / 86400.0
    coef = fit_harmonics_series(day, fx["value"].to_numpy(), 4)
    np.testing.assert_allclose(coef, [5000, 5, 600, 200], atol=3)


def test_harmonic_fit_spark(spark, set_buckets):
    fx = harmonic_fixture()
    frames = []
    for k in range(3):
        f = fx.copy()
        f["doc_id"] = f"h-{k}"
        f["source"] = "s2ndvi"
        f["value"] = f["value"] * (1 + 0.1 * k)
        frames.append(f)
    pdf = pd.concat(frames, ignore_index=True)
    sdf = spark.createDataFrame(pdf[["source", "doc_id", "ts", "value"]])
    set_buckets(2)
    got = harmonic_fit(sdf, 4).toPandas()
    assert len(got) == 3
    for _, row in got.iterrows():
        k = int(row["doc_id"].split("-")[1])
        want = np.asarray([5000, 5, 600, 200]) * (1 + 0.1 * k)
        np.testing.assert_allclose(
            [row["c0"], row["c1"], row["c2"], row["c3"]], want, atol=3
        )


def test_harmonic_fitted_spark_matches_numpy(spark, set_buckets):
    """Per-point fitted values ŷ vs a direct numpy OLS replay — the pytest
    home of the former `harmonic_fitted` driver row (demoted when the
    registry was capped at 50; driver coverage of the same kernel continues
    through `harmonic_fit`)."""
    fx = harmonic_fixture()
    frames = []
    for k in range(3):
        f = fx.copy()
        f["doc_id"] = f"h-{k}"
        f["source"] = "s2ndvi"
        f["value"] = f["value"] * (1 + 0.1 * k)
        frames.append(f)
    pdf = pd.concat(frames, ignore_index=True)
    sdf = spark.createDataFrame(pdf[["source", "doc_id", "ts", "value"]])
    set_buckets(2)
    got = (
        harmonic_fitted(sdf, 4)
        .toPandas()
        .sort_values(["doc_id", "ts"])
        .reset_index(drop=True)
    )
    day = fx["ts"].astype("int64").to_numpy() // 10**9 / 86400.0
    X = design_matrix(day - day[0], 4)
    for k in range(3):
        y = fx["value"].to_numpy() * (1 + 0.1 * k)
        coef, *_ = np.linalg.lstsq(X, y, rcond=None)
        want = X @ coef
        g = got[got["doc_id"] == f"h-{k}"]["yhat"].to_numpy()
        np.testing.assert_allclose(g, want, rtol=1e-9, atol=1e-6)


def test_fusion_reconstructs_clean_signal():
    """Fused master signal should track the clean harmonic through gaps."""
    rng_mask = np.random.default_rng(3)
    d = np.arange(0, 365, 5.0)
    clean = 0.5 + 0.3 * np.cos(2 * np.pi * d / 365.25)
    y1 = clean.copy()
    y1[rng_mask.random(len(d)) < 0.4] = np.nan
    y2 = 0.4 + 0.25 * np.cos(2 * np.pi * d / 365.25 + 0.1)  # correlated signal
    fused = mogpr_fuse_series({"a": (d, y1), "b": (d, y2)}, d)
    mu, sd = fused["a"]
    assert not np.isnan(mu).any()
    rmse = float(np.sqrt(np.mean((mu - clean) ** 2)))
    assert rmse < 0.03, rmse
    assert (sd >= 0).all()
    # gaps have higher predictive std than observed points on average
    gaps = np.isnan(y1)
    assert sd[gaps].mean() > sd[~gaps].mean()


def test_fusion_master_gating():
    d = np.arange(10.0)
    out = mogpr_fuse_series(
        {"a": (d, np.full(10, np.nan)), "b": (d, np.ones(10))}, d, master="a"
    )
    assert out == {}


def test_fusion_spark_shape_contract(spark, set_buckets):
    """F5 contract (reference tests/test_mogpr.py:27-37): output covers all
    series x grid x signals, fused + std per signal, no NaNs."""
    pdf = fusion_fixture()
    sdf = spark.createDataFrame(pdf)
    set_buckets(2)
    got = mogpr_fuse(sdf).toPandas()
    docs = pdf["doc_id"].nunique()
    assert got["doc_id"].nunique() == docs
    assert set(got["source"].unique()) == {"s2ndvi", "rvi"}
    # per doc: grid = union of observed ts across signals
    for doc, g in got.groupby("doc_id"):
        obs = pdf[(pdf["doc_id"] == doc) & pdf["value"].notna()]["ts"].nunique()
        assert g[g["source"] == "s2ndvi"]["ts"].nunique() == obs
    assert not got["value_fused"].isna().any()
    assert not got["value_std"].isna().any()
    # determinism across partitionings
    set_buckets(5)
    again = mogpr_fuse(sdf.repartition(7)).toPandas()
    key = ["doc_id", "source", "ts"]
    a = got.sort_values(key).reset_index(drop=True)
    b = again.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_fusion_state_space_docs_match_across_bucketings(spark, set_buckets):
    """Docs over SS_OBS_THRESHOLD share batched state-space sweeps with the
    other long docs of their bucket; a different bucketing gives them other
    batch-mates, and their rows must stay bit-identical."""
    from fusets_spark.operators.fusion import SS_OBS_THRESHOLD

    rng = np.random.default_rng(17)
    rows = []
    for k in range(9):
        sources = ("a", "b", "c") if k % 4 == 3 else ("a", "b")
        n = int(rng.integers(120, 260))
        days = np.sort(rng.choice(900, n, replace=False))
        for i, src in enumerate(sources):
            # the signals share most timestamps; a few tie inside one signal
            d = np.sort(np.r_[days[rng.random(n) < 0.9], days[:: 37]])
            v = 40 + 25 * np.sin(d / (15.0 + 6 * i)) + rng.normal(0, 2, len(d))
            for day, val in zip(d, v):
                rows.append((f"doc{k}", src,
                             pd.Timestamp("2023-01-01") + pd.Timedelta(days=int(day)),
                             float(val)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "ts", "value"])
    assert (pdf.groupby("doc_id").size() > SS_OBS_THRESHOLD).all()
    sdf = spark.createDataFrame(pdf)
    key = ["doc_id", "source", "ts"]

    def fused(df):
        out = mogpr_fuse(df, lengthscale=20.0).toPandas()
        return out.sort_values(key).reset_index(drop=True)

    set_buckets(2)
    a = fused(sdf)
    set_buckets(5)
    b = fused(sdf.repartition(7))
    assert a["doc_id"].nunique() == 9
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_ccdc_detects_step_change():
    """A clean level shift must yield exactly two segments with the break
    at the first post-shift observation; an unbroken harmonic yields one."""
    from fusets_spark.operators.ccdc import detect_segments

    t = np.arange(40, dtype=np.float64)
    y = np.where(t < 20, 10.0, 100.0)
    segs = detect_segments(t, y, num_coefficients=4, min_obs=8, peek=3)
    assert len(segs) == 2
    assert segs[0][2] == 20.0  # break_day = first changed observation
    assert segs[0][3] == 20 and segs[1][3] == 20
    assert segs[1][2] is None

    y2 = 50 + 5 * np.sin(2 * np.pi * t / 365.25) + 0.1 * t
    segs2 = detect_segments(t, y2, num_coefficients=4, min_obs=8, peek=3)
    assert len(segs2) == 1 and segs2[0][2] is None


def test_ccdc_segments_spark_partition_invariant(spark):
    """Segment output is identical under any repartitioning."""
    from fusets_spark.operators.ccdc import ccdc_segments

    rng = np.random.default_rng(5)
    rows = []
    for d in range(6):
        shift = 60.0 if d % 2 else 0.0
        for i in range(30):
            v = (20.0 if i < 15 else 20.0 + shift) + rng.normal(0, 0.5)
            rows.append(
                ("s", f"doc{d}",
                 pd.Timestamp("2024-01-01") + pd.Timedelta(days=i), v)
            )
    pdf = pd.DataFrame(rows, columns=["source", "doc_id", "ts", "value"])
    df = spark.createDataFrame(pdf)
    a = ccdc_segments(df).toPandas().sort_values(
        ["doc_id", "segment"]).reset_index(drop=True)
    b = ccdc_segments(df.repartition(7)).toPandas().sort_values(
        ["doc_id", "segment"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # shifted docs broke, unshifted did not
    n_seg = a.groupby("doc_id")["segment"].count()
    assert (n_seg[[f"doc{d}" for d in (1, 3, 5)]] >= 2).all()
    assert (n_seg[[f"doc{d}" for d in (0, 2, 4)]] == 1).all()


@pytest.mark.parametrize(
    "op",
    ["peakvalley", "num_seasons", "harmonic_fitted", "mogpr_fuse",
     "whittaker_gapfill"],
)
def test_tied_timestamps_do_not_depend_on_row_order(spark, op):
    """Rows of one series that tie on ts reach a kernel in shuffle order;
    every per-series kernel sorts them by value, so feeding the same rows
    in the opposite order gives the identical result."""
    from fusets_spark.operators.whittaker import whittaker_gapfill

    run = {
        "peakvalley": peakvalley,
        "num_seasons": num_seasons,
        "harmonic_fitted": harmonic_fitted,
        "mogpr_fuse": mogpr_fuse,
        "whittaker_gapfill": lambda df: whittaker_gapfill(df, lmbd=100.0),
    }[op]
    rng = np.random.default_rng(3)
    rows = []
    for doc in range(3):
        for source in ("a", "b"):
            for day in range(60):
                ts = pd.Timestamp("2024-01-01") + pd.Timedelta(days=day)
                v = 50 + 30 * np.sin(2 * np.pi * day / 20) + rng.normal(0, 2)
                rows.append((source, f"doc{doc}", ts, v))
                if day % 4 == 1:  # a second reading at the same instant
                    rows.append((source, f"doc{doc}", ts, v + 9.0))
    pdf = pd.DataFrame(rows, columns=["source", "doc_id", "ts", "value"])

    def result(frame: pd.DataFrame) -> pd.DataFrame:
        # one input partition: the kernel sees the rows in frame order
        out = run(spark.createDataFrame(frame).coalesce(1)).toPandas()
        return out.sort_values(list(out.columns)).reset_index(drop=True)

    pd.testing.assert_frame_equal(
        result(pdf), result(pdf.iloc[::-1]), check_exact=True
    )


def test_peakvalley_oracle_equivalence_randomized():
    """The recursive-CTE SQL replay (_peakvalley_oracle) must equal the
    numpy kernel on adversarial synthetic series — plateaus, monotonic
    runs, tiny series, deep drops — not just on the driver dataset."""
    import duckdb
    import numpy as np
    import pandas as pd

    from fusets_spark.operators.peakvalley import peakvalley_series

    sql = entry_mod().oracle_sql()["peakvalley"]

    rng = np.random.default_rng(42)
    rows = []
    kinds = ["walk", "plateau", "mono_up", "mono_down", "vee", "spiky"]
    for s in range(60):
        n = int(rng.integers(1, 40))
        kind = kinds[s % len(kinds)]
        if kind == "walk":
            y = np.cumsum(rng.normal(0, 40, n))
        elif kind == "plateau":
            y = np.repeat(rng.normal(0, 80, max(n // 3, 1)), 3)[:n]
        elif kind == "mono_up":
            y = np.sort(rng.normal(0, 60, n))
        elif kind == "mono_down":
            y = -np.sort(rng.normal(0, 60, n))
        elif kind == "vee":
            y = np.abs(np.arange(n) - n / 2) * rng.uniform(10, 60)
        else:
            y = rng.normal(0, 120, n)
        y = np.round(y, 3)  # exact in float64 both engines
        # irregular spacing in whole hours -> day floats match both sides
        secs = np.cumsum(rng.integers(1, 72, n)) * 3600
        for t, v in zip(secs, y):
            rows.append(("k", s, int(t), float(v)))
    pdf = pd.DataFrame(rows, columns=["event_type", "user_id", "sec", "value"])
    pdf["ts"] = pd.to_datetime(pdf["sec"], unit="s")
    con = duckdb.connect()
    con.register("events_src", pdf[["event_type", "user_id", "ts", "value"]])
    con.execute("CREATE VIEW events AS SELECT * FROM events_src")
    got = con.execute(sql).df()

    for s, g in pdf.groupby("user_id"):
        day = g["sec"].to_numpy() / 86400.0
        mask, _ = peakvalley_series(
            day, g["value"].to_numpy(np.float64),
            drop_thr=50.0, rec_r=1.0, slope_thr=-0.5,
        )
        o = (
            got[got["doc_id"] == str(s)]
            .sort_values("ts")["flag"]
            .to_numpy(np.float64)
        )
        want = mask  # NaN in kernel == NULL->NaN in pandas
        assert len(o) == len(want), s
        same = (o == want) | (np.isnan(o) & np.isnan(want))
        assert same.all(), f"series {s} ({kinds[s % len(kinds)]}): " \
            f"kernel={want.tolist()} oracle={o.tolist()}"


def test_fixed_order_solver_matches_lstsq_property():
    """Property: on well-conditioned harmonic designs the fixed-order
    normal-equation solve (the oracle-replayable path) agrees with SVD
    lstsq to float tolerance across random spans/sizes/scales."""
    import numpy as np

    from fusets_spark.operators.harmonics import (
        design_matrix,
        solve_normal_equations_fixed_order,
    )

    rng = np.random.default_rng(123)
    for _ in range(25):
        n = int(rng.integers(12, 400))
        span = float(rng.uniform(400, 2000))
        t = np.sort(rng.uniform(0, span, n))
        k = int(rng.choice([4, 6, 8]))
        scale = 10 ** rng.uniform(0, 4)
        y = rng.normal(0, scale, n) + rng.uniform(-scale, scale)
        X = design_matrix(t - t[0], k)
        ls, *_ = np.linalg.lstsq(X, y, rcond=None)
        G = (X.T @ X)[None]
        b = (X.T @ y)[None]
        ne = solve_normal_equations_fixed_order(G, b)[0]
        denom = max(np.abs(ls).max(), 1.0)
        assert np.abs(ls - ne).max() / denom < 1e-6
