"""Multi-signal fusion — the reference's MOGPR (mogpr.py:139-221, 339-461)
recast as DETERMINISTIC per-series vectorized GP interpolation.

Reference structure preserved:
  * per series (pixel), per signal: drop NaNs (mogpr.py:384-385) and
    z-normalize with that signal's own mean/std (mogpr.py:390-393, ddof=0);
  * master-signal gating: no master data -> no output for the series
    (mogpr.py:395-399);
  * joint GP over ALL signals' observations with a coregionalized kernel,
    predict mean + std on the output grid, denormalize per signal
    (mogpr.py:434-449) -> `value_fused` / `value_std` (the reference's
    *_FUSED / *_STD bands, mogpr.py:202-211).

Where the reference optimizes GPy hyperparameters per pixel (L-BFGS,
NOT reproducible run-to-run — its own tests assert shapes only,
tests/test_mogpr.py:21-37), this engine fixes them: Matern-3/2 kernel with
lengthscale ℓ days, signal-correlation ρ (rank-1-style coregionalization:
B = (1-ρ)I + ρ·11ᵀ, PSD for 0 ≤ ρ ≤ 1), noise σₙ². Fixed hyperparameters
make outputs bit-reproducible at any parallelism — the engine's parity
requirement — and mirror the reference's own fit-once/apply-many
MOGPRTransformer pattern (mogpr.py:35-68, 414-426).

Scale note: two exact-same-posterior paths, selected per series by its
joint observation count (SS_OBS_THRESHOLD): dense Cholesky O(n³) for
short series, and a STATE-SPACE Kalman + RTS smoother O(n·(2(m+1))³) for
long ones — the Matern-3/2 kernel is exactly an SDE, and the
coregionalization B = (1-ρ)I + ρ11ᵀ factors into √ρ·shared +
√(1-ρ)·private independent processes, so the smoothed posterior equals the dense GP posterior
(differential-tested to ~1e-13). At 10^12-sequence scale, per-series cost
is linear in observations; both paths run inside the same
kernels.group_kernel call, partitioned by doc_id alone (all of a doc's
signals in one call).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import group_kernel

FUSED_SCHEMA = (
    "doc_id string, source string, ts timestamp, "
    "value_fused double, value_std double"
)

SQRT3 = float(np.sqrt(3.0))


def matern32(dist: np.ndarray, lengthscale: float) -> np.ndarray:
    r = SQRT3 * np.abs(dist) / lengthscale
    return (1.0 + r) * np.exp(-r)


def _normalized(
    signals: dict[str, tuple[np.ndarray, np.ndarray]],
) -> dict[str, tuple[np.ndarray, np.ndarray, float, float]]:
    """{name: (t, z, mean, sd)} in name order: each signal's NaNs dropped
    and its values z-scored with its own mean and ddof=0 sd (sd 0 -> 1).
    Signals with no observation are left out."""
    clean = {}
    for name in sorted(signals):
        t, y = signals[name]
        ok = ~np.isnan(y)
        if not ok.any():
            continue
        yy = y[ok]
        mu, sd = float(np.mean(yy)), float(np.std(yy)) or 1.0
        clean[name] = (t[ok], (yy - mu) / sd, mu, sd)
    return clean


def mogpr_fuse_series(
    signals: dict[str, tuple[np.ndarray, np.ndarray]],
    out_t: np.ndarray,
    lengthscale: float = 32.0,
    noise: float = 0.05,
    rho: float = 0.7,
    master: str | None = None,
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Fuse one series. signals: {name: (t_days, values)} with NaNs allowed;
    returns {name: (fused_mean, fused_std)} on out_t (day floats).

    Empty master signal -> empty dict (reference qflag gating)."""
    names = sorted(signals)
    master = master or names[0]
    clean = _normalized(signals)
    if master not in clean:
        return {}

    sig_names = list(clean)
    T = np.concatenate([clean[s][0] for s in sig_names])
    Y = np.concatenate([clean[s][1] for s in sig_names])
    S = np.concatenate(
        [np.full(len(clean[s][0]), i) for i, s in enumerate(sig_names)]
    )
    n_sig = len(sig_names)
    B = (1.0 - rho) * np.eye(n_sig) + rho * np.ones((n_sig, n_sig))

    K = B[S[:, None], S[None, :]] * matern32(T[:, None] - T[None, :], lengthscale)
    A = K + noise * np.eye(len(T))
    L = np.linalg.cholesky(A)
    alpha = np.linalg.solve(L.T, np.linalg.solve(L, Y))

    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    base = matern32(out_t[:, None] - T[None, :], lengthscale)
    for i, s in enumerate(sig_names):
        Ks = B[i, S][None, :] * base  # (grid, obs)
        mu_n = Ks @ alpha
        v = np.linalg.solve(L, Ks.T)
        var = np.maximum(B[i, i] - np.sum(v * v, axis=0), 0.0)
        _, _, mean_s, std_s = clean[s]
        out[s] = (mu_n * std_s + mean_s, np.sqrt(var) * std_s)
    return out


def _m32_transition(dt: float, lam: float) -> tuple[np.ndarray, np.ndarray]:
    """Matern-3/2 SDE transition over dt for one latent process: state
    x = [f, f'], A = e^{-λdt}[[1+λdt, dt], [-λ²dt, 1-λdt]], stationary
    P∞ = diag(1, λ²), Q = P∞ - A P∞ Aᵀ (unit process variance)."""
    e = np.exp(-lam * dt)
    A = e * np.array(
        [[1.0 + lam * dt, dt], [-(lam**2) * dt, 1.0 - lam * dt]]
    )
    Pinf = np.diag([1.0, lam**2])
    Q = Pinf - A @ Pinf @ A.T
    return A, Q


def mogpr_fuse_series_ss(
    signals: dict[str, tuple[np.ndarray, np.ndarray]],
    out_t: np.ndarray,
    lengthscale: float = 32.0,
    noise: float = 0.05,
    rho: float = 0.7,
    master: str | None = None,
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """STATE-SPACE twin of mogpr_fuse_series: the identical multi-output
    Matern-3/2 posterior computed by Kalman filtering + RTS smoothing in
    O(n·(2(m+1))³) per series instead of the dense solve's O(n³) — the
    scale path for long series (n ≳ hundreds of observations), where the
    dense Gram factorization stops fitting the per-task budget.

    Exact-same-model construction: the ICM kernel B_ij·k(t,t') with
    B = (1-ρ)I + ρ11ᵀ is realized as f_i(t) = √ρ·u(t) + √(1-ρ)·v_i(t)
    with u, v_1..v_m independent unit-variance Matern-3/2 processes
    (cov(f_i, f_j) = ρk + (1-ρ)δ_ij·k = B_ij·k), each with its exact SDE
    form — so the smoothed posterior equals the dense GP posterior in
    exact arithmetic; tests/test_fusion_differential.py pins the two
    implementations to <1e-7 numerically. Normalization, master gating,
    and the returned (mean, std) contract match mogpr_fuse_series."""
    # The q_idx readout maps grid results back to out_t POSITIONALLY, which
    # is only correct when out_t is non-decreasing (the lexsort below is
    # stable, so equal times keep input order).
    out_t = np.asarray(out_t, dtype=np.float64)
    if len(out_t) > 1 and np.any(np.diff(out_t) < 0):
        raise ValueError("mogpr_fuse_series_ss requires sorted out_t")
    names = sorted(signals)
    master = master or names[0]
    clean = _normalized(signals)
    if master not in clean:
        return {}

    sig_names = list(clean)
    m = len(sig_names)
    d = 2 * (m + 1)  # [u, u', v_1, v_1', ..., v_m, v_m']
    lam = SQRT3 / lengthscale
    sr, sq = np.sqrt(rho), np.sqrt(1.0 - rho)

    # merge observation and grid times into one sorted event list
    T_obs = np.concatenate([clean[s][0] for s in sig_names])
    Y_obs = np.concatenate([clean[s][1] for s in sig_names])
    S_obs = np.concatenate(
        [np.full(len(clean[s][0]), i) for i, s in enumerate(sig_names)]
    )
    events = np.concatenate([T_obs, np.asarray(out_t, dtype=np.float64)])
    kinds = np.concatenate(
        [S_obs, np.full(len(out_t), -1)]
    )  # -1 = grid query
    yvals = np.concatenate([Y_obs, np.zeros(len(out_t))])
    # time asc; at tied times, grid queries (kind=-1) sort BEFORE the
    # observations at that time. Order within a tied-time block is
    # irrelevant to the RTS-smoothed posterior (transitions across the
    # block are identity), so queries still see the full smoothed state.
    order = np.lexsort((kinds, events))
    events, kinds, yvals = events[order], kinds[order], yvals[order]
    n_steps = len(events)

    Pinf = np.zeros((d, d))
    for b in range(m + 1):
        Pinf[2 * b, 2 * b] = 1.0
        Pinf[2 * b + 1, 2 * b + 1] = lam**2

    def h_vec(sig: int) -> np.ndarray:
        h = np.zeros(d)
        h[0] = sr
        h[2 * (sig + 1)] = sq
        return h

    # --- forward Kalman pass, storing filtered + predicted moments -------
    xf = np.zeros((n_steps, d))
    Pf = np.zeros((n_steps, d, d))
    xp = np.zeros((n_steps, d))
    Pp = np.zeros((n_steps, d, d))
    As = np.zeros((n_steps, 2, 2))  # per-step 2x2 block (shared by blocks)
    x = np.zeros(d)
    P = Pinf.copy()
    prev_t = None
    for k in range(n_steps):
        t = events[k]
        if prev_t is None or t == prev_t:
            A2 = np.eye(2)
        else:
            A2, Q2 = _m32_transition(t - prev_t, lam)
            A = np.kron(np.eye(m + 1), A2)
            Q = np.kron(np.eye(m + 1), Q2)
            x = A @ x
            P = A @ P @ A.T + Q
        As[k] = A2
        xp[k], Pp[k] = x, P
        sig = int(kinds[k])
        if sig >= 0:  # observation update (scalar)
            h = h_vec(sig)
            Ph = P @ h
            s = float(h @ Ph) + noise
            g = Ph / s
            x = x + g * (yvals[k] - float(h @ x))
            P = P - np.outer(g, Ph)
            P = 0.5 * (P + P.T)  # keep symmetric
        xf[k], Pf[k] = x, P
        prev_t = t

    # --- RTS backward smoother ------------------------------------------
    xs = xf.copy()
    Ps = Pf.copy()
    for k in range(n_steps - 2, -1, -1):
        if events[k + 1] == events[k]:
            A = np.eye(d)
        else:
            A = np.kron(np.eye(m + 1), As[k + 1])
        # G = Pf A' Pp[k+1]^-1 via solve on the symmetric predicted cov
        G = np.linalg.solve(
            Pp[k + 1], (Pf[k] @ A.T).T
        ).T
        xs[k] = xf[k] + G @ (xs[k + 1] - xp[k + 1])
        Ps[k] = Pf[k] + G @ (Ps[k + 1] - Pp[k + 1]) @ G.T

    # --- read out grid queries per signal --------------------------------
    q_mask = kinds == -1
    q_idx = np.flatnonzero(q_mask)
    # map back to out_t order (events were sorted; out_t is sorted input)
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for i, s in enumerate(sig_names):
        h = h_vec(i)
        mu_n = xs[q_idx] @ h
        var = np.maximum(
            np.einsum("i,kij,j->k", h, Ps[q_idx], h), 0.0
        )
        _, _, mean_s, std_s = clean[s]
        out[s] = (mu_n * std_s + mean_s, np.sqrt(var) * std_s)
    return out


def _log_marginal_likelihood(
    signals: dict[str, tuple[np.ndarray, np.ndarray]],
    lengthscale: float,
    noise: float,
    rho: float,
) -> float:
    """GP log marginal likelihood of one series' joint observations under
    the fixed-hyperparameter kernel (normalized per signal)."""
    clean = list(_normalized(signals).values())
    if not clean:
        return -np.inf
    T = np.concatenate([c[0] for c in clean])
    Y = np.concatenate([c[1] for c in clean])
    S = np.concatenate([np.full(len(c[0]), i) for i, c in enumerate(clean)])
    n_sig = len(clean)
    B = (1.0 - rho) * np.eye(n_sig) + rho * np.ones((n_sig, n_sig))
    K = B[S[:, None], S[None, :]] * matern32(T[:, None] - T[None, :], lengthscale)
    A = K + noise * np.eye(len(T))
    try:
        L = np.linalg.cholesky(A)
    except np.linalg.LinAlgError:
        return -np.inf
    alpha = np.linalg.solve(L.T, np.linalg.solve(L, Y))
    return float(
        -0.5 * Y @ alpha - np.log(np.diag(L)).sum() - 0.5 * len(T) * np.log(2 * np.pi)
    )


def fit_fusion_params(
    df: DataFrame,
    sample_docs: int = 8,
    lengthscales: tuple[float, ...] = (8.0, 16.0, 32.0, 64.0),
    noises: tuple[float, ...] = (0.01, 0.05, 0.2),
    rho: float = 0.7,
) -> dict[str, float]:
    """Fit-once / apply-many (the reference's MOGPRTransformer pattern,
    mogpr.py:35-68: train on a small subgrid, freeze hyperparameters,
    apply everywhere): grid-search (lengthscale, noise) by summed GP log
    marginal likelihood over a deterministic driver-side sample of series,
    then broadcast the frozen values into mogpr_fuse. Fully deterministic
    (sample = first `sample_docs` doc_ids in sorted order)."""
    sample_ids = [
        r[0]
        for r in df.select("doc_id").distinct().orderBy("doc_id")
        .limit(sample_docs).collect()
    ]
    pdf = df.filter(F.col("doc_id").isin(sample_ids)).toPandas()
    series = []
    for _, g in pdf.groupby("doc_id", sort=True):
        day = g["ts"].astype("int64").to_numpy() / 86400e9
        series.append(
            {
                s: (day[(g["source"] == s).to_numpy()],
                    g["value"].to_numpy(np.float64)[(g["source"] == s).to_numpy()])
                for s in sorted(g["source"].unique())
            }
        )
    best, best_ll = None, -np.inf
    for ls in lengthscales:
        for nz in noises:
            ll = sum(
                _log_marginal_likelihood(sig, ls, nz, rho) for sig in series
            )
            if ll > best_ll:
                best, best_ll = (ls, nz), ll
    return {"lengthscale": best[0], "noise": best[1], "rho": rho}


SS_OBS_THRESHOLD = 200


def mogpr_fuse(
    df: DataFrame,
    lengthscale: float = 32.0,
    noise: float = 0.05,
    rho: float = 0.7,
    prediction_period_days: float | None = None,
) -> DataFrame:
    """Distributed fusion over long rows (doc_id, source, ts, value) —
    source = signal name (the reference's band/variable). Output grid per
    doc: union of observed timestamps (reference default), or a regular
    grid every `prediction_period_days` (the reference's ISO-8601
    prediction_period, _xarray_utils.py:43-46).

    Kernel per doc: dense O(n³) Cholesky up to SS_OBS_THRESHOLD joint
    observations, state-space O(n) Kalman + RTS above (same posterior, see
    mogpr_fuse_series_ss) — so short series keep the bit-stable dense path
    the driver oracle pins while long series (the 100-TB shape: years of
    observations per sequence) never pay a cubic factorization."""

    def _fuse(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "source", "ts", "value"], kind="mergesort")
        outs = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            epoch = g["ts"].astype("int64").to_numpy() // 10**9
            day = epoch / 86400.0
            sigs = {
                s: (day[(g["source"] == s).to_numpy()],
                    g["value"].to_numpy(np.float64)[(g["source"] == s).to_numpy()])
                for s in g["source"].unique()
            }
            obs_days = np.unique(day[~np.isnan(g["value"].to_numpy(np.float64))])
            if len(obs_days) == 0:
                continue
            if prediction_period_days:
                out_t = np.arange(
                    obs_days[0], obs_days[-1] + 1e-9, prediction_period_days
                )
            else:
                out_t = obs_days
            n_obs = int((~np.isnan(g["value"].to_numpy(np.float64))).sum())
            kernel = (
                mogpr_fuse_series_ss
                if n_obs > SS_OBS_THRESHOLD
                else mogpr_fuse_series
            )
            fused = kernel(
                sigs, out_t, lengthscale=lengthscale, noise=noise, rho=rho
            )
            ts_out = pd.to_datetime((out_t * 86400.0 * 1e6).round() * 1000)
            for s, (mu, sd) in fused.items():
                outs.append(
                    pd.DataFrame(
                        {
                            "doc_id": doc,
                            "source": s,
                            "ts": ts_out,
                            "value_fused": mu,
                            "value_std": sd,
                        }
                    )
                )
        if not outs:
            return pd.DataFrame(
                columns=["doc_id", "source", "ts", "value_fused", "value_std"]
            )
        return pd.concat(outs, ignore_index=True)

    # a doc's signals arrive as `source` rows, so the call is the doc's
    # partition alone
    return group_kernel(df, _fuse, FUSED_SCHEMA, by=())
