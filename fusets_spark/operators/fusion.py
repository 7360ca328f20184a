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
√(1-ρ)·private independent processes, so the smoothed posterior equals
the dense GP posterior (differential-tested to <1e-7). Both paths run
inside the same kernels.group_kernel call, partitioned by doc_id alone
(all of a doc's signals in one call). Like whittaker_gapfill, the
state-space path runs its time loop per kernel call, not per series:
the call's long docs run in batched forward-Kalman + RTS sweeps
(mogpr_fuse_sweep), vectorized across docs and sub-batched by signal and
step count, with one step per distinct timestamp. At 10^12-sequence
scale, per-series cost is linear in observations and the Python loop
overhead is paid once per sweep.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels
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


def _m32_transitions(dt: np.ndarray, lam: float) -> tuple[np.ndarray, np.ndarray]:
    """Matern-3/2 SDE transitions over every interval of dt at once, for
    one unit-variance latent process with state x = [f, f']:
    A = e^{-λdt}[[1+λdt, dt], [-λ²dt, 1-λdt]] and Q = P∞ - A P∞ Aᵀ, P∞ =
    diag(1, λ²) being the stationary covariance. Returns (A, Q), each of
    shape dt.shape + (2, 2); dt = 0 gives A = I, Q = 0."""
    e = np.exp(-lam * dt)
    l2 = lam**2
    A = np.empty(dt.shape + (2, 2))
    A[..., 0, 0] = e * (1.0 + lam * dt)
    A[..., 0, 1] = e * dt
    A[..., 1, 0] = e * (-l2 * dt)
    A[..., 1, 1] = e * (1.0 - lam * dt)
    still = dt == 0
    A[still] = np.eye(2)
    a00, a01, a10, a11 = A[..., 0, 0], A[..., 0, 1], A[..., 1, 0], A[..., 1, 1]
    Q = np.empty_like(A)
    Q[..., 0, 0] = 1.0 - (a00 * a00 + l2 * (a01 * a01))
    Q[..., 0, 1] = Q[..., 1, 0] = -(a00 * a10 + l2 * (a01 * a11))
    Q[..., 1, 1] = l2 - (a10 * a10 + l2 * (a11 * a11))
    Q[still] = 0.0
    return A, Q


class _SweepDoc(NamedTuple):
    """One doc's input to the state-space sweep. Its steps are the distinct
    times of its observations and grid points; every observation has a
    step, a slot (its rank among that step's observations, in (signal,
    value) order), a signal index and a z-score; every grid point a step."""

    clean: dict[str, tuple[np.ndarray, np.ndarray, float, float]]
    times: np.ndarray
    step: np.ndarray
    slot: np.ndarray
    sig: np.ndarray
    z: np.ndarray
    q_step: np.ndarray


def _sweep_doc(
    signals: dict[str, tuple[np.ndarray, np.ndarray]],
    out_t: np.ndarray,
    master: str | None,
) -> _SweepDoc | None:
    """The doc's sweep input, or None when its master signal is empty."""
    clean = _normalized(signals)
    if (master or min(signals)) not in clean:
        return None
    cols = list(clean.values())
    T = np.concatenate([c[0] for c in cols])
    Z = np.concatenate([c[1] for c in cols])
    S = np.concatenate([np.full(len(c[0]), i) for i, c in enumerate(cols)])
    order = np.lexsort((S, T))  # stable: a signal's tied readings keep order
    T, Z, S = T[order], Z[order], S[order]
    times = np.unique(np.concatenate([T, out_t]))
    step = np.searchsorted(times, T)
    slot = np.arange(len(T)) - np.searchsorted(step, step)
    return _SweepDoc(clean, times, step, slot, S, Z, np.searchsorted(times, out_t))


def _sweep(
    docs: list[_SweepDoc], lam: float, noise: float, rho: float
) -> list[dict[str, tuple[np.ndarray, np.ndarray]]]:
    """One forward-Kalman + RTS pass over docs with the same signal count m,
    vectorized across docs: state (B, d), covariances (B, d, d), d = 2(m+1).

    Docs are padded at the FRONT to the longest doc's step count, so every
    doc's last step is the sweep's last. A padded step, like a doc's first
    step, has dt = 0: A = I, Q = 0 and no update, so the state stays at the
    prior (x = 0, P = P∞) until the doc's first step; the smoother runs
    backwards from the last step, so no real step's smoothed moments
    depend on a padded one. A step applies its observations as scalar
    updates, one slot each; a doc with fewer observations at a step than
    its batch-mates gets a zero observation vector there, which changes
    nothing. No operation mixes docs, so a doc's output does not depend
    on which docs share its sweep."""
    B = len(docs)
    m = len(docs[0].clean)
    d = 2 * (m + 1)  # [u, u', v_1, v_1', ..., v_m, v_m']
    sr, sq = np.sqrt(rho), np.sqrt(1.0 - rho)
    lens = np.array([len(doc.times) for doc in docs])
    n = int(lens.max())
    pad = n - lens

    dt = np.zeros((B, n))
    for b, doc in enumerate(docs):
        dt[b, pad[b] + 1 :] = np.diff(doc.times)
    A2, Q2 = _m32_transitions(dt, lam)
    A = np.zeros((B, n, d, d))
    Q = np.zeros((B, n, d, d))
    for j in range(0, d, 2):  # block diagonal, one block per latent process
        A[:, :, j : j + 2, j : j + 2] = A2
        Q[:, :, j : j + 2, j : j + 2] = Q2

    # step k applies the update slots off[k] .. off[k + 1] - 1, the slot's
    # observation vector h = √ρ·e_u + √(1-ρ)·e_v(signal); a doc with no
    # observation in a slot has h = 0, so the slot leaves it unchanged
    n_slots = np.zeros(n, dtype=np.int64)
    for b, doc in enumerate(docs):
        np.maximum.at(n_slots, pad[b] + doc.step, doc.slot + 1)
    off = np.r_[0, np.cumsum(n_slots)]
    H = np.zeros((B, off[-1], d))
    y = np.zeros((B, off[-1]))
    for b, doc in enumerate(docs):
        g = off[pad[b] + doc.step] + doc.slot
        H[b, g, 0] = sr
        H[b, g, 2 * (doc.sig + 1)] = sq
        y[b, g] = doc.z

    # --- forward Kalman pass, storing predicted and filtered moments -----
    x = np.zeros((B, d))
    P = np.repeat(np.diag(np.tile([1.0, lam**2], m + 1))[None], B, axis=0)
    xp, xf = np.empty((B, n, d)), np.empty((B, n, d))
    Pp, Pf = np.empty((B, n, d, d)), np.empty((B, n, d, d))
    for k in range(n):
        Ak = A[:, k]
        x = (Ak @ x[:, :, None])[:, :, 0]
        P = Ak @ P @ Ak.transpose(0, 2, 1) + Q[:, k]
        P = 0.5 * (P + P.transpose(0, 2, 1))
        xp[:, k], Pp[:, k] = x, P
        for g in range(off[k], off[k + 1]):
            h = H[:, g, :, None]
            Ph = P @ h
            s = (h.transpose(0, 2, 1) @ Ph)[:, 0, 0] + noise
            r = (y[:, g] - (h.transpose(0, 2, 1) @ x[:, :, None])[:, 0, 0]) / s
            x = x + Ph[:, :, 0] * r[:, None]
            # Ph·Phᵀ is exactly symmetric, so P stays symmetric
            P = P - Ph * Ph.transpose(0, 2, 1) / s[:, None, None]
        xf[:, k], Pf[:, k] = x, P
    del Q

    # --- RTS backward smoother, in place over the filtered moments -------
    # every gain G_k = Pf_k A_{k+1}ᵀ Pp_{k+1}⁻¹ at once (Pp is symmetric)
    APf = A[:, 1:] @ Pf[:, :-1]
    del A
    G = np.linalg.solve(Pp[:, 1:], APf).swapaxes(-1, -2)
    del APf
    xs, Ps = xf, Pf
    for k in range(n - 2, -1, -1):
        Gk = G[:, k]
        xs[:, k] += (Gk @ (xs[:, k + 1] - xp[:, k + 1])[:, :, None])[:, :, 0]
        Ps[:, k] += Gk @ (Ps[:, k + 1] - Pp[:, k + 1]) @ Gk.transpose(0, 2, 1)

    # --- read each grid point's smoothed state, per signal ---------------
    out = []
    for b, doc in enumerate(docs):
        q = pad[b] + doc.q_step
        xq, Pq = xs[b, q], Ps[b, q]
        fused = {}
        for i, (name, (_, _, mean_s, std_s)) in enumerate(doc.clean.items()):
            c = 2 * (i + 1)
            mu_n = sr * xq[:, 0] + sq * xq[:, c]
            var = np.maximum(
                sr * sr * Pq[:, 0, 0]
                + 2.0 * sr * sq * Pq[:, 0, c]
                + sq * sq * Pq[:, c, c],
                0.0,
            )
            fused[name] = (mu_n * std_s + mean_s, np.sqrt(var) * std_s)
        out.append(fused)
    return out


def mogpr_fuse_sweep(
    docs: list[tuple[dict[str, tuple[np.ndarray, np.ndarray]], np.ndarray]],
    lengthscale: float = 32.0,
    noise: float = 0.05,
    rho: float = 0.7,
    master: str | None = None,
) -> list[dict[str, tuple[np.ndarray, np.ndarray]]]:
    """The STATE-SPACE path of mogpr_fuse_series for many docs at once:
    docs is [(signals, out_t), ...] as mogpr_fuse_series takes them, and
    the result is each doc's {name: (fused_mean, fused_std)} ({} when its
    master signal is empty).

    Docs are sub-batched by signal count, then by step count: a sweep
    takes docs whose step counts lie in [n_lo, 8·n_lo], like Whittaker's
    length batches, and at most kernels.GROUP_BYTES of per-step arrays
    (4d² + 2d doubles per doc and step, d = 2(m+1), padded steps
    included; a doc larger than that runs alone). The update slots add
    d + 1 doubles per observation. A doc's output does not depend on its
    batch-mates (see _sweep)."""
    lam = SQRT3 / lengthscale
    plans = [
        _sweep_doc(sig, np.asarray(out_t, dtype=np.float64), master)
        for sig, out_t in docs
    ]
    out: list[dict[str, tuple[np.ndarray, np.ndarray]]] = [{} for _ in docs]
    live = sorted(
        (i for i, p in enumerate(plans) if p is not None),
        key=lambda i: (len(plans[i].clean), len(plans[i].times)),
    )
    pos = 0
    while pos < len(live):
        m, n_lo = len(plans[live[pos]].clean), len(plans[live[pos]].times)
        d = 2 * (m + 1)
        end = pos + 1
        while end < len(live):
            p = plans[live[end]]
            n = len(p.times)  # the batch's longest doc so far
            if (
                len(p.clean) != m
                or n > 8 * n_lo
                or (end - pos + 1) * n * 8 * (4 * d * d + 2 * d)
                > kernels.GROUP_BYTES
            ):
                break
            end += 1
        batch = live[pos:end]
        for i, fused in zip(batch, _sweep([plans[i] for i in batch], lam, noise, rho)):
            out[i] = fused
        pos = end
    return out


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
    dense Gram factorization stops fitting the per-task budget. This is
    the one-doc call of mogpr_fuse_sweep, the path mogpr_fuse batches.

    Exact-same-model construction: the ICM kernel B_ij·k(t,t') with
    B = (1-ρ)I + ρ11ᵀ is realized as f_i(t) = √ρ·u(t) + √(1-ρ)·v_i(t)
    with u, v_1..v_m independent unit-variance Matern-3/2 processes
    (cov(f_i, f_j) = ρk + (1-ρ)δ_ij·k = B_ij·k), each with its exact SDE
    form — so the smoothed posterior equals the dense GP posterior in
    exact arithmetic; tests/test_fusion_differential.py pins the two
    implementations to <1e-7 numerically. The sweep takes one step per
    distinct time of the observations and out_t; the observations at one
    time are scalar updates inside their step, and each out_t point reads
    the smoothed state of its time's step. Normalization, master gating,
    and the returned (mean, std) contract match mogpr_fuse_series."""
    return mogpr_fuse_sweep(
        [(signals, out_t)], lengthscale, noise, rho, master
    )[0]


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
    observations per sequence) never pay a cubic factorization. A kernel
    call routes each doc by its own observation count and runs all of its
    long docs in batched sweeps (mogpr_fuse_sweep), so the state-space
    time loop runs once per sweep, not once per doc; a doc's output does
    not depend on which docs share its call. The call's output is built
    as one frame."""

    def _fuse(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "source", "ts", "value"], kind="mergesort")
        doc = pdf["doc_id"].to_numpy()
        src = pdf["source"].to_numpy()
        day = (pdf["ts"].astype("int64").to_numpy() // 10**9) / 86400.0
        val = pdf["value"].to_numpy(np.float64)
        keys, grids, fused, sweep = [], [], [], []
        bounds = np.r_[0, np.flatnonzero(doc[1:] != doc[:-1]) + 1, len(doc)]
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            ok = ~np.isnan(val[lo:hi])
            obs_days = np.unique(day[lo:hi][ok])
            if len(obs_days) == 0:
                continue
            # the doc's signals, split once on the sorted frame
            cut = lo + np.flatnonzero(np.r_[True, src[lo + 1 : hi] != src[lo : hi - 1]])
            sigs = {
                src[a]: (day[a:b], val[a:b]) for a, b in zip(cut, np.r_[cut[1:], hi])
            }
            if prediction_period_days:
                out_t = np.arange(
                    obs_days[0], obs_days[-1] + 1e-9, prediction_period_days
                )
            else:
                out_t = obs_days
            keys.append(doc[lo])
            grids.append(out_t)
            if int(ok.sum()) > SS_OBS_THRESHOLD:
                sweep.append(len(fused))  # replaced by its sweep result
                fused.append((sigs, out_t))
            else:
                fused.append(
                    mogpr_fuse_series(
                        sigs, out_t, lengthscale=lengthscale, noise=noise, rho=rho
                    )
                )
        swept = mogpr_fuse_sweep(
            [fused[i] for i in sweep], lengthscale=lengthscale, noise=noise, rho=rho
        )
        for i, res in zip(sweep, swept):
            fused[i] = res

        # the call's whole output as one frame, (doc, signal, grid) rows
        parts = [
            (doc_id, s, out_t, mu, sd)
            for doc_id, out_t, res in zip(keys, grids, fused)
            for s, (mu, sd) in res.items()
        ]
        if not parts:
            return pd.DataFrame(
                columns=["doc_id", "source", "ts", "value_fused", "value_std"]
            )
        doc_ids, sources, out_ts, mus, sds = zip(*parts)
        n_rows = [len(t) for t in out_ts]
        out_t = np.concatenate(out_ts)
        return pd.DataFrame(
            {
                "doc_id": np.repeat(np.array(doc_ids, dtype=object), n_rows),
                "source": np.repeat(np.array(sources, dtype=object), n_rows),
                # the microsecond-rounded grid time as datetime64[ns]
                "ts": ((out_t * 86400.0 * 1e6).round() * 1000)
                .astype(np.int64)
                .view("datetime64[ns]"),
                "value_fused": np.concatenate(mus),
                "value_std": np.concatenate(sds),
            }
        )

    # a doc's signals arrive as `source` rows, so the call is the doc's
    # partition alone
    return group_kernel(df, _fuse, FUSED_SCHEMA, by=())
