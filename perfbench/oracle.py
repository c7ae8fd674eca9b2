"""Independent numpy oracle for the estimation benchmark.

Written from the textbook recursions, not from the program's code:

- 1-D local-level Kalman filter (standard covariance update),
- OLS Kalman filter with zero process noise and the RLS filter with
  forgetting factor 1, both checked through their closed form: the estimate
  after ``i`` rows is the regularized least-squares solution over those rows,
  ``P_i = (P_0^-1 + sum h h^T / r)^-1``, ``m_i = P_i (P_0^-1 m_0 + sum h y / r)``,
- fixed-lag Rauch-Tung-Striebel smoother over the 1-D filter,
- structural checks for the mixture (one model per full minibatch, weights
  that sum to 1, finite parameters).

Every ``check_*`` function returns a list of mismatch messages; empty means
the output agrees.
"""

from __future__ import annotations

import numpy as np

RTOL = 1e-6


def lkf_1d(z, q: float, r: float, m0: float, p0: float):
    """Filtered means and variances of a local-level model (F = H = 1)."""
    n = len(z)
    means, variances = np.empty(n), np.empty(n)
    m, p = m0, p0
    for i, zi in enumerate(np.asarray(z, dtype=float).tolist()):
        p = p + q
        k = p / (p + r)
        m = m + k * (zi - m)
        p = (1.0 - k) * p
        means[i], variances[i] = m, p
    return means, variances


def least_squares_path(h, y, p0: float):
    """Running regularized least squares with unit noise (prior mean 0,
    prior cov p0*I): estimates and covariances after each row."""
    h = np.asarray(h, dtype=float)
    y = np.asarray(y, dtype=float)
    d = h.shape[1]
    info = np.eye(d) / p0 + np.cumsum(h[:, :, None] * h[:, None, :], axis=0)
    rhs = np.cumsum(h * y[:, None], axis=0)
    cov = np.linalg.inv(info)
    mean = np.einsum("nij,nj->ni", cov, rhs)
    return mean, cov


def smoother_1d(z, q: float, r: float, m0: float, p0: float, lag: int):
    """Fixed-lag RTS output: for every window end t >= lag - 1, ``lag`` rows
    (stateIndex j + 1, stepIndex t - j) for j in t - lag + 1 .. t."""
    m, p = lkf_1d(z, q, r, m0, p0)
    ends = np.arange(lag - 1, len(z))
    if len(ends) == 0:
        return {k: np.empty(0) for k in ("stateIndex", "stepIndex", "mean", "var")}
    sm_m, sm_p = m[ends].copy(), p[ends].copy()
    idx, step, mean, var = [ends + 1], [np.zeros_like(ends)], [sm_m.copy()], [sm_p.copy()]
    for s in range(1, lag):
        j = ends - s
        pred_p = p[j] + q
        g = p[j] / pred_p
        sm_m = m[j] + g * (sm_m - m[j])
        sm_p = p[j] + g * (sm_p - pred_p) * g
        idx.append(j + 1)
        step.append(np.full_like(ends, s))
        mean.append(sm_m.copy())
        var.append(sm_p.copy())
    return {
        "stateIndex": np.concatenate(idx),
        "stepIndex": np.concatenate(step),
        "mean": np.concatenate(mean),
        "var": np.concatenate(var),
    }


def _close(name: str, got, want, out: list[str]):
    got = np.asarray(got, dtype=float)
    want = np.asarray(want, dtype=float)
    if got.shape != want.shape:
        out.append(f"{name}: shape {got.shape} != expected {want.shape}")
        return
    if not np.all(np.isfinite(got)):
        out.append(f"{name}: non-finite values")
        return
    scale = np.abs(want) + 1e-3 * (np.max(np.abs(want)) if want.size else 0.0) + 1e-12
    err = np.abs(got - want) / scale
    if err.size and err.max() > RTOL:
        i = np.unravel_index(int(np.argmax(err)), err.shape)
        out.append(f"{name}: relative error {err.max():.3e} at {i} (got {got[i]!r}, want {want[i]!r})")


def _index(name: str, got_idx, n: int, out: list[str]) -> bool:
    got_idx = np.asarray(got_idx)
    if len(got_idx) != n or not np.array_equal(got_idx, np.arange(1, n + 1)):
        out.append(f"{name}: stateIndex is not 1..{n} (got {len(got_idx)} rows)")
        return False
    return True


def check_lkf(key: str, z, rows: dict, params: dict) -> list[str]:
    """rows: stateIndex, mean, var sorted by stateIndex."""
    out: list[str] = []
    if _index(f"lkf[{key}]", rows["stateIndex"], len(z), out):
        m, p = lkf_1d(z, params["q"], params["r"], params["m0"], params["p0"])
        _close(f"lkf[{key}].mean", rows["mean"], m, out)
        _close(f"lkf[{key}].var", rows["var"], p, out)
    return out


def check_regression(kind: str, key: str, h, y, rows: dict, p0: float) -> list[str]:
    """OLS-LKF or RLS: rows hold stateIndex, mean (n, d), cov (n, d, d)."""
    out: list[str] = []
    if _index(f"{kind}[{key}]", rows["stateIndex"], len(y), out):
        mean, cov = least_squares_path(h, y, p0)
        _close(f"{kind}[{key}].mean", rows["mean"], mean, out)
        _close(f"{kind}[{key}].cov", rows["cov"], cov, out)
    return out


def check_smoother(key: str, z, rows: dict, params: dict, steps=None) -> list[str]:
    """rows: stateIndex, stepIndex, mean, var in any order; ``steps``
    limits the comparison to those stepIndex values."""
    out: list[str] = []
    want = smoother_1d(z, params["q"], params["r"], params["m0"], params["p0"], params["lag"])
    if steps is not None:
        keep = np.isin(want["stepIndex"], steps)
        want = {k: v[keep] for k, v in want.items()}
    got_key = np.asarray(rows["stateIndex"]) * 1000 + np.asarray(rows["stepIndex"])
    want_key = want["stateIndex"] * 1000 + want["stepIndex"]
    if len(got_key) != len(want_key) or not np.array_equal(np.sort(got_key), np.sort(want_key)):
        out.append(f"smoother[{key}]: {len(got_key)} (stateIndex, stepIndex) rows, expected {len(want_key)}")
        return out
    g, w = np.argsort(got_key), np.argsort(want_key)
    _close(f"smoother[{key}].mean", np.asarray(rows["mean"])[g], want["mean"][w], out)
    _close(f"smoother[{key}].var", np.asarray(rows["var"])[g], want["var"][w], out)
    return out


def check_mixture(key: str, n_rows: int, rows: dict, minibatch: int) -> list[str]:
    """rows: stateIndex, weights (m, k), params (m, p) sorted by stateIndex."""
    out: list[str] = []
    if not _index(f"gmm[{key}]", rows["stateIndex"], n_rows // minibatch, out):
        return out
    w = np.asarray(rows["weights"], dtype=float)
    prm = np.asarray(rows["params"], dtype=float)
    if w.size and np.max(np.abs(w.sum(axis=1) - 1.0)) > 1e-9:
        out.append(f"gmm[{key}]: weights do not sum to 1 (max dev {np.max(np.abs(w.sum(axis=1) - 1.0)):.3e})")
    if w.size and (np.any(w < 0) or np.any(w > 1)):
        out.append(f"gmm[{key}]: weight outside [0, 1]")
    if not (np.all(np.isfinite(w)) and np.all(np.isfinite(prm))):
        out.append(f"gmm[{key}]: non-finite mixture parameters")
    return out
