"""Pure-numpy model-fitting kernels: Markov-switching regression (EM),
GARCH-family MLE (Nelder–Mead), isolation forest and local outlier
factor.

The reference delegates these to statsmodels / arch / sklearn
(``time_series_study.py:686-977``); none of those are available in the
runtime image, so the algorithms are implemented from their published
descriptions. Statistics that depend only on the algorithm (LOF) are
exact; iterative fits (EM, MLE) and randomized models (isolation
forest) are deterministic under our seeds but not numerically identical
to the reference libraries — the driver records rows-only checks for
the operators built on them, and pytest asserts behavioral properties
(regime recovery, volatility clustering detection, outlier recall) on
synthetic data.
"""

from __future__ import annotations

import math

import numpy as np

_LOG2PI = math.log(2.0 * math.pi)


# --------------------------------------------------------------------------
# Nelder-Mead (deterministic simplex optimizer)
# --------------------------------------------------------------------------


def nelder_mead(fn, x0, max_iter=2000, xatol=1e-8, fatol=1e-10):
    n = len(x0)
    x0 = np.asarray(x0, dtype=float)
    simplex = [x0]
    for i in range(n):
        y = x0.copy()
        y[i] = y[i] + (0.05 * y[i] if y[i] != 0 else 0.00025)
        simplex.append(y)
    simplex = np.array(simplex)
    fvals = np.array([fn(s) for s in simplex])
    for _ in range(max_iter):
        order = np.argsort(fvals, kind="stable")
        simplex, fvals = simplex[order], fvals[order]
        if (
            np.max(np.abs(simplex[1:] - simplex[0])) <= xatol
            and np.max(np.abs(fvals[1:] - fvals[0])) <= fatol
        ):
            break
        centroid = simplex[:-1].mean(axis=0)
        xr = centroid + (centroid - simplex[-1])
        fr = fn(xr)
        if fr < fvals[0]:
            xe = centroid + 2.0 * (centroid - simplex[-1])
            fe = fn(xe)
            simplex[-1], fvals[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fvals[-2]:
            simplex[-1], fvals[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (simplex[-1] - centroid)
            fc = fn(xc)
            if fc < fvals[-1]:
                simplex[-1], fvals[-1] = xc, fc
            else:
                for i in range(1, n + 1):
                    simplex[i] = simplex[0] + 0.5 * (simplex[i] - simplex[0])
                    fvals[i] = fn(simplex[i])
    best = int(np.argmin(fvals))
    return simplex[best], float(fvals[best])


# --------------------------------------------------------------------------
# Markov-switching regression (k-regime switching mean, common variance)
# --------------------------------------------------------------------------


def markov_switching_fit(x: np.ndarray, k_regimes: int = 2, max_iter: int = 200, tol: float = 1e-8):
    """EM (Hamilton filter + Kim smoother) for a switching-constant
    Gaussian model: x_t = mu_{S_t} + e_t, e ~ N(0, sigma²), S_t a
    k-state Markov chain. Deterministic quantile-based init.

    Returns dict with smoothed_probs (T×k), llf, aic, bic, transition
    (k×k, rows = from-state), n_params.
    """
    x = np.asarray(x, dtype=float)
    T = len(x)
    k = k_regimes
    qs = np.quantile(x, [(i + 0.5) / k for i in range(k)])
    mu = qs.astype(float)
    sigma2 = max(float(np.var(x)), 1e-12)
    P = np.full((k, k), 0.1 / max(k - 1, 1))
    np.fill_diagonal(P, 0.9)
    pi0 = np.full(k, 1.0 / k)

    llf = -np.inf
    for _ in range(max_iter):
        dens = np.exp(-0.5 * (x[:, None] - mu[None, :]) ** 2 / sigma2) / math.sqrt(
            2 * math.pi * sigma2
        )
        dens = np.maximum(dens, 1e-300)
        # forward (filtered) pass
        alpha = np.empty((T, k))
        c = np.empty(T)
        a = pi0 * dens[0]
        c[0] = a.sum()
        alpha[0] = a / c[0]
        for t in range(1, T):
            a = (alpha[t - 1] @ P) * dens[t]
            c[t] = a.sum()
            alpha[t] = a / c[t]
        new_llf = float(np.sum(np.log(c)))
        # backward (smoothed) pass — Kim smoother
        smoothed = np.empty((T, k))
        smoothed[-1] = alpha[-1]
        for t in range(T - 2, -1, -1):
            pred = alpha[t] @ P
            ratio = np.where(pred > 0, smoothed[t + 1] / pred, 0.0)
            smoothed[t] = alpha[t] * (P @ ratio)
        # pairwise smoothed transitions
        xi_num = np.zeros((k, k))
        for t in range(T - 1):
            pred = alpha[t] @ P
            ratio = np.where(pred > 0, smoothed[t + 1] / pred, 0.0)
            xi_num += np.outer(alpha[t], ratio) * P
        # M-step
        wsum = smoothed.sum(axis=0)
        mu = (smoothed * x[:, None]).sum(axis=0) / np.maximum(wsum, 1e-300)
        sigma2 = float(
            np.sum(smoothed * (x[:, None] - mu[None, :]) ** 2) / T
        )
        sigma2 = max(sigma2, 1e-12)
        P = xi_num / np.maximum(xi_num.sum(axis=1, keepdims=True), 1e-300)
        pi0 = smoothed[0]
        if abs(new_llf - llf) < tol * (1 + abs(new_llf)):
            llf = new_llf
            break
        llf = new_llf

    n_params = k * (k - 1) + k + 1  # transitions + means + variance
    aic = -2.0 * llf + 2.0 * n_params
    bic = -2.0 * llf + n_params * math.log(T)
    # canonical regime order: ascending mean (removes EM label switching)
    order = np.argsort(mu, kind="stable")
    return {
        "smoothed_probs": smoothed[:, order],
        "llf": llf,
        "aic": aic,
        "bic": bic,
        "transition": P[np.ix_(order, order)],
        "n_params": n_params,
        "mu": mu[order],
        "sigma2": sigma2,
    }


# --------------------------------------------------------------------------
# GARCH family (normal innovations, constant mean)
# --------------------------------------------------------------------------


def _sample_skew_kurt(v: np.ndarray) -> tuple[float, float]:
    """pandas-convention bias-corrected G1 skew and excess G2 kurtosis."""
    n = len(v)
    m = v.mean()
    d = v - m
    m2 = float(np.mean(d**2))
    if m2 == 0 or n < 4:
        return float("nan"), float("nan")
    g1 = float(np.mean(d**3)) / m2**1.5
    g2 = float(np.mean(d**4)) / m2**2 - 3.0
    G1 = g1 * math.sqrt(n * (n - 1)) / (n - 2)
    G2 = ((n + 1) * g2 + 6.0) * (n - 1) / ((n - 2) * (n - 3))
    return G1, G2


def _logistic(x: float) -> float:
    """1 / (1 + e^-x), with its exact double limit 0.0 where e^-x
    overflows (x < -709)."""
    try:
        return 1.0 / (1.0 + math.exp(-x))
    except OverflowError:
        return 0.0


def garch_fit(x: np.ndarray, model: str = "GARCH", o: int = 0):
    """Constant-mean GARCH(1,1)-family MLE with normal innovations.

    model ∈ {'GARCH', 'EGARCH', 'GJR-GARCH'} (GJR ≡ GARCH with o=1,
    matching the reference's arch_model calls —
    ``time_series_study.py:823-828``).

    Returns dict: llf, aic, bic, cond_vol (T,), persistence
    (= alpha + beta, the reference's sum over params named alpha/beta).
    """
    x = np.asarray(x, dtype=float)
    T = len(x)
    mu0 = float(x.mean())
    e0 = x - mu0
    v0 = max(float(e0 @ e0) / T, 1e-12)
    use_o = 1 if (o or model == "GJR-GARCH") else 0
    egarch = model == "EGARCH"

    def sigma2_path(params):
        mu, omega, alpha, gamma, beta = params
        e = x - mu
        s2 = np.empty(T)
        if egarch:
            ls2 = math.log(v0)
            ee = math.sqrt(2.0 / math.pi)
            for t in range(T):
                if t > 0:
                    z = e[t - 1] / math.sqrt(max(s2[t - 1], 1e-300))
                    ls2 = omega + alpha * (abs(z) - ee) + gamma * z + beta * math.log(
                        max(s2[t - 1], 1e-300)
                    )
                s2[t] = max(math.exp(min(ls2, 700.0)), 1e-300)
            return e, s2
        back = v0
        for t in range(T):
            if t == 0:
                s2[t] = back
            else:
                s2[t] = omega + alpha * e[t - 1] ** 2 + beta * s2[t - 1]
                if use_o and e[t - 1] < 0:
                    s2[t] += gamma * e[t - 1] ** 2
            s2[t] = max(s2[t], 1e-300)
        return e, s2

    def params_of(theta):
        mu, lw, la, lg, lb = theta
        omega = math.exp(lw)
        alpha = math.exp(la) if egarch else _logistic(la) * 0.5
        gamma = lg if egarch else (_logistic(lg) * 0.5 if use_o else 0.0)
        beta = _logistic(lb) * (0.999 if egarch else 1.0)
        return mu, omega, alpha, gamma, beta

    def negllf(theta):
        try:
            mu, omega, alpha, gamma, beta = params_of(theta)
        except OverflowError:  # exp(lw) (or EGARCH's exp(la)) beyond double range
            return 1e12
        if not egarch and alpha + beta + 0.5 * gamma * use_o >= 0.9999:
            return 1e12
        e, s2 = sigma2_path((mu, omega, alpha, gamma, beta))
        return float(0.5 * np.sum(_LOG2PI + np.log(s2) + e * e / s2))

    theta0 = np.array([mu0, math.log(v0 * 0.05), math.log(0.1) if egarch else 0.0 - 1.4, -1.4, 1.4])
    theta, nll = nelder_mead(negllf, theta0, max_iter=3000)
    mu, omega, alpha, gamma, beta = params_of(theta)
    e, s2 = sigma2_path((mu, omega, alpha, gamma, beta))
    llf = -nll
    k = 3 + use_o + (1 if egarch else 0)
    aic = -2 * llf + 2 * k
    bic = -2 * llf + k * math.log(T)
    return {
        "llf": llf,
        "aic": aic,
        "bic": bic,
        "cond_vol": np.sqrt(s2),
        "persistence": float(alpha + beta),
        "params": {"mu": mu, "omega": omega, "alpha": alpha, "gamma": gamma, "beta": beta},
    }


# --------------------------------------------------------------------------
# Isolation forest (1-D, seeded) and Local Outlier Factor
# --------------------------------------------------------------------------


def _c_factor(n: float) -> float:
    if n <= 1:
        return 0.0
    return 2.0 * (math.log(n - 1.0) + 0.5772156649015329) - 2.0 * (n - 1.0) / n


def isolation_forest_scores(
    x: np.ndarray, n_estimators: int = 100, max_samples: int = 256, seed: int = 42
) -> np.ndarray:
    """Anomaly scores in sklearn's ``score_samples`` convention
    (−2^(−E[h]/c(ψ)); more negative = more anomalous). Seeded and
    deterministic; tree structure follows the published iForest
    algorithm (Liu, Ting & Zhou 2008)."""
    x = np.asarray(x, dtype=float)
    n = len(x)
    rng = np.random.default_rng(seed)
    psi = min(max_samples, n)
    hlim = int(math.ceil(math.log2(max(psi, 2))))
    depths = np.zeros(n)

    order = np.argsort(x, kind="stable")
    xs = x[order]

    for _ in range(n_estimators):
        sample = rng.choice(n, size=psi, replace=False)
        sx = np.sort(x[sample], kind="stable")
        # iterative tree walk over [lo, hi) index ranges into xs for all
        # points at once: recursion on value intervals
        stack = [(float(sx[0]), float(sx[-1]), 0, psi, 0, np.arange(n))]
        while stack:
            vlo, vhi, slo, shi, depth, idx = stack.pop()
            m = shi - slo
            if m <= 1 or depth >= hlim or vlo >= vhi:
                depths[idx] += depth + _c_factor(m)
                continue
            split = rng.uniform(vlo, vhi)
            # partition the sample range and the scored points
            scut = slo + int(np.searchsorted(sx[slo:shi], split, side="right"))
            left = idx[x[idx] < split]
            right = idx[x[idx] >= split]
            stack.append((vlo, split, slo, scut, depth + 1, left))
            stack.append((split, vhi, scut, shi, depth + 1, right))
    avg_depth = depths / n_estimators
    return -np.power(2.0, -avg_depth / _c_factor(psi))


def isolation_forest_labels(x: np.ndarray, contamination: float = 0.1, seed: int = 42):
    """(labels ∈ {1, −1}, decision_function) with sklearn's
    contamination-offset convention."""
    scores = isolation_forest_scores(x, seed=seed)
    offset = np.percentile(scores, 100.0 * contamination)
    decision = scores - offset
    labels = np.where(decision < 0, -1, 1)
    return labels, decision


def local_outlier_factor(x: np.ndarray, n_neighbors: int, contamination: float = 0.1):
    """Exact 1-D LOF (Breunig et al. 2000) with sklearn's conventions:
    returns (labels ∈ {1,−1}, negative_outlier_factor)."""
    x = np.asarray(x, dtype=float)
    n = len(x)
    k = max(1, min(n_neighbors, n - 1))
    d = np.abs(x[:, None] - x[None, :])
    np.fill_diagonal(d, np.inf)
    nn_idx = np.argsort(d, axis=1, kind="stable")[:, :k]
    nn_dist = np.take_along_axis(d, nn_idx, axis=1)
    k_dist = nn_dist[:, -1]
    reach = np.maximum(nn_dist, k_dist[nn_idx])
    lrd = 1.0 / np.maximum(reach.mean(axis=1), 1e-300)
    lof = lrd[nn_idx].mean(axis=1) / lrd
    nof = -lof
    offset = np.percentile(nof, 100.0 * contamination)
    labels = np.where(nof < offset, -1, 1)
    return labels, nof
