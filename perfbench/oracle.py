"""Independent numpy references for the output checks.

None of this calls the library: each function recomputes one published
result from plain arrays, so a wrong library result cannot agree with it
by sharing code.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# Tolerances. The library and numpy fit the same (weighted) least-squares
# problem in float64, by different algorithms (sufficient statistics
# against QR), so agreement is far tighter than this; logistic fits stop
# at an IRLS tolerance, hence the looser figure.
RTOL_OLS = 1e-6
RTOL_LOGIT = 1e-4
RTOL_COSINE = 1e-9
# Gaussian interaction LRT: GLM implementations differ in the scale they
# put into the log-likelihood (RSS/n or RSS/(n-p)), which moves the
# statistic by O(p/n); the p-value is checked only to this tolerance.
RTOL_LRT = 1e-3


def design(frame: pd.DataFrame, covariates: list[str], categorical: set[str]) -> np.ndarray:
    """Intercept + covariates, categorical ones treatment-coded against
    their first sorted level (the reference's patsy convention)."""
    cols = [np.ones(len(frame))]
    for c in covariates:
        v = frame[c].to_numpy()
        if c in categorical:
            cols += [(v == lev).astype(float) for lev in sorted(np.unique(v))[1:]]
        else:
            cols.append(v.astype(float))
    return np.column_stack(cols)


def ols(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray, float]:
    """Coefficients, their standard errors and the residual sum of squares."""
    q, r = np.linalg.qr(X)
    beta = np.linalg.solve(r, q.T @ y)
    resid = y - X @ beta
    rss = float(resid @ resid)
    dof = X.shape[0] - X.shape[1]
    rinv = np.linalg.inv(r)
    se = np.sqrt(np.sum(rinv**2, axis=1) * rss / dof)
    return beta, se, rss


def wls(X: np.ndarray, y: np.ndarray, w: np.ndarray) -> np.ndarray:
    sw = np.sqrt(w)
    return np.linalg.lstsq(X * sw[:, None], y * sw, rcond=None)[0]


def weighted_logit(X: np.ndarray, y: np.ndarray, w: np.ndarray, tol: float = 1e-12) -> np.ndarray:
    """(Weighted) logistic regression point estimates by Newton-IRLS."""
    beta = np.zeros(X.shape[1])
    for _ in range(100):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        grad = X.T @ (w * (y - p))
        hess = (X * (w * p * (1 - p))[:, None]).T @ X
        step = np.linalg.solve(hess, grad)
        beta = beta + step
        if np.max(np.abs(step)) < tol:
            break
    return beta


def single_variable_fits(
    frame: pd.DataFrame,
    outcome: str,
    covariates: list[str],
    variables: dict[str, str],
    categorical: set[str],
    weights: dict[str, np.ndarray] | None = None,
    family: str = "gaussian",
) -> dict[str, dict]:
    """``outcome ~ 1 + covariates + variable`` per continuous or binary
    variable, complete case per variable. Returns {variable: {Beta, SE, N}}
    (SE only for unweighted Gaussian fits)."""
    out = {}
    for var, vtype in variables.items():
        if vtype not in ("continuous", "binary"):
            continue
        cols = [outcome, *covariates, var]
        mask = frame[cols].notna().all(axis=1).to_numpy()
        sub = frame.loc[mask]
        X = design(sub, covariates, categorical)
        x = sub[var].to_numpy(dtype=float)
        if vtype == "binary":
            x = (x == np.max(np.unique(x))).astype(float)
        X = np.column_stack([X, x])
        y = sub[outcome].to_numpy(dtype=float)
        n = int(mask.sum())
        w = np.ones(n) if weights is None else weights[var][mask]
        if family == "binomial":
            out[var] = {"Beta": weighted_logit(X, y, w)[-1], "N": n}
        elif weights is None:
            beta, se, _ = ols(X, y)
            out[var] = {"Beta": beta[-1], "SE": se[-1], "N": n}
        else:
            out[var] = {"Beta": wls(X, y, w)[-1], "N": n}
    return out


def gaussian_interaction(frame: pd.DataFrame, outcome: str, covariates: list[str], categorical: set[str], a: str, b: str) -> dict:
    """Interaction LRT of two continuous terms from maximum-likelihood
    Gaussian fits: LR = n log(RSS_reduced / RSS_full), one degree of
    freedom."""
    cols = [outcome, *covariates, a, b]
    sub = frame.loc[frame[cols].notna().all(axis=1)]
    X = design(sub, covariates, categorical)
    xa = sub[a].to_numpy(dtype=float)
    xb = sub[b].to_numpy(dtype=float)
    y = sub[outcome].to_numpy(dtype=float)
    _, _, rss_r = ols(np.column_stack([X, xa, xb]), y)
    beta_f, _, rss_f = ols(np.column_stack([X, xa, xb, xa * xb]), y)
    lr = len(sub) * math.log(rss_r / rss_f)
    return {"N": len(sub), "beta": beta_f[-1], "LRT_pvalue": math.erfc(math.sqrt(lr / 2.0))}


def gaussian_outliers(frame: pd.DataFrame, columns: list[str], cutoff: float = 3.0) -> pd.DataFrame:
    """Null every value outside mean +/- cutoff * sample SD, per column."""
    out = frame.copy()
    for c in columns:
        v = out[c]
        mu, sd = v.mean(), v.std(ddof=1)
        out.loc[(v < mu - cutoff * sd) | (v > mu + cutoff * sd), c] = np.nan
    return out


def bh_fdr(p: np.ndarray) -> np.ndarray:
    """Benjamini-Hochberg adjusted p-values."""
    m = len(p)
    order = np.argsort(p)
    adj = np.minimum.accumulate((p[order] * m / np.arange(1, m + 1))[::-1])[::-1]
    out = np.empty(m)
    out[order] = np.minimum(adj, 1.0)
    return out


def cosine_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int) -> list[list[tuple[int, float]]]:
    """Brute-force top-k by cosine, ties broken by the smaller id."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    out = []
    for row in sims:
        order = np.lexsort((ids, -row))[:k]
        out.append([(int(ids[i]), float(row[i])) for i in order])
    return out


def close(a: float, b: float, rtol: float) -> bool:
    return a is not None and b is not None and math.isclose(a, b, rel_tol=rtol, abs_tol=rtol * 1e-3)
