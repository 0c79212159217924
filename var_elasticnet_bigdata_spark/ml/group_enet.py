"""Group (multi-response) elastic net — the reference's
``GroupEnetVAR`` (enetVAR.R:344-421): ``cv.glmnet(family="mgaussian",
standardize=TRUE, standardize.response=TRUE)`` with blocked folds and
``lambda.min`` extraction.

MLlib has no mgaussian primitive (SURVEY M7), so this implements the
glmnet mgaussian objective directly by block coordinate descent over
moment matrices:

    min_B (1/2n)‖Ỹ − X̃B‖²_F + λ Σ_j ( α‖B_j·‖₂ + (1−α)/2 ‖B_j·‖₂² )

(B_j· = row j — a predictor is zeroed across ALL responses at once;
Friedman, Hastie & Tibshirani 2010, §multiresponse). With unit-
variance standardized x the row update has the closed form

    B_j· ← (1 − λα/‖r_j‖₂)₊ · r_j / (x̃_jj + λ(1−α)),

r_j the partial residual inner product row. Responses are scaled to
unit variance for the fit (standardize.response) and coefficients
unscaled on return, matching glmnet.

Everything runs on the same one-pass Gram aggregation as the
univariate path (ml/gram.py) — exact at any data scale. For K=1 the
group penalty degenerates to the univariate elastic net, which the
tests exploit as an equivalence oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .elastic_net import blocked_fold_ids, standardize
from .gram import Moments, moments_total, var_moments
from .local import fold_moments_from_numpy, recursive_forecast, var_design


@dataclass
class GroupEnetFit:
    x_cols: list[str]
    y_cols: list[str]
    alpha: float
    lambdas: np.ndarray
    coefs: np.ndarray  # (k, K, nlambda) original scale
    intercepts: np.ndarray  # (K, nlambda)
    cv_mean: np.ndarray | None = None
    lambda_min: float | None = None

    def coef_at(self, lam: float) -> tuple[np.ndarray, np.ndarray]:
        ls = self.lambdas
        if lam >= ls[0]:
            i0, i1, w = 0, 0, 1.0
        elif lam <= ls[-1]:
            i0, i1, w = len(ls) - 1, len(ls) - 1, 1.0
        else:
            i = int(np.searchsorted(-ls, -lam, side="left"))
            i0, i1 = i - 1, i
            w = (lam - ls[i1]) / (ls[i0] - ls[i1])
        B = w * self.coefs[:, :, i0] + (1 - w) * self.coefs[:, :, i1]
        a0 = w * self.intercepts[:, i0] + (1 - w) * self.intercepts[:, i1]
        return B, a0


def _standardize_group(moments: Moments, x_cols, y_cols, intercept,
                       standardize_response):
    """``elastic_net.standardize`` plus glmnet's
    ``standardize.response``: each response scaled to unit variance
    (denominator n) in x̃'ỹ/n."""
    xtx_n, xty_n, mx, xscale, my, yty_n = standardize(
        moments, x_cols, y_cols, intercept
    )
    yscale = (
        np.sqrt(np.maximum(yty_n, 0.0)) if standardize_response
        else np.ones(len(y_cols))
    )
    yscale = np.where(yscale <= 0, 1.0, yscale)
    return xtx_n, xty_n / yscale[None, :], mx, my, xscale, yscale


def group_lambda_path(xty_n: np.ndarray, alpha: float, nlambda: int,
                      lambda_min_ratio: float) -> np.ndarray:
    a = max(alpha, 1e-3)
    lmax = float(np.max(np.linalg.norm(xty_n, axis=1))) / a
    if lmax <= 0:
        lmax = 1.0
    return np.exp(
        np.linspace(np.log(lmax), np.log(lmax * lambda_min_ratio), nlambda)
    )


def _block_cd(xtx_n, xty_n, alpha, lam, B0=None, tol=1e-7, max_iter=10_000):
    """Block CD with glmnet's active-set strategy (full sweep →
    iterate nonzero rows to convergence → full sweep to verify) and
    glmnet's energy convergence criterion ``max_j diag_j·max(Δb_j²) <
    thresh`` (multelnet's ``dlx``) — NOT max|Δb|, which stalls for
    thousands of sweeps on collinear lag-embedded designs."""
    k, K = xty_n.shape
    B = np.zeros((k, K)) if B0 is None else B0.copy()
    R = xty_n - xtx_n @ B  # (1/n) X̃'(Ỹ − X̃B)
    diag = xtx_n.diagonal()
    den = diag + lam * (1 - alpha)
    g = lam * alpha
    zero = np.zeros(K)

    def sweep(rows):
        delta = 0.0
        for j in rows:
            bj = B[j]
            r = R[j] + diag[j] * bj
            nr = float(np.sqrt(r @ r))
            if nr <= g:
                if not bj.any():
                    continue
                bj_new = zero
            else:
                bj_new = r * ((1.0 - g / nr) / den[j])
            d = bj_new - bj
            if d.any():
                R[...] -= xtx_n[:, j, None] * d[None, :]
                B[j] = bj_new
                m = float(diag[j]) * float(np.max(d * d))
                if m > delta:
                    delta = m
        return delta

    it = 0
    while it < max_iter:
        delta = sweep(range(k))
        it += 1
        if delta < tol:
            break
        active = np.flatnonzero((B != 0).any(axis=1))
        while it < max_iter:
            delta = sweep(active)
            it += 1
            if delta < tol:
                break
    return B


def group_enet_path(
    moments: Moments,
    x_cols: list[str],
    y_cols: list[str],
    alpha: float = 0.4,
    lambdas: np.ndarray | None = None,
    intercept: bool = False,
    standardize_response: bool = True,
    nlambda: int = 100,
    tol: float = 1e-7,
) -> GroupEnetFit:
    xtx_n, xty_n, mx, my, xscale, yscale = _standardize_group(
        moments, x_cols, y_cols, intercept, standardize_response
    )
    k, K = xty_n.shape
    if lambdas is None:
        ratio = 1e-2 if moments.n < k else 1e-4
        lambdas = group_lambda_path(xty_n, alpha, nlambda, ratio)
    lambdas = np.asarray(sorted(lambdas, reverse=True), dtype=float)
    coefs = np.zeros((k, K, len(lambdas)))
    intercepts = np.zeros((K, len(lambdas)))
    B = np.zeros((k, K))
    for i, lam in enumerate(lambdas):
        B = _block_cd(xtx_n, xty_n, alpha, float(lam), B0=B, tol=tol)
        # unscale: b_orig = b_std * yscale / xscale
        Borig = B * yscale[None, :] / xscale[:, None]
        coefs[:, :, i] = Borig
        if intercept:
            intercepts[:, i] = my - Borig.T @ mx
    return GroupEnetFit(
        x_cols=list(x_cols),
        y_cols=list(y_cols),
        alpha=alpha,
        lambdas=lambdas,
        coefs=coefs,
        intercepts=intercepts,
    )


def cv_group_enet(
    fold_moments: dict[int, Moments],
    x_cols: list[str],
    y_cols: list[str],
    alpha: float = 0.4,
    intercept: bool = False,
    nlambda: int = 100,
    tol: float = 1e-7,
) -> GroupEnetFit:
    """cv.glmnet mgaussian: held-out total MSE (summed over the K
    responses, original scale) from per-fold moments; λ.min."""
    total = moments_total(fold_moments)
    full = group_enet_path(
        total, x_cols, y_cols, alpha=alpha, intercept=intercept,
        nlambda=nlambda, tol=tol,
    )
    nfolds = len(fold_moments)
    errs = np.zeros((nfolds, len(full.lambdas)))
    w = np.zeros(nfolds)
    for fi, (fold, fm) in enumerate(sorted(fold_moments.items())):
        train = total.minus(fm)
        fit = group_enet_path(
            train, x_cols, y_cols, alpha=alpha, lambdas=full.lambdas,
            intercept=intercept, tol=tol,
        )
        n_f = fm.n
        w[fi] = n_f
        Sxx = fm.cross(x_cols, x_cols)
        Sxy = fm.cross(x_cols, y_cols)
        Syy = fm.cross(y_cols, y_cols)
        sx = fm.sums(x_cols)
        sy = fm.sums(y_cols)
        for li in range(len(full.lambdas)):
            B = fit.coefs[:, :, li]
            a0 = fit.intercepts[:, li]
            sse = (
                np.trace(Syy)
                - 2.0 * np.sum(B * Sxy)
                + np.trace(B.T @ Sxx @ B)
                + n_f * float(a0 @ a0)
                + 2.0 * float(a0 @ (B.T @ sx - sy))
            )
            errs[fi, li] = sse / n_f
    # cv.glmnet (grouped=TRUE): pooled per-observation mean — fold-
    # size-weighted, not the unweighted mean of fold means.
    full.cv_mean = (w / w.sum()) @ errs
    full.lambda_min = float(full.lambdas[int(np.argmin(full.cv_mean))])
    return full


class LocalGroupEnetVAR:
    """GroupEnetVAR on a numpy matrix (harness worker / driver use):
    blocked folds, λ.min, recursive prediction — mirrors
    enetVAR.R:344-421."""

    def __init__(
        self,
        y: np.ndarray,
        series: list[str],
        p: int,
        alpha: float = 0.4,
        intercept: bool = False,
        cv_block: int = 10,
    ) -> None:
        self.series = list(series)
        self.p = p
        self.intercept = intercept
        self.y = y
        data, self.z_names = var_design(y, series, p)
        fm = fold_moments_from_numpy(
            data, self.z_names + self.series, blocked_fold_ids(len(data), cv_block)
        )
        self.fit = cv_group_enet(
            fm, self.z_names, self.series, alpha=alpha, intercept=intercept
        )

    def coef_matrix(self) -> np.ndarray:
        B, a0 = self.fit.coef_at(self.fit.lambda_min)
        if self.intercept:
            return np.vstack([a0[None, :], B])
        return B

    def predict(self, n_ahead: int = 1) -> np.ndarray:
        hist = self.y[~np.isnan(self.y).any(axis=1)]
        return recursive_forecast(
            self.coef_matrix(), hist, self.p, self.intercept, n_ahead
        )


def fit_group_enet_var(
    wide_df,
    series: list[str],
    p: int,
    alpha: float = 0.4,
    intercept: bool = False,
    date_col: str = "obs_date",
    cv_block: int = 10,
):
    """Spark entry: distributed per-fold Gram pass → driver-side
    group coordinate descent (same shape as fit_enet_var)."""
    vz, fm = var_moments(wide_df, series, p, date_col, cv_block)
    return cv_group_enet(fm, vz.z_names, series, alpha=alpha, intercept=intercept)


def block_cd_fixed(
    xtx_n: np.ndarray,
    xty_n: np.ndarray,
    alpha: float,
    lam: float,
    sweeps: int,
) -> np.ndarray:
    """Fixed-schedule block CD: exactly ``sweeps`` sequential
    Gauss–Seidel full sweeps from B = 0, no active-set shortcut, no
    tolerance exit. Deterministic by construction, which makes the
    schedule REPLAYABLE step-for-step in the DuckDB oracle
    (queries.py:_group_enet_oracle_sql) — the hash gate for the α>0
    mgaussian solver that plain convergence-based CD cannot provide
    (VERDICT r2 next-round item 1). Same update formula as
    ``_block_cd``; converges to the same unique minimizer as
    ``sweeps`` grows (pinned in tests/test_group_enet.py)."""
    k, K = xty_n.shape
    B = np.zeros((k, K))
    diag = xtx_n.diagonal()
    den = diag + lam * (1.0 - alpha)
    g = lam * alpha
    for _ in range(sweeps):
        for j in range(k):
            r = xty_n[j] - xtx_n[j] @ B + diag[j] * B[j]
            nr = float(np.sqrt(r @ r))
            if nr <= g or den[j] <= 0:
                B[j] = 0.0
            else:
                B[j] = r * ((1.0 - g / nr) / den[j])
    return B


def fit_group_enet_var_fixed(
    wide_df,
    series: list[str],
    p: int,
    alpha: float,
    lam: float,
    sweeps: int = 80,
    intercept: bool = True,
    date_col: str = "obs_date",
):
    """Spark entry for the fixed-λ, fixed-schedule mgaussian fit:
    the SAME distributed lag-embed → one-pass Gram → glmnet
    standardization chain as ``fit_group_enet_var``, with
    ``block_cd_fixed`` as the solver. Returns ``(x_cols, y_cols,
    B_orig, a0)`` on the original data scale. The CV λ.min flavor
    stays pinned in tests/test_group_enet.py (reference
    enetVAR.R:344-366)."""
    vz, fm = var_moments(wide_df, series, p, date_col)
    z_cols = vz.z_names
    xtx_n, xty_n, mx, my, xscale, yscale = _standardize_group(
        fm, z_cols, series, intercept, True
    )
    B = block_cd_fixed(xtx_n, xty_n, alpha, lam, sweeps)
    Borig = B * yscale[None, :] / xscale[:, None]
    a0 = my - Borig.T @ mx if intercept else np.zeros(len(series))
    return z_cols, list(series), Borig, a0
