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

Only the penalty is the group model's own (SURVEY M8): the path
returns ``{y_col: EnetFit}`` like ``elastic_net.enet_path``, the CV
scores its folds with ``cv_enet``'s loop, and the VAR fits
(``fit_group_enet_var`` on Spark, ``fit_group_enet_var_local`` on
numpy) return the same ``EnetVARModel`` through the same design,
λ step, ``coef_matrix`` and ``predict`` as the elastic-net VAR.
"""

from __future__ import annotations

import numpy as np

from .elastic_net import EnetFit, _heldout_mse, standardize
from .gram import Moments, moments_total, var_moments
from .var_model import EnetVARModel, fit_enet_var, fit_enet_var_local


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
) -> dict[str, EnetFit]:
    """Warm-started mgaussian λ path; returns ``{y_col: EnetFit}``,
    one view per response over the ONE shared λ sequence (the group
    penalty couples the responses, so every view is cut from the same
    block-CD solution at each λ)."""
    xtx_n, xty_n, mx, my, xscale, yscale = _standardize_group(
        moments, x_cols, y_cols, intercept, standardize_response
    )
    k, K = xty_n.shape
    if lambdas is None:
        # glmnet's mgaussian path: λ_max zeroes every row of B
        ratio = 1e-2 if moments.n < k else 1e-4
        lmax = float(np.max(np.linalg.norm(xty_n, axis=1))) / max(alpha, 1e-3)
        lmax = lmax if lmax > 0 else 1.0
        lambdas = np.exp(np.linspace(np.log(lmax), np.log(lmax * ratio), nlambda))
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
    return {
        yc: EnetFit(
            x_cols=list(x_cols),
            y_col=yc,
            alpha=float(alpha),
            lambdas=lambdas,
            coefs=coefs[:, j, :],
            intercepts=intercepts[j],
            n_fit=len(lambdas),
        )
        for j, yc in enumerate(y_cols)
    }


def cv_group_enet(
    fold_moments: dict[int, Moments],
    x_cols: list[str],
    y_cols: list[str],
    alpha: float = 0.4,
    intercept: bool = False,
    nlambda: int = 100,
    tol: float = 1e-7,
) -> dict[str, EnetFit]:
    """cv.glmnet mgaussian from per-fold moments: the held-out MSE of
    every response (original scale) comes from ``cv_enet``'s fold
    loop (``elastic_net._heldout_mse``) and is summed over the K
    responses; the one λ.min of that total is every view's
    ``lambda_min``, and ``cv_mean`` is the summed curve."""
    total = moments_total(fold_moments)
    fits = group_enet_path(
        total, x_cols, y_cols, alpha=alpha, intercept=intercept,
        nlambda=nlambda, tol=tol,
    )
    lambdas = fits[y_cols[0]].lambdas
    errs, w = _heldout_mse(
        fold_moments, total, x_cols, y_cols,
        lambda train: group_enet_path(
            train, x_cols, y_cols, alpha=alpha, lambdas=lambdas,
            intercept=intercept, tol=tol,
        ),
    )
    # cv.glmnet (grouped=TRUE): pooled per-observation mean — fold-
    # size-weighted, not the unweighted mean of fold means.
    cv_mean = (w / w.sum()) @ errs.sum(axis=2)
    lambda_min = float(lambdas[int(np.argmin(cv_mean))])
    for fit in fits.values():
        fit.cv_mean = cv_mean
        fit.lambda_min = lambda_min
    return fits


def fit_group_enet_var(
    wide_df,
    series: list[str],
    p: int,
    alpha: float = 0.4,
    intercept: bool = False,
    date_col: str = "obs_date",
    cv_block: int = 10,
) -> EnetVARModel:
    """The reference's ``GroupEnetVAR`` (enetVAR.R:344-421) from a
    WIDE Spark DataFrame: ``fit_enet_var``'s Spark body (one
    distributed per-fold Gram pass that also brings the tail rows)
    and λ step with ``cv_group_enet`` as the CV."""
    return fit_enet_var(
        wide_df, series, p, alpha, None, intercept, date_col, cv_block,
        _cv=cv_group_enet,
    )


def fit_group_enet_var_local(
    y: np.ndarray,
    series: list[str],
    p: int,
    alpha: float = 0.4,
    intercept: bool = False,
    cv_block: int = 10,
) -> EnetVARModel:
    """``fit_group_enet_var`` on a numpy (T, K) matrix (NaN =
    missing): ``fit_enet_var_local``'s body with ``cv_group_enet`` as
    the CV."""
    return fit_enet_var_local(
        y, series, p, alpha, None, intercept, cv_block, _cv=cv_group_enet,
    )


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
    vz, fm, _ = var_moments(wide_df, series, p, date_col)
    z_cols = vz.z_names
    xtx_n, xty_n, mx, my, xscale, yscale = _standardize_group(
        fm, z_cols, series, intercept, True
    )
    B = block_cd_fixed(xtx_n, xty_n, alpha, lam, sweeps)
    Borig = B * yscale[None, :] / xscale[:, None]
    a0 = my - Borig.T @ mx if intercept else np.zeros(len(series))
    return z_cols, list(series), Borig, a0
