"""Pathwise elastic net on moment matrices, every equation at once.

Solves the glmnet-family gaussian objective (the reference's
``.enetVAR`` core, enetVAR.R:10-37, which calls glmnet's Fortran
coordinate descent) for each response ``y_j`` of a VAR:

    min_b  (1/2n)·Σ(y_j − Xb)²  +  λ_j·( α_j·‖b‖₁ + (1−α_j)/2·‖b‖₂² )

entirely from the moment matrix ``M'M`` over ``[1, X, y_1..y_K]`` — so
the fit is EXACT given one distributed Gram pass, independent of data
size (SURVEY §4.3 "Gram-matrix trick"). The K equations share one
design, hence one standardized Gram and one eigendecomposition. There
is one solver: a caller with a single response passes ``[y]``.

glmnet semantics replicated (public glmnet docs/source behavior):
- X scaled to unit variance with denominator n; coefficients
  un-standardized on return.
- ``intercept=True``: X and y centered (intercept recovered as
  ȳ − β'x̄); ``intercept=False``: no centering, scale = √E[x²]
  (uncentered second moment — glmnet's intr=0 behavior).
- λ path: ``lambda_max = max_j |⟨x̃_j, ỹ⟩|/(n·max(α, 1e-3))``,
  ``nlambda`` log-spaced down to ``lambda_max·1e-4`` (``1e-2`` when
  nobs < nvars), warm starts down the path.
- ``truncate``: glmnet's fdev/devmax early exit from the path; off
  for user-supplied λ, where glmnet fits every requested point.

Each (λ, equation) is solved exactly by active-set continuation
(``enet_solve_exact``); coordinate descent under glmnet's energy
criterion (``cd_solve``) is the fallback when the support/sign loop
does not settle.

Verification oracles (tests/test_elastic_net.py): ridge closed form
at α=0, soft-threshold closed form on orthonormal designs at α=1,
and KKT optimality (``kkt_violation``) at any (α, λ), each checked
against both solvers.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .gram import Moments, moments_total


@dataclass
class EnetFit:
    """Per-equation elastic-net path (the reference's glmnet fit
    object, enetVAR.R:23-35): coefficients at every λ on the original
    data scale + the intercepts."""

    x_cols: list[str]
    y_col: str
    alpha: float
    lambdas: np.ndarray
    coefs: np.ndarray  # (k, nlambda) original scale
    intercepts: np.ndarray  # (nlambda,)
    n_fit: int  # λ points computed; a truncated path repeats the last
    cv_mean: np.ndarray | None = None  # mean CV MSE per λ
    cv_se: np.ndarray | None = None
    lambda_min: float | None = None
    extras: dict = field(default_factory=dict)

    def coef_at(self, lam: float) -> tuple[np.ndarray, float]:
        """Coefficients at λ: exact if on the path, else linear
        interpolation in λ (glmnet ``coef(s=...)`` behavior,
        ``exact=FALSE``)."""
        ls = self.lambdas
        if lam >= ls[0]:
            return self.coefs[:, 0], float(self.intercepts[0])
        if lam <= ls[-1]:
            return self.coefs[:, -1], float(self.intercepts[-1])
        i = int(np.searchsorted(-ls, -lam, side="left"))
        l0, l1 = ls[i - 1], ls[i]
        w = (lam - l1) / (l0 - l1)
        return (
            w * self.coefs[:, i - 1] + (1 - w) * self.coefs[:, i],
            float(w * self.intercepts[i - 1] + (1 - w) * self.intercepts[i]),
        )


def standardize(
    moments: Moments,
    x_cols: list[str],
    y_cols: list[str],
    intercept: bool,
):
    """Shared-x standardization: one x scale, per-equation y terms.
    Returns (xtx_n (k,k), XTY_n (k,K), x_mean, x_scale, y_means,
    yty_n (K,) — per-equation (1/n)ỹ'ỹ for deviance tracking)."""
    n = moments.n
    k = len(x_cols)
    sx = moments.sums(x_cols)
    sy = moments.sums(y_cols)
    Sxx = moments.cross(x_cols, x_cols)
    Sxy = moments.cross(x_cols, y_cols)
    Syy = moments.cross(y_cols, y_cols).diagonal()
    if intercept:
        mx, my = sx / n, sy / n
    else:
        mx, my = np.zeros(k), np.zeros(len(y_cols))
    # second moment about mx (centered iff intercept)
    var_x = Sxx.diagonal() / n - mx**2
    scale = np.sqrt(np.maximum(var_x, 0.0))
    scale = np.where(scale <= 0, 1.0, scale)
    xtx_n = (Sxx / n - np.outer(mx, mx)) / np.outer(scale, scale)
    XTY_n = (Sxy / n - np.outer(mx, my)) / scale[:, None]
    yty_n = Syy / n - my**2
    return xtx_n, XTY_n, mx, scale, my, yty_n


def cd_solve(
    xtx_n: np.ndarray,
    XTY_n: np.ndarray,
    alphas: np.ndarray,  # (K,)
    lams: np.ndarray,  # (K,) — per-equation λ at this path step
    B0: np.ndarray | None = None,
    tol: float | np.ndarray = 1e-7,
    max_iter: int = 10_000,
) -> np.ndarray:
    """Cyclic coordinate descent over coordinates, vectorized over
    equations, with glmnet's active-set strategy: full sweep → iterate
    the active rows to convergence → full sweep to verify (repeat).

    Convergence is glmnet's criterion (glmnet.control ``thresh``):
    ``max_j diag_j·Δb_j² < tol`` on the standardized problem — an
    energy measure, NOT max|Δb|. With the default 1e-7 this is what
    the Fortran reference enforces; it keeps CD fast on collinear
    designs where |Δb|-style tolerances stall for thousands of
    sweeps chasing digits the objective can't resolve.

    ``tol`` may be a per-equation vector: glmnet's Fortran scales y
    to unit variance, so its ``thresh`` is measured RELATIVE to each
    equation's null variance — parity requires
    ``tol_j = thresh · var(ỹ_j)`` (see glmnet_cd_tol)."""
    k, K = XTY_n.shape
    B = np.zeros((k, K)) if B0 is None else B0
    diag = xtx_n.diagonal()
    den = diag[:, None] + (lams * (1.0 - alphas))[None, :]
    g = lams * alphas
    R = XTY_n - xtx_n @ B
    tol_vec = np.broadcast_to(np.asarray(tol, dtype=float), (K,))

    def sweep(rows) -> float:
        # delta is the max over (coord, equation) of diag·Δb²/tol —
        # converged when < 1
        delta = 0.0
        for j in rows:
            bj = B[j]
            z = R[j] + diag[j] * bj
            bnew = np.sign(z) * np.maximum(np.abs(z) - g, 0.0) / den[j]
            d = bnew - bj
            if np.any(d):
                np.subtract(R, np.outer(xtx_n[:, j], d), out=R)
                B[j] = bnew
                m = float(np.max(float(diag[j]) * d * d / tol_vec))
                if m > delta:
                    delta = m
        return delta

    all_rows = range(k)
    for _ in range(max_iter):
        if sweep(all_rows) < 1.0:
            break
        active = np.flatnonzero(np.any(B != 0, axis=1))
        for _ in range(max_iter):
            if sweep(active) < 1.0:
                break
    return B


def glmnet_cd_tol(yty_n: np.ndarray, thresh: float = 1e-7) -> np.ndarray:
    """glmnet-equivalent per-equation CD tolerance: the Fortran works
    on y scaled to unit variance, so ``thresh`` (default 1e-7) is
    relative to var(ỹ). On the unscaled-y problem the equivalent
    absolute energy tolerance is ``thresh · var(ỹ_j)``."""
    return thresh * np.maximum(np.asarray(yty_n, dtype=float), 1e-300)


def enet_solve_exact(
    xtx: np.ndarray,
    xty: np.ndarray,
    alpha: float,
    lam: float,
    b0: np.ndarray | None = None,
    tol: float = 1e-9,
    max_outer: int = 60,
    eig: tuple[np.ndarray, np.ndarray] | None = None,
) -> np.ndarray | None:
    """Exact elastic-net solve by active-set continuation
    (feature-sign search, Lee et al. 2006): given the support and
    signs, the solution is the linear system

        (X̃'X̃/n + λ(1−α)I)_A b_A = x̃'ỹ/n|_A − λα·s_A ;

    iterate {solve on support with current signs → drop sign-flipped
    coords → add KKT violators} until the KKT conditions hold.
    Immune to the ill-conditioning that stalls coordinate descent
    (κ(X'X) ~ 1e6 on lag designs of persistent macro series — CD
    needed ~700 sweeps/λ there; this needs ~2 solves).

    Returns None if the support/sign loop fails to settle (caller
    falls back to CD)."""
    k = len(xty)
    g = lam * alpha
    ridge = lam * (1.0 - alpha)
    b = np.zeros(k) if b0 is None else b0.copy()
    s = np.sign(b)
    active = b != 0

    # Near-full supports dominate the small-λ path tail (|A| ≈ k−5 of
    # k): a fresh LU per solve is O(|A|³) ~1 ms. Instead, form
    # Minv = (xtx + ridge·I)⁻¹ ONCE per (λ, equation) from the cached
    # eigendecomposition (two k×k matmuls), then each support solve
    # with dropped set D = Aᶜ is a |D|×|D| Schur complement: enforce
    # x_D = 0 by a compensation vector supported on D. Only when the
    # matrix is invertible: at α=1 (ridge 0) a singular design's
    # clamped eigenvalue 0 would make Minv inf and the solves NaN.
    minv: np.ndarray | None = None
    if eig is not None:
        Q, w = eig
        if w.min() + ridge > 0:
            minv = (Q * (1.0 / (w + ridge))) @ Q.T

    def _direct(idx: np.ndarray) -> np.ndarray:
        M = xtx[np.ix_(idx, idx)].copy()
        M.flat[:: len(idx) + 1] += ridge
        rhs = xty[idx] - g * s[idx]
        try:
            return np.linalg.solve(M, rhs)
        except np.linalg.LinAlgError:
            return np.linalg.lstsq(M, rhs, rcond=None)[0]

    def solve_support(idx: np.ndarray) -> np.ndarray:
        nA = len(idx)
        if minv is not None and nA == k:
            rhs = xty - g * s
            return minv @ rhs
        if minv is not None and nA > (3 * k) // 4:
            drop = np.setdiff1d(np.arange(k), idx, assume_unique=True)
            rhs = np.zeros(k)
            rhs[idx] = xty[idx] - g * s[idx]
            t = minv @ rhs
            S = minv[np.ix_(drop, drop)]
            try:
                mu = np.linalg.solve(S, t[drop])
            except np.linalg.LinAlgError:
                return _direct(idx)
            x = t - minv[:, drop] @ mu
            sol = x[idx]
            # O(k²) residual guard: tiny-ridge tails can make Minv
            # numerically rough; fall back to the direct LU if so
            full = np.zeros(k)
            full[idx] = sol
            res = (xtx @ full)[idx] + ridge * sol - rhs[idx]
            if np.max(np.abs(res)) > 1e-8 * max(1.0, np.max(np.abs(rhs[idx]))):
                return _direct(idx)
            return sol
        return _direct(idx)

    for outer in range(max_outer):
        if not active.any():
            viol = np.abs(xty) - g
            j = int(np.argmax(viol))
            if viol[j] <= tol:
                return np.zeros(k)
            active[j] = True
            s[j] = np.sign(xty[j])
        # sign-consistent solve on the support (drop flips)
        ok = False
        for _ in range(max_outer):
            idx = np.flatnonzero(active)
            sol = solve_support(idx)
            flipped = np.sign(sol) * s[idx] < 0
            if not flipped.any():
                b[:] = 0.0
                b[idx] = sol
                ok = True
                break
            drop = idx[flipped]
            active[drop] = False
            s[drop] = 0.0
            if not active.any():
                break
        if not ok and active.any():
            return None
        # KKT on the inactive set
        grad = xty - xtx @ b
        inact = ~active
        viol = np.abs(grad[inact]) - g
        if viol.size == 0 or viol.max() <= max(tol, 1e-12):
            return b
        inact_idx = np.flatnonzero(inact)
        if outer < 3:
            # batch admission: all violators at once (spurious ones
            # are dropped by the sign-flip pass)
            adm = inact_idx[viol > max(tol, 1e-12)]
        else:
            # cycling guard: one at a time is provably progressing
            adm = inact_idx[[int(np.argmax(viol))]]
        active[adm] = True
        s[adm] = np.sign(grad[adm])
    return None


def enet_path(
    moments: Moments,
    x_cols: list[str],
    y_cols: list[str],
    alpha: float | np.ndarray = 0.4,
    lambdas: np.ndarray | None = None,
    intercept: bool = False,
    nlambda: int = 100,
    truncate: bool = False,
) -> dict[str, EnetFit]:
    """Warm-started λ path for every equation ``y_cols`` of one shared
    design; returns ``{y_col: EnetFit}``.

    ``alpha`` is one value or one per equation. ``lambdas`` is one
    sequence shared by all equations, an ``(nlambda, K)`` array of
    per-equation sequences, or None for glmnet's data-derived path;
    each sequence is fit in descending order.

    Each (λ, equation) is an active-set continuation solve — exact
    given the support (KKT violation ~1e-15), warm-started down the
    path so supports move little between steps. On the reference's
    real macro data (κ(X'X) ~ 1e6) this is ~40× faster than glmnet's
    coordinate descent (0.34 s vs 14 s per 100-λ 30-equation path)
    AND strictly more accurate: CD under glmnet's energy criterion
    stalls at KKT violations ~3e-4 there. CD is the per-(λ, equation)
    fallback when the support/sign loop fails to settle.

    ``truncate=True`` applies glmnet's path-truncation rules per
    equation (`fdev`/`devmax` in glmnet.control): stop descending λ
    once the fractional improvement in deviance explained drops below
    1e-5 (or R² > 0.999). This is both parity — cv.glmnet can only
    select λ.min among COMPUTED path points — and the speed path: the
    skipped tail is exactly the ill-conditioned near-unregularized
    regime. Frozen entries repeat the last computed coefficients;
    ``EnetFit.n_fit`` marks the truncation. ``truncate=False`` is
    glmnet's behavior for USER-SUPPLIED λ (flmin ≥ 1 in the Fortran):
    every requested λ is fit."""
    xtx_n, XTY_n, mx, scale, my, yty_n = standardize(
        moments, x_cols, y_cols, intercept
    )
    k, K = XTY_n.shape
    alphas = np.broadcast_to(np.asarray(alpha, dtype=float), (K,))
    if lambdas is None:
        # glmnet: lambda.min.ratio = 0.01 if nobs < nvars else 1e-4.
        # The reference feeds glmnet a design that INCLUDES a literal
        # constant column when intercept=TRUE (VAR.Z, enetVAR.R:303-306)
        # — glmnet zeroes its coefficient (zero-variance exclusion) but
        # still counts it in nvars, so the ratio boundary sits at
        # k+1 there. Mirror that for exact parity.
        ratio = 1e-2 if moments.n < k + (1 if intercept else 0) else 1e-4
        lmax = np.max(np.abs(XTY_n), axis=0) / np.maximum(alphas, 1e-3)
        lmax = np.where(lmax <= 0, 1.0, lmax)
        steps = np.linspace(0, 1, nlambda)[:, None]
        lams = np.exp(
            np.log(lmax)[None, :] * (1 - steps)
            + np.log(lmax * ratio)[None, :] * steps
        )
    else:
        lams = np.asarray(lambdas, dtype=float)
        lams = -np.sort(-lams.reshape(len(lams), -1), axis=0)
        lams = np.array(np.broadcast_to(lams, (len(lams), K)))
    nl = lams.shape[0]
    coefs = np.zeros((k, K, nl))
    intercepts = np.zeros((K, nl))
    B = np.zeros((k, K))
    # one eigendecomposition per moment set → O(k²) full-support solves
    w_eig, Q_eig = np.linalg.eigh(xtx_n)
    eig = (Q_eig, np.maximum(w_eig, 0.0))
    stop_idx = np.full(K, nl, dtype=int)
    prev_dev = np.zeros(K)
    fdev, devmax = 1e-5, 0.999
    # glmnet thresh=1e-7, scaled per equation to the unscaled-y problem
    cd_tol = glmnet_cd_tol(yty_n)
    for i in range(nl):
        act = np.flatnonzero(stop_idx == nl)
        if i > 0:
            frozen = np.flatnonzero(stop_idx < nl)
            coefs[:, frozen, i] = coefs[:, frozen, i - 1]
            intercepts[frozen, i] = intercepts[frozen, i - 1]
        for j in act:
            sol = enet_solve_exact(
                xtx_n, XTY_n[:, j], float(alphas[j]), float(lams[i, j]),
                b0=B[:, j], eig=eig,
            )
            if sol is None:
                # fall back to CD under glmnet's ENERGY criterion
                # (diag·Δb² < 1e-7), not a max|Δb| tolerance — on
                # κ~1e9 lag designs the latter grinds ~18 s per
                # call chasing digits the objective can't resolve
                sol = cd_solve(
                    xtx_n, XTY_n[:, j : j + 1], alphas[j : j + 1],
                    lams[i, j : j + 1],
                    B0=B[:, j : j + 1].copy(), tol=cd_tol[j : j + 1],
                )[:, 0]
            B[:, j] = sol
            Borig_j = sol / scale
            coefs[:, j, i] = Borig_j
            if intercept:
                intercepts[j, i] = my[j] - float(Borig_j @ mx)
            if yty_n[j] > 0:
                rss = (
                    yty_n[j]
                    - 2.0 * float(sol @ XTY_n[:, j])
                    + float(sol @ (xtx_n @ sol))
                )
                dev = 1.0 - rss / yty_n[j]
                if truncate and i > 0 and (
                    dev - prev_dev[j] < fdev * dev or dev > devmax
                ):
                    stop_idx[j] = i + 1
                prev_dev[j] = dev
    return {
        yc: EnetFit(
            x_cols=list(x_cols),
            y_col=yc,
            alpha=float(alphas[j]),
            lambdas=lams[:, j],
            coefs=coefs[:, j, :],
            intercepts=intercepts[j],
            n_fit=int(stop_idx[j]),
        )
        for j, yc in enumerate(y_cols)
    }


def _heldout_mse(
    fold_moments: dict[int, Moments],
    total: Moments,
    x_cols: list[str],
    y_cols: list[str],
    fit_train,
) -> tuple[np.ndarray, np.ndarray]:
    """The CV fold loop both penalties share: for each fold (in fold
    order) ``fit_train(total − fold)`` returns ``{y_col: EnetFit}`` on
    the full fit's λ sequence, and every equation's held-out MSE at
    every λ is computed exactly from the fold's own moment matrix:

        MSE_f(b) = (1/n_f)·(y'y − 2·b'X'y + b'X'X b) over fold f

    (with the intercept folded in via the constant column). Returns
    ``errs`` (nfolds, nlambda, K) and the fold sizes."""
    errs, w = [], []  # per-fold MSE (nlambda, K), fold sizes
    for _, fm in sorted(fold_moments.items()):
        folds = fit_train(total.minus(fm))
        fc = np.stack([folds[yc].coefs for yc in y_cols], axis=1)
        fi0 = np.stack([folds[yc].intercepts for yc in y_cols])
        n_f = fm.n
        w.append(n_f)
        Sxx = fm.cross(x_cols, x_cols)
        Sxy = fm.cross(x_cols, y_cols)
        syy = fm.cross(y_cols, y_cols).diagonal()
        sx = fm.sums(x_cols)
        sy = fm.sums(y_cols)
        e = np.zeros((fc.shape[2], len(y_cols)))
        for li in range(len(e)):
            Bl = fc[:, :, li]  # (k, K)
            a0 = fi0[:, li]
            sse = (
                syy
                - 2.0 * np.sum(Bl * Sxy, axis=0)
                + np.sum(Bl * (Sxx @ Bl), axis=0)
                + n_f * a0**2
                + 2.0 * a0 * (Bl.T @ sx - sy)
            )
            e[li] = sse / n_f
        errs.append(e)
    return np.stack(errs), np.array(w, dtype=float)


def cv_enet(
    fold_moments: dict[int, Moments],
    x_cols: list[str],
    y_cols: list[str],
    alpha: float | np.ndarray = 0.4,
    intercept: bool = False,
    nlambda: int = 100,
    truncate: bool = True,
) -> dict[str, EnetFit]:
    """cv.glmnet for every equation from per-fold moments: ONE
    distributed pass gave {fold → moments}; each fold's held-out MSE
    is computed exactly from its own moment matrix
    (``_heldout_mse``). Mirrors
    the reference's blocked-fold cv.glmnet (enetVAR.R:27-35) with
    ``lambda.min`` selection (and glmnet's ``lambda.1se`` in
    ``extras``).

    ``truncate`` applies to the full fit and to the fold fits alike.
    glmnet fits every fold at every λ of the full fit's sequence
    (user-supplied λ, no fdev exit): ``truncate=False`` is that.
    ``truncate=True`` keeps the fdev stop in the fold fits as a speed
    shortcut — past the stop the held-out curve is flat or rising
    (deep-overfit regime) and argmin takes the first minimum, while
    fold fits run ~8× faster; λ.min is then chosen among the points
    the full fit computed."""
    total = moments_total(fold_moments)
    fits = enet_path(
        total, x_cols, y_cols, alpha, intercept=intercept, nlambda=nlambda,
        truncate=truncate,
    )
    lams = np.column_stack([fits[yc].lambdas for yc in y_cols])
    errs, w = _heldout_mse(
        fold_moments, total, x_cols, y_cols,
        lambda train: enet_path(
            train, x_cols, y_cols, alpha, lams, intercept, truncate=truncate,
        ),
    )
    # cv.glmnet (grouped=TRUE): cvm = fold-size-weighted mean of the
    # per-fold MSEs — the pooled per-observation mean, NOT the
    # unweighted mean of fold means (which over-weights the short
    # last block of the contiguous time folds).
    wn = w / w.sum()
    cv_mean = np.tensordot(wn, errs, axes=1)  # (nlambda, K)
    # cvsd (glmnet cvstats): weighted sd of fold MSEs over nfolds−1
    cv_sd = np.sqrt(
        np.tensordot(wn, (errs - cv_mean[None, :, :]) ** 2, axes=1)
        / max(len(w) - 1, 1)
    )
    for j, yc in enumerate(y_cols):
        fit = fits[yc]
        # λ.min only among COMPUTED path points (glmnet truncation)
        cvm = cv_mean[: fit.n_fit, j]
        li = int(np.argmin(cvm))
        # λ.1se: largest λ with cvm <= cvm[min] + cvsd[min] (getmin)
        li_1se = int(np.flatnonzero(cvm <= cvm[li] + cv_sd[li, j])[0])
        fit.cv_mean = cv_mean[:, j]
        fit.cv_se = cv_sd[:, j]
        fit.lambda_min = float(fit.lambdas[li])
        fit.extras["lambda_1se"] = float(fit.lambdas[li_1se])
    return fits


def blocked_fold_ids(n: int, block: int = 10) -> np.ndarray:
    """The reference's contiguous time-series CV folds
    (enetVAR.R:27-35): fold id = row index div block, identical
    across equations 'for comparability'. The final short block keeps
    its own id (matching ``rep(1:ceiling(n/10), each=10)[1:n]``)."""
    return np.arange(n) // block


def kkt_violation(
    xtx_n: np.ndarray, xty_n: np.ndarray, b: np.ndarray, alpha: float, lam: float
) -> float:
    """Max KKT violation at (α, λ) on the standardized scale — the
    optimality oracle used by the tests: for active coords
    grad = λα·sign(b); for zeros |grad| ≤ λα."""
    grad = xty_n - xtx_n @ b - lam * (1 - alpha) * b
    v = np.where(
        b != 0,
        np.abs(grad - lam * alpha * np.sign(b)),
        np.maximum(np.abs(grad) - lam * alpha, 0.0),
    )
    return float(v.max(initial=0.0))
