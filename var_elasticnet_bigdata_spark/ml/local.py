"""Driver/executor-local estimation on numpy arrays.

These are the in-worker counterparts of ``fit_enet_var`` used inside
``applyInPandas`` workers by the rolling-origin harness: each origin's
training slice is small (the estimation frontier is ~hundreds of rows
× K series even when the raw data is 100 TB — it's post-aggregation),
so the fit runs locally with the SAME elastic-net path solver the
distributed Gram path uses. One code path, two data sources (SURVEY
§3.2 Plan B).
"""

from __future__ import annotations

import numpy as np

from .elastic_net import EnetFit, blocked_fold_ids, cv_enet, enet_path
from .gram import Moments


def moments_from_numpy(X: np.ndarray, names: list[str]) -> Moments:
    """Moment matrix over [1, X] for local fitting."""
    M = np.column_stack([np.ones(len(X)), X])
    return Moments(cols=list(names), m=M.T @ M)


def fold_moments_from_numpy(
    X: np.ndarray, names: list[str], foldid: np.ndarray
) -> dict[int, Moments]:
    out: dict[int, Moments] = {}
    for f in np.unique(foldid):
        out[int(f)] = moments_from_numpy(X[foldid == f], names)
    return out


class LocalEnetVAR:
    """enetVAR on a numpy (T, K) matrix — reference enetVAR.R:52-76
    semantics: shared lag design, per-equation elastic nets, fixed-λ
    ``seq(2λ, λ/2, 10)`` path or blocked-fold CV with λ.min."""

    def __init__(
        self,
        y: np.ndarray,
        series: list[str],
        p: int,
        alpha: float | np.ndarray = 0.4,
        lam: float | np.ndarray | None = None,
        intercept: bool = False,
        cv_block: int = 10,
        lambda_rule: str = "min",
    ) -> None:
        T, K = y.shape
        assert K == len(series)
        self.series = list(series)
        self.p = p
        self.intercept = intercept
        self.y = y
        # lag-embed: response rows p..T-1; Z column order = l1 block, l2 block…
        Z = np.column_stack([y[p - i : T - i] for i in range(1, p + 1)])
        Yp = y[p:]
        self.z_names = [f"{s}.l{i}" for i in range(1, p + 1) for s in series]
        y_names = [f"__y_{s}" for s in series]
        names = self.z_names + y_names
        data = np.column_stack([Z, Yp])
        keep = ~np.isnan(data).any(axis=1)
        data = data[keep]
        self.t_rows = len(data)
        if lam is None:
            fm = fold_moments_from_numpy(
                data, names, blocked_fold_ids(self.t_rows, cv_block)
            )
            fits = cv_enet(fm, self.z_names, y_names, alpha, intercept)
            lams = [
                f.extras["lambda_1se"] if lambda_rule == "1se" else f.lambda_min
                for f in fits.values()
            ]
        else:
            lams = np.broadcast_to(np.asarray(lam, dtype=float), (K,))
            fits = enet_path(
                moments_from_numpy(data, names), self.z_names, y_names,
                alpha, np.linspace(2 * lams, lams / 2, 10), intercept,
            )
        self.fits: dict[str, EnetFit] = dict(zip(series, fits.values()))
        self.lambda_used = {s: float(v) for s, v in zip(series, lams)}

    def coef_matrix(self) -> np.ndarray:
        cols = []
        for s in self.series:
            b, a0 = self.fits[s].coef_at(self.lambda_used[s])
            cols.append(np.concatenate([[a0], b]) if self.intercept else b)
        return np.column_stack(cols)

    def predict(self, n_ahead: int = 1) -> np.ndarray:
        """Recursive h-step (enetVAR.R:128-154)."""
        B = self.coef_matrix()
        hist = self.y[~np.isnan(self.y).any(axis=1)]
        out = np.empty((n_ahead, len(self.series)))
        for i in range(n_ahead):
            z = hist[::-1][: self.p].ravel()
            if self.intercept:
                z = np.concatenate([[1.0], z])
            yhat = z @ B
            out[i] = yhat
            hist = np.vstack([hist, yhat])
        return out


class LocalAR1:
    """AR(1) benchmark (reference ``ar1_train`` inner fit,
    enetVAR.R:583-585): R ``arima(order=c(1,0,0), include.mean=const,
    transform.pars=FALSE)``.

    Estimation here is conditional least squares (OLS of y_t on
    y_{t-1} [+ const]) — the CSS part of R's CSS-ML; the exact-ML
    refinement differs O(1/T) (documented tolerance, SURVEY M9).
    Prediction is the exact AR(1) recursion ŷ_{T+h} = μ + φʰ(y_T − μ).
    """

    def __init__(self, y: np.ndarray, const: bool = False) -> None:
        y = y[~np.isnan(y)]
        x, z = y[1:], y[:-1]
        if const:
            X = np.column_stack([np.ones(len(z)), z])
            beta, *_ = np.linalg.lstsq(X, x, rcond=None)
            self.mu = beta[0] / (1 - beta[1]) if beta[1] != 1 else 0.0
            self.phi = beta[1]
        else:
            self.phi = float(z @ x / (z @ z)) if z @ z > 0 else 0.0
            self.mu = 0.0
        self.last = float(y[-1])

    def predict(self, n_ahead: int) -> np.ndarray:
        h = np.arange(1, n_ahead + 1)
        return self.mu + (self.phi**h) * (self.last - self.mu)
