"""The numpy twin of the Spark VAR design chain, for fits inside
``applyInPandas`` workers (the rolling-origin harness) and on the
driver: each origin's training slice is small (the estimation frontier
is ~hundreds of rows × K series even when the raw data is 100 TB —
it's post-aggregation), so the fit runs locally.

- ``var_design``: lag embedding + ``na.omit`` on a (T, K) matrix, the
  twin of ``gram.var_moments``' embed → ``VarZ.complete`` steps;
- ``moments_from_numpy`` / ``fold_moments_from_numpy``: the twin of
  ``compute_moments``;
- ``recursive_forecast``: the one h-step VAR forecast loop.

The VAR fits on a matrix are ``ml.var_model.fit_enet_var_local`` and
``ml.group_enet.fit_group_enet_var_local``; both return the same
``EnetVARModel`` as the Spark fits. One code path, two data sources
(SURVEY §3.2 Plan B).
"""

from __future__ import annotations

import numpy as np

from ..operators.lag_embed import lag_col_name
from .gram import Moments


def var_design(
    y: np.ndarray, series: list[str], p: int
) -> tuple[np.ndarray, list[str]]:
    """Lag-embed a (T, K) matrix at order p (``VAR.Z``) and drop rows
    with a NaN (``na.omit``, Main.R:196). Returns ``data`` = [Z, Y]
    row-aligned and the lag column names ``z_names`` (all series at
    lag 1, then lag 2, …); the response columns follow in ``series``
    order."""
    T = len(y)
    Z = np.column_stack([y[p - i : T - i] for i in range(1, p + 1)])
    data = np.column_stack([Z, y[p:]])
    z_names = [lag_col_name(s, i) for i in range(1, p + 1) for s in series]
    return data[~np.isnan(data).any(axis=1)], z_names


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


def recursive_forecast(
    B: np.ndarray, hist: np.ndarray, p: int, intercept: bool, n_ahead: int
) -> np.ndarray:
    """Recursive h-step VAR forecast (enetVAR.R:128-154): Z_ahead is
    the last p rows of ``hist`` (oldest→newest) newest-first,
    flattened series-major to match the ``<var>.l<i>`` row order of
    ``B`` (after its intercept row when ``intercept``); each step's
    forecast is appended and fed to the next."""
    out = np.empty((n_ahead, B.shape[1]))
    for i in range(n_ahead):
        z = hist[::-1][:p].ravel()
        if intercept:
            z = np.concatenate([[1.0], z])
        out[i] = z @ B
        hist = np.vstack([hist, out[i]])
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
