"""Estimation-core oracles (SURVEY §5): ridge closed form (α=0),
orthonormal soft-threshold (α=1), KKT optimality at arbitrary (α,λ),
CV-fold arithmetic, and the distributed Gram pass vs numpy."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from var_elasticnet_bigdata_spark.ml.elastic_net import (
    blocked_fold_ids,
    cd_solve,
    cv_enet,
    enet_path,
    enet_solve_exact,
    kkt_violation,
    standardize,
)
from var_elasticnet_bigdata_spark.ml.gram import Moments, compute_moments


def make_moments(X: np.ndarray, y: np.ndarray, names=None) -> Moments:
    n, k = X.shape
    names = names or [f"x{i}" for i in range(k)] + ["y"]
    M = np.column_stack([np.ones(n), X, y])
    return Moments(cols=names, m=M.T @ M)


def random_problem(seed: int, n=200, k=8, rho=0.4):
    rng = np.random.default_rng(seed)
    cov = rho ** np.abs(np.subtract.outer(np.arange(k), np.arange(k)))
    X = rng.multivariate_normal(np.zeros(k), cov, size=n)
    beta = np.zeros(k)
    beta[: k // 2] = rng.normal(size=k // 2)
    y = X @ beta + rng.normal(scale=0.5, size=n)
    return X, y


def standardized(m: Moments, intercept: bool):
    """(1/n)·X̃'X̃ and (1/n)·X̃'ỹ of the single-response problem."""
    xtx_n, XTY_n, *_ = standardize(m, m.cols[:-1], ["y"], intercept)
    return xtx_n, XTY_n[:, 0]


def both_solvers(xtx_n, xty_n, alpha, lam):
    """The solution at (α, λ) from coordinate descent at a tight
    energy tolerance (diag·Δb² < 1e-24) and from the exact
    active-set solver with the eigendecomposition the path uses."""
    b_cd = cd_solve(
        xtx_n, xty_n[:, None], np.array([alpha]), np.array([lam]), tol=1e-24
    )[:, 0]
    w, Q = np.linalg.eigh(xtx_n)
    b_exact = enet_solve_exact(
        xtx_n, xty_n, alpha, lam, eig=(Q, np.maximum(w, 0.0))
    )
    assert b_exact is not None
    return {"cd": b_cd, "exact": b_exact}


def test_ridge_closed_form_alpha0():
    X, y = random_problem(1)
    m = make_moments(X, y)
    for intercept in (False, True):
        xtx_n, xty_n = standardized(m, intercept)
        for lam in (0.01, 0.1, 1.0):
            want = np.linalg.solve(xtx_n + lam * np.eye(len(xty_n)), xty_n)
            for b in both_solvers(xtx_n, xty_n, 0.0, lam).values():
                assert b == pytest.approx(want, rel=1e-7, abs=1e-9)


def test_lasso_orthonormal_soft_threshold():
    # orthonormal standardized design → b_j = S(xty_j, λ)
    rng = np.random.default_rng(2)
    n, k = 400, 5
    Q, _ = np.linalg.qr(rng.normal(size=(n, k)))
    X = Q * np.sqrt(n)  # unit variance columns, orthogonal
    y = rng.normal(size=n)
    xtx_n, xty_n = standardized(make_moments(X, y), intercept=False)
    lam = float(np.median(np.abs(xty_n)))
    want = np.sign(xty_n) * np.maximum(np.abs(xty_n) - lam, 0)
    want = want / xtx_n.diagonal()
    for b in both_solvers(xtx_n, xty_n, 1.0, lam).values():
        assert b == pytest.approx(want, rel=1e-6, abs=1e-10)


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    alpha=st.floats(0.05, 1.0),
    lam_frac=st.floats(0.02, 0.9),
    intercept=st.booleans(),
)
def test_kkt_optimality_property(seed, alpha, lam_frac, intercept):
    X, y = random_problem(seed, n=120, k=6)
    xtx_n, xty_n = standardized(make_moments(X, y), intercept)
    lmax = float(np.max(np.abs(xty_n))) / max(alpha, 1e-3)
    lam = lmax * lam_frac
    for b in both_solvers(xtx_n, xty_n, alpha, lam).values():
        assert kkt_violation(xtx_n, xty_n, b, alpha, lam) < 1e-7


def test_lasso_path_finite_on_singular_design():
    """α=1 on a design with more collinearity than rows support: the
    standardized Gram's smallest eigenvalue is ~−1e-16, clamped to 0,
    so with no ridge term (λ(1−α) = 0) the cached inverse would be
    infinite. The path must stay finite and optimal at every λ."""
    rng = np.random.default_rng(0)
    n, k = 17, 8
    X = rng.standard_normal((n, k))
    X[:, 1:] = 0.95 * X[:, :-1] + 0.05 * X[:, 1:]
    y = X[:, :2] @ [1, -0.5] + rng.standard_normal(n)
    m = make_moments(X, y)
    fit = enet_path(m, m.cols[:-1], ["y"], alpha=1.0, intercept=True, nlambda=30)["y"]
    assert np.all(np.isfinite(fit.coefs)) and np.all(np.isfinite(fit.intercepts))
    xtx_n, XTY_n, _, scale, *_ = standardize(m, m.cols[:-1], ["y"], True)
    for i, lam in enumerate(fit.lambdas):
        b = fit.coefs[:, i] * scale  # back to the standardized scale
        assert kkt_violation(xtx_n, XTY_n[:, 0], b, 1.0, lam) <= 1e-9, i


def test_path_warm_start_monotone_support():
    X, y = random_problem(3)
    fit = enet_path(make_moments(X, y), [f"x{i}" for i in range(8)], ["y"], alpha=1.0)["y"]
    # at lambda_max the model is empty; support grows roughly as λ shrinks
    assert np.all(fit.coefs[:, 0] == 0)
    assert np.count_nonzero(fit.coefs[:, -1]) >= np.count_nonzero(fit.coefs[:, 0])


def test_coef_interpolation():
    X, y = random_problem(4)
    fit = enet_path(make_moments(X, y), [f"x{i}" for i in range(8)], ["y"], alpha=0.5)["y"]
    mid = np.sqrt(fit.lambdas[10] * fit.lambdas[11])
    b, _ = fit.coef_at(mid)
    lo, _ = fit.coef_at(fit.lambdas[11])
    hi, _ = fit.coef_at(fit.lambdas[10])
    assert np.all((b >= np.minimum(lo, hi) - 1e-12) & (b <= np.maximum(lo, hi) + 1e-12))
    exact, _ = fit.coef_at(fit.lambdas[5])
    assert exact == pytest.approx(fit.coefs[:, 5])


def test_intercept_recovery():
    rng = np.random.default_rng(5)
    X = rng.normal(loc=3.0, size=(300, 4))
    beta = np.array([1.0, -2.0, 0.0, 0.5])
    y = 7.0 + X @ beta + rng.normal(scale=0.01, size=300)
    fit = enet_path(
        make_moments(X, y), [f"x{i}" for i in range(4)], ["y"],
        alpha=0.5, intercept=True,
    )["y"]
    b, a0 = fit.coef_at(fit.lambdas[-1])
    assert b == pytest.approx(beta, abs=0.02)
    assert a0 == pytest.approx(7.0, abs=0.1)


def test_blocked_fold_ids():
    f = blocked_fold_ids(97, 10)
    assert f[0] == 0 and f[9] == 0 and f[10] == 1
    assert f[-1] == 9  # short final block keeps its own id
    assert len(np.unique(f)) == 10
    # contiguity property (SURVEY §5): each fold is one run
    changes = int(np.sum(np.diff(f) != 0))
    assert changes == len(np.unique(f)) - 1


def test_cv_enet_selects_reasonable_lambda():
    X, y = random_problem(6, n=300, k=6)
    m_all = []
    folds = blocked_fold_ids(300, 30)
    fold_m = {}
    for fo in np.unique(folds):
        idx = folds == fo
        fold_m[int(fo)] = make_moments(X[idx], y[idx])
    fit = cv_enet(
        fold_m, [f"x{i}" for i in range(6)], ["y"], alpha=0.5, truncate=False
    )["y"]
    assert fit.lambda_min is not None
    assert fit.cv_mean is not None and np.all(np.isfinite(fit.cv_mean))
    # CV error at lambda_min beats the null-model error (y variance)
    b, a0 = fit.coef_at(fit.lambda_min)
    assert fit.cv_mean.min() < np.var(y)


def test_spark_moments_match_numpy(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(500, 3))
    y = X @ np.array([1.0, -1.0, 0.5]) + rng.normal(size=500)
    import pandas as pd

    pdf = pd.DataFrame(X, columns=["x0", "x1", "x2"])
    pdf["y"] = y
    pdf["fold"] = blocked_fold_ids(500, 100)
    sdf = spark.createDataFrame(pdf).repartition(7)
    m = compute_moments(sdf, ["x0", "x1", "x2", "y"])
    M = np.column_stack([np.ones(500), X, y])
    assert m.m == pytest.approx(M.T @ M, rel=1e-9)
    per_fold = compute_moments(sdf, ["x0", "x1", "x2", "y"], fold_col="fold")
    assert len(per_fold) == 5
    total = sum(f.m for f in per_fold.values())
    assert total == pytest.approx(M.T @ M, rel=1e-9)


def test_spark_moments_dropna(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"x0": [1.0, None, 3.0, 4.0], "y": [1.0, 2.0, None, 4.0]}
    )
    sdf = spark.createDataFrame(pdf)
    m = compute_moments(sdf, ["x0", "y"])
    assert m.n == 2  # na.omit semantics: rows 0 and 3 survive
    assert m.sums(["x0"])[0] == pytest.approx(5.0)


def test_kkt_support_enumeration_matches_solver():
    """The SQL oracles for ml_enet_var_coefs / ml_tune_best /
    ml_ezlasso_enet / ml_cv_lambda_min / ml_preselect solve the
    strictly convex elastic net by enumerating sign patterns and
    Cramer-solving the masked ridge system. Pin that construction (in
    numpy form) against enet_path on random problems: for every
    (alpha<1, lambda) the unique KKT-passing pattern's solution equals
    the converged solver."""
    import itertools

    import numpy as np

    from var_elasticnet_bigdata_spark.ml.elastic_net import enet_path
    from var_elasticnet_bigdata_spark.ml.local import moments_from_numpy

    rng = np.random.default_rng(17)
    for trial in range(20):
        n, k = 60, rng.integers(2, 5)
        X = rng.normal(size=(n, k))
        if trial % 3 == 0:  # collinear like a lag design
            X[:, -1] = 0.9 * X[:, 0] + 0.1 * X[:, -1]
        y = X @ rng.normal(size=k) * rng.uniform(0.1, 2) + rng.normal(size=n)
        alpha = float(rng.uniform(0.1, 0.9))
        lam = float(10 ** rng.uniform(-3, 0))
        names = [f"x{i}" for i in range(k)] + ["y"]
        m = moments_from_numpy(np.column_stack([X, y]), names)
        fit = enet_path(
            m, names[:-1], ["y"], alpha=alpha, lambdas=np.array([lam]),
            intercept=False,
        )["y"]
        b_solver = fit.coefs[:, 0]
        # enumeration on the standardized problem (uncentered scale,
        # matching intercept=False)
        sc = np.sqrt((X * X).sum(0) / n)
        Xs = X / sc
        C = Xs.T @ Xs / n
        r = Xs.T @ y / n
        gam, ridge = lam * alpha, lam * (1 - alpha)
        found = None
        for signs in itertools.product((-1, 0, 1), repeat=k):
            s = np.array(signs)
            M = np.zeros((k, k))
            for i in range(k):
                for j in range(k):
                    if i == j:
                        M[i, j] = C[i, i] + ridge if s[i] != 0 else 1.0
                    elif s[i] != 0 and s[j] != 0:
                        M[i, j] = C[i, j]
            rh = np.where(s != 0, r - gam * s, 0.0)
            b = np.linalg.solve(M, rh)
            ok = True
            for i in range(k):
                if s[i] != 0:
                    ok &= b[i] * s[i] > 0
                else:
                    ok &= abs(r[i] - C[i] @ b) <= gam + 1e-12
            if ok:
                found = b / sc
                break
        assert found is not None, (trial, alpha, lam)
        assert np.allclose(found, b_solver, atol=1e-7), (
            trial, alpha, lam, found, b_solver,
        )
