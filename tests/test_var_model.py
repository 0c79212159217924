"""EnetVAR oracles: coefficient recovery on simulated VARs, recursion
vs numpy, moment-based Σ̂ vs row-level residuals, per-equation dof vs
the reference's kron formulation, lag selection, Q9 faithful mode, and
the Spark fit against the numpy fit on a ragged-start matrix."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from var_elasticnet_bigdata_spark.ml.var_model import (
    EnetVARModel,
    _tic_matrix,
    enet_var_preselect,
    enet_var_select,
    fit_enet_var,
    fit_enet_var_local,
    heuristic_lag_bounds,
    max_lag,
    residual_frame,
)


def simulate_var1(T=400, seed=0, coupled=True):
    """VAR(1): y1 depends on y1,y2 lags; y3 is noise."""
    rng = np.random.default_rng(seed)
    A = np.array([[0.5, 0.3, 0.0], [0.0, 0.4, 0.0], [0.0, 0.0, 0.2]])
    if not coupled:
        A[0, 1] = 0.0
    y = np.zeros((T, 3))
    for t in range(1, T):
        y[t] = y[t - 1] @ A.T + rng.normal(scale=0.3, size=3)
    return y, A


def to_wide(spark, y, names=("y1", "y2", "y3")):
    T = len(y)
    pdf = pd.DataFrame(y, columns=list(names))
    pdf.insert(
        0,
        "obs_date",
        [dt.date(2000, 1, 1) + dt.timedelta(days=7 * i) for i in range(T)],
    )
    return spark.createDataFrame(pdf)


def test_var1_coefficient_recovery(spark):
    y, A = simulate_var1(T=1500)
    wide = to_wide(spark, y)
    m = fit_enet_var(wide, ["y1", "y2", "y3"], p=1, alpha=0.5, lam=1e-4)
    B = m.coef_matrix()  # rows = y1.l1,y2.l1,y3.l1 ; cols = equations
    # equation j's coefficients ≈ row j of A
    for j in range(3):
        assert B[:, j] == pytest.approx(A[j], abs=0.06)


def test_predict_recursion_matches_numpy(spark):
    y, _ = simulate_var1(T=200, seed=1)
    wide = to_wide(spark, y)
    m = fit_enet_var(wide, ["y1", "y2", "y3"], p=2, alpha=0.4, lam=0.01)
    B = m.coef_matrix()
    got = m.predict(n_ahead=4)
    hist = y.copy()
    for _ in range(4):
        z = hist[::-1][:2].ravel()
        yhat = z @ B
        hist = np.vstack([hist, yhat])
    assert got == pytest.approx(hist[-4:], rel=1e-10)


def test_predict_with_intercept(spark):
    rng = np.random.default_rng(3)
    y = np.cumsum(rng.normal(size=(150, 2)), axis=0) + 10.0
    wide = to_wide(spark, y, names=("a", "b"))
    m = fit_enet_var(wide, ["a", "b"], p=1, alpha=0.3, lam=0.05, intercept=True)
    assert m.row_names[0] == "intercept"
    B = m.coef_matrix()
    z = np.concatenate([[1.0], y[-1]])
    assert m.predict(1)[0] == pytest.approx(z @ B, rel=1e-12)


def test_sigma_hat_matches_rowlevel_residuals(spark):
    y, _ = simulate_var1(T=150, seed=2)
    wide = to_wide(spark, y)
    for intercept in (False, True):
        m = fit_enet_var(
            wide, ["y1", "y2", "y3"], p=1, alpha=0.4, lam=0.02, intercept=intercept
        )
        B = m.coef_matrix()
        # numpy residuals on the embedded frame
        Y = y[1:]
        Z = y[:-1]
        if intercept:
            Z = np.column_stack([np.ones(len(Z)), Z])
        U = Y - Z @ B
        want = U.T @ U / len(Y)
        got = m._sigma_hat(B)
        assert got == pytest.approx(want, rel=1e-8, abs=1e-10)
        # residual_frame agrees row-wise
        rf = residual_frame(m).orderBy("obs_date").toPandas()
        assert rf[["resid_y1", "resid_y2", "resid_y3"]].to_numpy() == pytest.approx(
            U, abs=1e-9
        )


def test_dof_per_equation_equals_kron_formula(spark):
    y, _ = simulate_var1(T=120, seed=4)
    wide = to_wide(spark, y)
    m = fit_enet_var(wide, ["y1", "y2", "y3"], p=1, alpha=0.25)
    ic = m.inf_crit()
    # direct kron check (reference enetVAR.R:190-196) on the same Z
    B = m.coef_matrix()
    Z = y[:-1]
    K = 3
    lam = float(np.mean(list(m.lambda_used.values())))
    alpha = 0.25
    X = np.kron(Z, np.eye(K))
    beta = B.T.ravel(order="F")  # vec of B' column-major = (z_col, eq) pairs
    A_supp = beta != 0
    XA = X[:, A_supp]
    dof_kron = np.trace(
        XA @ np.linalg.solve(XA.T @ XA + lam * 0.5 * (1 - alpha) * np.eye(A_supp.sum()), XA.T)
    )
    assert ic["dof"] == pytest.approx(dof_kron, rel=1e-6)


def test_enet_var_select_finds_var2(spark):
    # simulate VAR(2) where lag-2 matters strongly
    rng = np.random.default_rng(5)
    T = 300
    y = np.zeros((T, 2))
    for t in range(2, T):
        y[t, 0] = 0.2 * y[t - 1, 0] + 0.55 * y[t - 2, 1] + rng.normal(scale=0.2)
        y[t, 1] = 0.3 * y[t - 1, 1] + rng.normal(scale=0.2)
    wide = to_wide(spark, y, names=("a", "b"))
    res = enet_var_select(wide, ["a", "b"], max_lag_order=4, alpha=0.25)
    assert res["IC_lag"]["SC"] == 2
    assert res["IC_lag"]["AIC"] >= 2


def test_tic_matrix_q9_misalignment():
    ics = [
        {"FPE": 1.0, "AIC": 2.0, "HQ": 3.0, "SC": 4.0, "dof": 5.0},
        {"FPE": 10.0, "AIC": 20.0, "HQ": 30.0, "SC": 40.0, "dof": 50.0},
    ]
    fixed = _tic_matrix(ics, faithful_q9=False)
    assert fixed[:, 1].tolist() == [10.0, 20.0, 30.0, 40.0]
    quirky = _tic_matrix(ics, faithful_q9=True)
    # column 2 of the faithful matrix = (dof1, FPE2, AIC2, HQ2)
    assert quirky[:, 1].tolist() == [5.0, 10.0, 20.0, 30.0]


def test_preselect_picks_causal_variable(spark):
    rng = np.random.default_rng(6)
    T = 250
    cause = rng.normal(size=T).cumsum() * 0.1
    target = np.zeros(T)
    for t in range(1, T):
        target[t] = 0.3 * target[t - 1] + 0.7 * cause[t - 1] + rng.normal(scale=0.1)
    noise1 = rng.normal(size=T)
    noise2 = rng.normal(size=T)
    y = np.column_stack([target, noise1, cause, noise2])
    wide = to_wide(spark, y, names=("gdp", "n1", "cause", "n2"))
    sel = enet_var_preselect(wide, ["gdp", "n1", "cause", "n2"], maxnrvar=2)
    assert sel == ["gdp", "cause"]


def test_lag_bounds():
    assert max_lag(230, 146) == 0  # all-variable VAR infeasible beyond p=1
    assert max_lag(231, 10) == 20
    lo, hi = heuristic_lag_bounds(30)
    assert lo == 2 and hi == 4  # 24/30^(2/3) ≈ 2.49


def test_fixed_lambda_path_contains_lambda(spark):
    y, _ = simulate_var1(T=100, seed=7)
    wide = to_wide(spark, y)
    m = fit_enet_var(wide, ["y1", "y2", "y3"], p=1, alpha=0.4, lam=0.05)
    fit = m.fits["y1"]
    assert fit.lambdas[0] == pytest.approx(0.1)
    assert fit.lambdas[-1] == pytest.approx(0.025)
    assert any(np.isclose(fit.lambdas, 0.05))


def test_spark_fit_matches_numpy_fit(spark):
    """fit_enet_var (Spark embedding + distributed moments) and
    fit_enet_var_local (numpy embedding + moments) are one model: on a
    matrix whose second series starts late (a leading NaN, NULL on the
    Spark side) both drop the same rows, pick the same λ and give the
    same coefficients, forecasts and information criteria — for CV and
    fixed λ, with and without an intercept."""
    y, _ = simulate_var1(T=120, seed=8)
    y[:3, 1] = np.nan
    series = ["y1", "y2", "y3"]
    wide = spark.createDataFrame(
        [
            (dt.date(2000, 1, 1) + dt.timedelta(days=7 * i),
             *(None if np.isnan(v) else float(v) for v in row))
            for i, row in enumerate(y)
        ],
        "obs_date date, y1 double, y2 double, y3 double",
    )
    for lam in (None, 0.02):
        for intercept in (False, True):
            d = fit_enet_var(wide, series, p=2, alpha=0.4, lam=lam, intercept=intercept)
            n = fit_enet_var_local(y, series, p=2, alpha=0.4, lam=lam, intercept=intercept)
            assert d.t_rows == n.t_rows == 120 - 2 - 3
            # the same path point: summation order of the moments differs
            # only in the last bits, adjacent CV path points by ~10%
            assert d.lambda_used == pytest.approx(n.lambda_used, rel=1e-12)
            assert d.coef_matrix() == pytest.approx(n.coef_matrix(), rel=0, abs=1e-10)
            assert d.predict(4) == pytest.approx(n.predict(4), rel=0, abs=1e-10)
            assert d.inf_crit() == pytest.approx(n.inf_crit(), rel=1e-10, abs=1e-10)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under Spark job group ``group``; return its result
    and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cv_fit_folds_cost_no_spark_job(spark):
    """A cross-validated ``fit_enet_var`` runs the moments pass and
    nothing else: the blocked folds are a window over the lag
    embedding's own single sorted partition, and the forecast origin
    rides the moments collect, so the CV fit runs as many Spark jobs
    as the fixed-λ fit (2: the lag window's shuffle and the collect; a
    date-axis collect for the folds made it 6, a separate tail collect
    3)."""
    y, _ = simulate_var1(T=80, seed=9)
    wide = to_wide(spark, y)
    series = ["y1", "y2", "y3"]
    _, cv_jobs = _jobs_in_group(
        spark, "cv-fit", lambda: fit_enet_var(wide, series, p=2)
    )
    _, fixed_jobs = _jobs_in_group(
        spark, "fixed-fit", lambda: fit_enet_var(wide, series, p=2, lam=0.05)
    )
    assert cv_jobs == fixed_jobs == 2


def _wide_with_nulls(spark, y, series):
    return spark.createDataFrame(
        [
            (dt.date(2000, 1, 1) + dt.timedelta(days=7 * i),
             *(None if np.isnan(v) else float(v) for v in row))
            for i, row in enumerate(y)
        ],
        f"obs_date date, {', '.join(f'{s} double' for s in series)}",
    )


def test_forecast_origin_is_last_complete_rows(spark):
    """The forecast origin that rides the moments collect is the last p
    rows with every series non-NULL, oldest first — also when a series
    starts late, when a gap sits inside the last p rows (the last
    complete embedded row then predates them), and when it reaches
    back into the first p rows, which the lag embedding alone drops."""
    from var_elasticnet_bigdata_spark.ml.gram import var_moments

    series = ["y1", "y2", "y3"]
    y, _ = simulate_var1(T=40, seed=13)
    y[:4, 1] = np.nan
    y[-2, 0] = np.nan
    y[-5, 2] = np.nan
    wide = _wide_with_nulls(spark, y, series)
    complete = y[~np.isnan(y).any(axis=1)]
    for p in (1, 2, 4):
        for lam in (None, 0.05):
            m = fit_enet_var(wide, series, p=p, alpha=0.4, lam=lam)
            assert m.last_rows.tolist() == complete[-p:].tolist()
    short, _ = simulate_var1(T=10, seed=14)
    short[4:9, 0] = np.nan
    _, mom, last = var_moments(_wide_with_nulls(spark, short, series), series, 3)
    assert mom.n == 1
    assert last.tolist() == short[[2, 3, 9]].tolist()


def test_spark_folds_equal_blocked_fold_ids(spark):
    """``gram.blocked_fold_column`` on the ``na.omit`` frame numbers
    the i-th remaining date ``i // block`` — ``blocked_fold_ids`` on
    the numpy design — when a series starts late; a row with a NULL
    date takes no rank and drops."""
    from var_elasticnet_bigdata_spark.ml.elastic_net import blocked_fold_ids
    from var_elasticnet_bigdata_spark.ml.gram import blocked_fold_column
    from var_elasticnet_bigdata_spark.ml.local import var_design
    from var_elasticnet_bigdata_spark.operators.lag_embed import var_z

    y, _ = simulate_var1(T=47, seed=10)
    y[:5, 2] = np.nan
    series = ["y1", "y2", "y3"]
    wide = spark.createDataFrame(
        [
            (dt.date(2000, 1, 1) + dt.timedelta(days=7 * i),
             *(None if np.isnan(v) else float(v) for v in row))
            for i, row in enumerate(y)
        ],
        "obs_date date, y1 double, y2 double, y3 double",
    )
    complete = var_z(wide, series, 2).complete
    null_date = spark.createDataFrame(
        [(None, *([1.0] * 9))], complete.schema
    )
    got = (
        blocked_fold_column(complete.unionByName(null_date), block=10)
        .select("obs_date", "__fold")
        .toPandas()
        .sort_values("obs_date")
    )
    data, _ = var_design(y, series, 2)
    assert len(got) == len(data) == 47 - 2 - 5
    assert got["__fold"].tolist() == blocked_fold_ids(len(data), 10).tolist()
