"""Harness oracles: the distributed rolling-origin pipeline must
reproduce a pure-numpy replication of the reference's ar1_train /
modeltrain loop (matrix build + h*.ind alignment + MSFE + Theil's U),
including the faithful Q3/Q4 quirks."""

from __future__ import annotations

import datetime as dt
import itertools
import math

import numpy as np
import pandas as pd
import pytest

from var_elasticnet_bigdata_spark.harness.modeltrain import (
    _pred_ind,
    ar1_train,
    modeltrain,
    theils_u_ar1,
)
from var_elasticnet_bigdata_spark.ml.group_enet import fit_group_enet_var_local
from var_elasticnet_bigdata_spark.ml.local import LocalAR1
from var_elasticnet_bigdata_spark.ml.var_model import fit_enet_var_local


def make_wide(spark, y, names):
    T = len(y)
    pdf = pd.DataFrame(np.atleast_2d(y.T).T, columns=list(names))
    pdf.insert(
        0,
        "obs_date",
        [dt.date(2000, 1, 1) + dt.timedelta(days=7 * i) for i in range(T)],
    )
    return spark.createDataFrame(pdf), pdf["obs_date"].tolist()


def reference_ar1_replication(y, ws, h=8, const=False):
    """Direct numpy transcription of the reference ar1_train loop
    (enetVAR.R:568-609) for oracle comparison: origins ws..n−2
    (0-based), recursive AR(1) predictions, zero-padded truths,
    h*.ind alignment, MSFE."""
    n = len(y)
    pred_ind = [1, 2, 4, 8]
    origins = list(range(ws, n - 1))
    err = np.zeros((4, len(origins)))
    for c, o in enumerate(origins):
        m = LocalAR1(y[: o + 1], const=const)
        preds = m.predict(h)
        for r, p in enumerate(pred_ind):
            ti = o + p
            truth = y[ti] if ti < n else 0.0  # Q2 zero-pad
            err[r, c] = preds[p - 1] - truth
    N = len(origins)
    ind = {1: range(h - 1, N), 2: range(h - 2, N - 1), 4: range(h - 4, N - 3), 8: range(0, N - h + 1)}
    msfe = {}
    for r, p in enumerate(pred_ind):
        e = err[r, list(ind[p])]
        msfe[p] = float(np.sum(e**2) / len(e))
    return msfe


def test_pred_ind():
    assert _pred_ind(8) == [1, 2, 4, 8]
    assert _pred_ind(4) == [1, 2, 4]


def test_ar1_harness_matches_numpy_replication(spark):
    rng = np.random.default_rng(0)
    T = 60
    y = np.zeros(T)
    for t in range(1, T):
        y[t] = 0.6 * y[t - 1] + rng.normal(scale=0.4)
    wide, dates = make_wide(spark, y.reshape(-1, 1), ["y"])
    start = dates[40]
    res = ar1_train(spark, wide, ["y"], start_pred=start)
    want = reference_ar1_replication(y, ws=40 - 8)
    assert set(res.msfe) == set(want)
    for hh in want:
        assert res.msfe[hh] == pytest.approx(want[hh], rel=1e-9)


def test_enet_harness_matches_numpy_replication(spark):
    rng = np.random.default_rng(1)
    T = 60
    y = np.zeros((T, 2))
    for t in range(1, T):
        y[t, 0] = 0.5 * y[t - 1, 0] + 0.2 * y[t - 1, 1] + rng.normal(scale=0.3)
        y[t, 1] = 0.4 * y[t - 1, 1] + rng.normal(scale=0.3)
    wide, dates = make_wide(spark, y, ["a", "b"])
    start = dates[40]
    res = modeltrain(
        spark, wide, ["a", "b"], start_pred=start, lam=0.05, alpha=0.4,
        lag=1, with_ar1=False,
    )
    # numpy replication with the same local fitter
    ws, h, n = 32, 8, T
    origins = list(range(ws, n - 1))
    err = np.zeros((4, len(origins)))
    for c, o in enumerate(origins):
        m = fit_enet_var_local(y[: o + 1], ["a", "b"], p=1, alpha=0.4, lam=0.05)
        preds = m.predict(h)[:, 0]
        for r, p in enumerate([1, 2, 4, 8]):
            ti = o + p
            err[r, c] = preds[p - 1] - (y[ti, 0] if ti < n else 0.0)
    N = len(origins)
    ind = {1: range(h - 1, N), 2: range(h - 2, N - 1), 4: range(h - 4, N - 3), 8: range(0, N - h + 1)}
    for r, p in enumerate([1, 2, 4, 8]):
        e = err[r, list(ind[p])]
        assert res.msfe[p] == pytest.approx(float(np.mean(e**2)), rel=1e-8)


def test_genet_harness_forecasts_equal_direct_group_fits(spark):
    """``modeltrain(method="genet")``: every origin's forecasts are a
    direct ``fit_group_enet_var_local(...).predict(h)`` on that
    origin's training slice (target series, the h*.ind horizons)."""
    rng = np.random.default_rng(11)
    T = 50
    y = np.zeros((T, 2))
    for t in range(1, T):
        y[t, 0] = 0.5 * y[t - 1, 0] + 0.2 * y[t - 1, 1] + rng.normal(scale=0.3)
        y[t, 1] = 0.4 * y[t - 1, 1] + rng.normal(scale=0.3)
    wide, dates = make_wide(spark, y, ["a", "b"])
    h = 8
    res = modeltrain(
        spark, wide, ["a", "b"], start_pred=dates[40], h=h, method="genet",
        alpha=0.4, lag=1, with_ar1=False,
    )
    fc = res.forecasts.select("origin_idx", "horizon", "yhat").toPandas()
    assert sorted(set(fc.origin_idx)) == list(range(40 - h, T - 1))
    for o, g in fc.groupby("origin_idx"):
        want = fit_group_enet_var_local(
            y[: o + 1], ["a", "b"], p=1, alpha=0.4
        ).predict(h)[:, 0]
        for hz, yhat in zip(g.horizon, g.yhat):
            assert yhat == pytest.approx(want[hz - 1], rel=1e-12, abs=1e-12)


def test_genet_rejects_lam(spark):
    """The group fit picks λ by CV only: ``modeltrain(method="genet",
    lam=...)`` raises instead of silently forecasting as if
    ``lam=None``."""
    rng = np.random.default_rng(12)
    wide, dates = make_wide(spark, rng.normal(size=(30, 2)), ["a", "b"])
    with pytest.raises(ValueError, match="cross-validation only"):
        modeltrain(
            spark, wide, ["a", "b"], start_pred=dates[20], h=4,
            method="genet", lam=0.05, with_ar1=False,
        )


def test_forecast_table_shape_and_alignment(spark):
    rng = np.random.default_rng(2)
    y = rng.normal(size=(50, 1)).cumsum(axis=0)
    wide, dates = make_wide(spark, y, ["y"])
    res = ar1_train(spark, wide, ["y"], start_pred=dates[30])
    fc = res.forecasts.toPandas()
    # every (origin, horizon) pair present; target = origin + horizon
    assert set(fc.horizon) == {1, 2, 4, 8}
    assert (fc.target_idx == fc.origin_idx + fc.horizon).all()
    n_origins = 50 - 1 - (30 - 8)
    assert len(fc) == 4 * n_origins
    # aligned count per horizon = N − h + 1
    assert res.n_aligned == n_origins - 8 + 1


def _modeltrain_module():
    # the harness package re-exports the modeltrain FUNCTION, which
    # shadows the module attribute — resolve the module directly
    import importlib

    return importlib.import_module(
        "var_elasticnet_bigdata_spark.harness.modeltrain"
    )


def test_broadcast_and_join_distribution_paths_agree(spark, monkeypatch):
    """The date axis picks the path: within the driver ceiling the
    matrix is broadcast (``_matrix`` runs), above it the range join
    runs (``_matrix`` never does); both give the same forecasts. The
    AR(1) benchmark arm reuses the call's date axis and matrix:
    ``_dates`` and ``_matrix`` each run at most once per call."""
    mt = _modeltrain_module()
    rng = np.random.default_rng(7)
    T = 55
    y = np.zeros((T, 2))
    for t in range(1, T):
        y[t, 0] = 0.5 * y[t - 1, 0] + 0.2 * y[t - 1, 1] + rng.normal(scale=0.3)
        y[t, 1] = 0.4 * y[t - 1, 1] + rng.normal(scale=0.3)
    wide, dates = make_wide(spark, y, ["a", "b"])
    kw = dict(start_pred=dates[40], lam=0.05, alpha=0.4, lag=1, with_ar1=True)
    calls = []

    def spy(name):
        real = getattr(mt, name)

        def wrapped(*a, **k):
            calls.append(name)
            return real(*a, **k)

        monkeypatch.setattr(mt, name, wrapped)

    spy("_dates")
    spy("_matrix")
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", str(T))
    a = modeltrain(spark, wide, ["a", "b"], **kw)
    # T dates == ceiling: the broadcast path ran, one collect of each
    assert calls == ["_dates", "_matrix"]
    calls.clear()
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", str(T - 1))
    b = modeltrain(spark, wide, ["a", "b"], **kw)
    assert calls == ["_dates"]  # one date over: the range join ran
    fa = a.forecasts.toPandas().sort_values(["origin_idx", "horizon"]).reset_index(drop=True)
    fb = b.forecasts.toPandas().sort_values(["origin_idx", "horizon"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(fa, fb)
    # msfe only approx: partition-order float addition in the SSE agg
    for p in a.msfe:
        assert a.msfe[p] == pytest.approx(b.msfe[p], rel=1e-12)
        assert a.theils_u_ar1[p] == pytest.approx(b.theils_u_ar1[p], rel=1e-12)


def test_join_path_never_collects_matrix(spark, monkeypatch):
    """A date axis over the driver ceiling takes the range-join path:
    the driver may collect the date axis but must NEVER materialize
    the value matrix (VERDICT r1 'What's wrong' #4), for the model
    run and for its nested AR(1) benchmark alike."""
    mt = _modeltrain_module()

    rng = np.random.default_rng(9)
    T = 50
    y = rng.normal(size=(T, 2)).cumsum(axis=0)
    wide, dates = make_wide(spark, y, ["a", "b"])

    def boom(*a, **k):  # pragma: no cover - should never run
        raise AssertionError("join path collected the estimation matrix")

    monkeypatch.setattr(mt, "_matrix", boom)
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", "10")
    res = mt.modeltrain(
        spark, wide, ["a", "b"], start_pred=dates[35], lam=0.05,
        alpha=0.4, lag=1, with_ar1=True,
    )
    assert set(res.msfe) == {1, 2, 4, 8}
    assert all(np.isfinite(v) for v in res.theils_u_rw.values())
    assert set(res.theils_u_ar1) == {1, 2, 4, 8}


def test_theils_u_rw_faithful_vs_fixed(spark):
    rng = np.random.default_rng(3)
    T = 50
    y = np.zeros(T)
    for t in range(1, T):
        y[t] = 0.7 * y[t - 1] + rng.normal(scale=0.5)
    wide, dates = make_wide(spark, y.reshape(-1, 1), ["y"])
    start = dates[30]
    fixed = ar1_train(spark, wide, ["y"], start_pred=start)
    faithful = modeltrain(
        spark, wide, ["y"], start_pred=start, method="ar1",
        with_ar1=False, rw_mode="faithful",
    )
    # same model errors, different RW denominators
    assert fixed.msfe == faithful.msfe
    # faithful h8 denominator includes the literal 0 seed (Q3) —
    # replicate both denominators in numpy
    ws, h, n = 22, 8, T
    origins = list(range(ws, n - 1))
    N = len(origins)
    ind = {1: (h - 1, N - 1), 2: (h - 2, N - 2), 4: (h - 4, N - 4), 8: (0, N - h)}
    for hh in (1, 2, 4, 8):
        a, b = ind[hh]
        fx = sum(
            (y[origins[j] + hh] - y[origins[j] + hh - 1]) ** 2
            for j in range(a, b + 1)
        )
        ff = 0.0
        for j in range(a, b + 1):
            jj = j - 1
            if jj < 0:
                continue  # seed contributes 0
            ff += (y[origins[jj] + hh] - y[origins[jj] + hh - 1]) ** 2
        sse = faithful.msfe[hh] * (b - a + 1)
        assert fixed.theils_u_rw[hh] == pytest.approx(math.sqrt(sse / fx), rel=1e-9)
        assert faithful.theils_u_rw[hh] == pytest.approx(math.sqrt(sse / ff), rel=1e-9)


def test_theils_u_ar1_ratio(spark):
    rng = np.random.default_rng(4)
    T = 55
    y = np.zeros((T, 2))
    for t in range(1, T):
        y[t, 0] = 0.5 * y[t - 1, 0] + 0.3 * y[t - 1, 1] + rng.normal(scale=0.3)
        y[t, 1] = 0.5 * y[t - 1, 1] + rng.normal(scale=0.3)
    wide, dates = make_wide(spark, y, ["a", "b"])
    start = dates[38]
    res = modeltrain(
        spark, wide, ["a", "b"], start_pred=start, lam=0.05, with_ar1=True
    )
    assert res.theils_u_ar1 is not None
    ar1 = ar1_train(spark, wide, ["a"], start_pred=start)
    for hh, u in res.theils_u_ar1.items():
        assert u == pytest.approx(
            math.sqrt(res.msfe[hh]) / math.sqrt(ar1.msfe[hh]), rel=1e-9
        )


def test_residuals_from_last_refit(spark):
    rng = np.random.default_rng(5)
    y = rng.normal(size=(40, 2)).cumsum(axis=0)
    wide, dates = make_wide(spark, y, ["a", "b"])
    res = modeltrain(
        spark, wide, ["a", "b"], start_pred=dates[25], lam=0.1,
        with_ar1=False, with_residuals=True,
    )
    rp = res.residuals.toPandas()
    # last refit trains through the last origin (n−2) → T−1−p rows
    assert len(rp) == (40 - 1) - 1


def test_ar1_relational_matches_generic_fanout(spark):
    # the relational cumulative-moment AR(1) experiment must equal
    # the generic modeltrain fan-out metric for metric
    from var_elasticnet_bigdata_spark.harness.modeltrain import (
        ar1_rolling_relational,
    )

    rng = np.random.default_rng(11)
    y = np.abs(rng.normal(size=(48, 1))).cumsum(axis=0)
    wide, dates = make_wide(spark, y, ["a"])
    start = dates[30]
    for h, rw_mode in itertools.product((4, 8), ("fixed", "faithful")):
        res = modeltrain(
            spark, wide, ["a"], start_pred=start, h=h, method="ar1",
            const=False, with_ar1=False, rw_mode=rw_mode,
        )
        rel = {
            int(r["horizon"]): (float(r["msfe"]), float(r["theils_u_rw"]))
            for r in ar1_rolling_relational(
                spark, wide, "a", start_pred=start, h=h, rw_mode=rw_mode
            ).collect()
        }
        assert set(rel) == set(res.msfe)
        for hh in res.msfe:
            assert rel[hh][0] == pytest.approx(round(res.msfe[hh], 6), abs=1e-6)
            assert rel[hh][1] == pytest.approx(
                round(res.theils_u_rw[hh], 6), abs=1e-6
            )


def test_theils_u_table_matches_scalar_m23(spark):
    # the gated table form (RW model vs AR(1) benchmark) must equal
    # the reference-shaped scalar theils_u_ar1 fed the same model MSFE
    from var_elasticnet_bigdata_spark.harness.modeltrain import (
        theils_u_ar1,
        theils_u_ar1_relational,
    )

    rng = np.random.default_rng(23)
    y = np.abs(rng.normal(size=(44, 1))).cumsum(axis=0)
    wide, dates = make_wide(spark, y, ["a"])
    start = dates[28]
    tab = {
        int(r["horizon"]): (
            float(r["u_ar1"]),
            float(r["msfe_model"]),
            float(r["msfe_ar1"]),
        )
        for r in theils_u_ar1_relational(
            spark, wide, "a", start_pred=start, h=4
        ).collect()
    }
    assert set(tab) == {1, 2, 4}
    for hh, (u, msfe_m, _) in tab.items():
        u_scalar = theils_u_ar1(
            spark, wide, ["a"], start_pred=start, mse_pred=msfe_m, horizon=hh
        )
        assert u == pytest.approx(round(u_scalar, 6), abs=2e-6)


def test_entry_points_share_the_origin_grid_errors(spark):
    """``modeltrain`` and both relational AR(1) tables reject the same
    two bad grids with the same messages: a ``start_pred`` outside
    the date index, and fewer than h pre-sample rows before it."""
    from var_elasticnet_bigdata_spark.harness.modeltrain import (
        ar1_rolling_relational,
        theils_u_ar1_relational,
    )

    rng = np.random.default_rng(13)
    y = rng.normal(size=(30, 1)).cumsum(axis=0)
    wide, dates = make_wide(spark, y, ["a"])
    entry_points = [
        lambda start: modeltrain(
            spark, wide, ["a"], start_pred=start, h=4, method="ar1",
            with_ar1=False,
        ),
        lambda start: ar1_rolling_relational(
            spark, wide, "a", start_pred=start, h=4
        ),
        lambda start: theils_u_ar1_relational(
            spark, wide, "a", start_pred=start, h=4
        ),
    ]
    for run in entry_points:
        with pytest.raises(ValueError, match="not in date index"):
            run(dt.date(1999, 1, 1))
        # index 4 leaves origin 0: fewer than h=4 pre-sample rows
        with pytest.raises(ValueError, match="not enough pre-sample"):
            run(dates[4])
        run(dates[5])  # the first start with a full pre-sample builds
