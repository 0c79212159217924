"""Rolling-origin tuner oracles: the distributed grid must match a
sequential numpy replication of the caret timeSlice procedure, and
tuning must find planted structure."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from var_elasticnet_bigdata_spark.ml.elastic_net import enet_path
from var_elasticnet_bigdata_spark.ml.local import moments_from_numpy
from var_elasticnet_bigdata_spark.ml.tuning import (
    _cell_rmse,
    ezlasso,
    ezlasso_frame,
    rolling_origin_tune,
)


def make_wide(spark, arrs: dict[str, np.ndarray]):
    T = len(next(iter(arrs.values())))
    pdf = pd.DataFrame(arrs)
    pdf.insert(
        0,
        "obs_date",
        [dt.date(2000, 1, 1) + dt.timedelta(days=7 * i) for i in range(T)],
    )
    return spark.createDataFrame(pdf)


def test_cell_rmse_matches_manual_loop():
    rng = np.random.default_rng(0)
    T, k = 60, 3
    X = rng.normal(size=(T, k))
    y = X @ np.array([1.0, 0.0, -0.5]) + rng.normal(scale=0.2, size=T)
    lams = np.array([1.0, 0.1, 0.01])
    got = _cell_rmse(X, y, alpha=0.5, lambdas=lams, init_window=40, horizon=2)
    # manual replication of caret's aggregation: per-origin RMSE,
    # then the mean across origins
    names = [f"x{i}" for i in range(k)] + ["y"]
    rmses = np.zeros(3)
    n_o = 0
    for t in range(40, T - 2 + 1):
        m = moments_from_numpy(np.column_stack([X[:t], y[:t]]), names)
        fit = enet_path(m, names[:-1], ["y"], alpha=0.5, lambdas=lams)["y"]
        pred = X[t : t + 2] @ fit.coefs + fit.intercepts
        rmses += np.sqrt(((pred - y[t : t + 2, None]) ** 2).mean(axis=0))
        n_o += 1
    assert got == pytest.approx(rmses / n_o, rel=1e-10)


def test_rolling_origin_tune_finds_structure(spark):
    rng = np.random.default_rng(1)
    T = 80
    a = np.zeros(T)
    b = np.zeros(T)
    for t in range(1, T):
        a[t] = 0.7 * a[t - 1] + 0.25 * b[t - 1] + rng.normal(scale=0.1)
        b[t] = 0.5 * b[t - 1] + rng.normal(scale=0.1)
    wide = make_wide(spark, {"a": a, "b": b})
    best = rolling_origin_tune(
        spark, wide, ["a", "b"], lag=1, init_window=40, horizon=4,
        alpha_grid=np.array([0.2, 0.8]),
        lambda_grid=10 ** np.linspace(0, -4, 20),
    )
    assert set(best.equation) == {"a", "b"}
    row = best[best.equation == "a"].iloc[0]
    # strong signal → small λ wins; tuned RMSE near the 0.1 noise floor
    assert row["lambda"] < 0.1
    assert row.rmse < 0.15


def test_driver_materialization_guard_trips(spark, monkeypatch):
    """The guarded collects refuse frames above the configured
    ceiling, with a pointer to the scale path (VERDICT r1 item 7)."""
    from var_elasticnet_bigdata_spark.plans.guards import (
        DriverMaterializationError,
    )

    rng = np.random.default_rng(3)
    T = 60
    a = np.cumsum(rng.normal(size=T)) * 0.1
    b = rng.normal(size=T)
    wide = make_wide(spark, {"a": a, "b": b})
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", "10")
    from var_elasticnet_bigdata_spark.operators.similarity import cosine_topk

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(DriverMaterializationError, match="lsh_topk"):
        cosine_topk(vecs, k=1).collect()
    # within the ceiling the paths still work
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", "100000")
    assert cosine_topk(vecs, k=1).count() == 40


def test_tune_distributed_equals_sequential(spark):
    rng = np.random.default_rng(2)
    T = 60
    a = np.cumsum(rng.normal(size=T)) * 0.1
    b = rng.normal(size=T)
    wide = make_wide(spark, {"a": a, "b": b})
    grid_a = np.array([0.3, 0.6])
    grid_l = np.array([1.0, 0.1, 0.01])
    best = rolling_origin_tune(
        spark, wide, ["a", "b"], lag=1, init_window=30, horizon=2,
        alpha_grid=grid_a, lambda_grid=grid_l,
    )
    # sequential replication for equation "a"
    Z = np.column_stack([a[:-1], b[:-1]])
    ya = a[1:]
    cands = []
    for al in grid_a:
        rm = _cell_rmse(Z, ya, al, np.sort(grid_l)[::-1], 30, 2)
        order = np.argsort(np.sort(grid_l)[::-1])
        rm_asc = rm[order]
        li = int(np.argmin(rm_asc))
        cands.append((float(rm_asc[li]), al, float(np.sort(grid_l)[li])))
    want = min(cands)
    row = best[best.equation == "a"].iloc[0]
    assert row.rmse == pytest.approx(want[0], rel=1e-9)
    assert row.alpha == want[1]
    assert row["lambda"] == pytest.approx(want[2])


def test_ezlasso_selects_signal_and_q6(spark):
    rng = np.random.default_rng(3)
    T = 200
    x_pos = rng.normal(size=T)
    x_neg = rng.normal(size=T)
    noise = rng.normal(size=(T, 2))
    y = 2.0 * x_pos - 2.0 * x_neg + rng.normal(scale=0.1, size=T)
    wide = make_wide(
        spark,
        {"y": y, "xp": x_pos, "xn": x_neg, "n1": noise[:, 0], "n2": noise[:, 1]},
    )
    preds = ["xp", "xn", "n1", "n2"]
    pdf = ezlasso_frame(wide, "y", preds)
    faithful = ezlasso(pdf, "y", preds, alpha=0.5, maxnrvar=2, init_window=150)
    # Q6: signed ranking — the strong NEGATIVE predictor ranks last
    assert faithful[0] == "y"
    assert "xp" in faithful[1:]
    assert "xn" not in faithful[1:]
    fixed = ezlasso(
        pdf, "y", preds, alpha=0.5, maxnrvar=2, init_window=150, rank_abs=True
    )
    assert set(fixed[1:]) == {"xp", "xn"}


def test_ezlasso_q13_intercept_occupies_rank_slot(spark):
    """Quirk Q13 (enetVAR.R:634-637): the reference ranks coef()
    INCLUDING the '(Intercept)' row (0 under intercept=FALSE) and
    drops it only after the top-maxnrvar slice — so with fewer
    strictly-positive coefficients than maxnrvar, the intercept
    occupies a slot and one fewer predictor survives. rank_abs
    fix-mode ranks predictors only."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    n = 220
    xp = rng.normal(size=n)
    xn = rng.normal(size=n)
    y = 1.0 * xp - 1.0 * xn + 0.1 * rng.normal(size=n)
    pdf = pd.DataFrame(
        {
            "obs_date": pd.date_range("1960-01-01", periods=n, freq="QS"),
            "y": y,
            "xp": xp,
            "xn": xn,
        }
    )
    frame = ezlasso_frame(spark.createDataFrame(pdf), "y", ["xp", "xn"])
    faithful = ezlasso(
        frame, "y", ["xp", "xn"], alpha=0.0, maxnrvar=2,
        init_window=180, horizon=1,
    )
    # top-2 of [intercept=0, xp>0, xn<0] = [xp, intercept] → xn dropped
    assert faithful == ["y", "xp"]
    fixed = ezlasso(
        frame, "y", ["xp", "xn"], alpha=0.0, maxnrvar=2,
        init_window=180, horizon=1, rank_abs=True,
    )
    assert set(fixed) == {"y", "xp", "xn"}


def test_tune_distribute_join_equals_broadcast(spark, monkeypatch):
    """VERDICT r2 item 4: the scale path exists — an embedded frame
    over the driver ceiling runs ``_tune_cells_distributed``
    (per-origin prefix moments and executor-side path fits, never
    collecting the estimation frame) instead of raising, and agrees
    with the broadcast path exactly. Within the ceiling the broadcast
    path runs."""
    import var_elasticnet_bigdata_spark.ml.tuning as tuning

    calls = []
    real = tuning._tune_cells_distributed

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(tuning, "_tune_cells_distributed", spy)
    rng = np.random.default_rng(11)
    T = 70
    a = np.cumsum(rng.normal(size=T)) * 0.1
    b = 0.5 * np.roll(a, 1) + rng.normal(size=T) * 0.3
    wide = make_wide(spark, {"a": a, "b": b})
    kw = dict(
        lag=1, init_window=50, horizon=3,
        alpha_grid=np.array([0.3, 0.7]),
        lambda_grid=10 ** np.linspace(0, -3, 8),
    )
    # T − lag = 69 embedded rows: exactly at the ceiling → broadcast,
    # 5 Spark jobs in all
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", str(T - 1))
    sc = spark.sparkContext
    sc.setJobGroup("tune-broadcast", "tune-broadcast")
    try:
        base = rolling_origin_tune(spark, wide, ["a", "b"], **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls == []
    assert len(sc.statusTracker().getJobIdsForGroup("tune-broadcast")) == 5
    # one row over the ceiling → the distributed path, no error
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", str(T - 2))
    dist = rolling_origin_tune(spark, wide, ["a", "b"], **kw)
    assert calls == [1]
    bs = base.sort_values("equation").reset_index(drop=True)
    ds = dist.sort_values("equation").reset_index(drop=True)
    assert list(bs.equation) == list(ds.equation)
    assert np.allclose(bs[["alpha", "lambda"]], ds[["alpha", "lambda"]])
    assert np.allclose(bs.rmse, ds.rmse, rtol=1e-9)
    # far over the ceiling, with the anchor taken from the end: the
    # sizing collect brings ONE row (carrying the row count, which
    # serves the anchor and the origins) and the embedded frame is
    # never counted
    counts, sizes = [], []
    real_count, real_topandas = type(wide).count, type(wide).toPandas

    def count_spy(self):
        counts.append(1)
        return real_count(self)

    def topandas_spy(self):
        out = real_topandas(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(type(wide), "count", count_spy)
    monkeypatch.setattr(type(wide), "toPandas", topandas_spy)
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", "10")
    kw_end = {**kw, "init_window": None, "init_window_from_end": (T - 50, 5)}
    dist2 = rolling_origin_tune(spark, wide, ["a", "b"], **kw_end)
    assert calls == [1, 1]
    assert counts == [] and sizes == [1]
    assert np.allclose(
        dist2.sort_values("equation").rmse.to_numpy(), ds.rmse.to_numpy()
    )

