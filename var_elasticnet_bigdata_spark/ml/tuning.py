"""Rolling-origin hyper-parameter tuning (SURVEY §2.8 M13/M14) — the
engine's largest custom piece: MLlib has no timeSlice resampler.

Reference semantics (enetVAR.R:538-565 ``enetVARtune``; 617-641
``ezlasso``): caret ``trainControl(method="timeSlice",
initialWindow, horizon, fixedWindow=FALSE)`` over the lag-embedded
design — for each origin t = initialWindow..(n−horizon), train on
rows 1..t, test on rows t+1..t+horizon; score every (α, λ) grid cell
by RMSE averaged over ALL origins; per equation, bestTune = the grid
cell with the lowest mean RMSE (caret tie-break: first in grid
order). ``ezlasso`` is the same machinery on a single equation
(y ~ x), horizon=1, α fixed, λ grid 10^seq(2,−2,len 100), then
signed-coefficient top-N (quirk Q6: large NEGATIVE predictors are
never selected — replicated faithfully, with a ``rank_abs`` fix
flag).

Spark shape (SURVEY §3.3): the resample×grid matrix is embarrassingly
parallel. The embedded frame is tiny (it is the post-aggregation
estimation frontier), so it is broadcast once; the (equation, α)
cells fan out via ``mapInPandas`` over a cell table — each cell
fits ONE λ-path per origin with warm starts (pathwise coordinate
descent ≡ glmnet's strategy, so one path serves all 200 λs) and
returns the per-λ mean RMSE. The driver then argmins. Fit count:
equations × α × origins path-fits, exactly caret's workload, spread
over the cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .elastic_net import enet_path
from .local import moments_from_numpy
from ..plans.guards import max_driver_rows
from ..sources.tables import local_frame

DEFAULT_ALPHA_GRID = np.round(np.arange(0.05, 0.951, 0.05), 2)  # 19 values
DEFAULT_LAMBDA_GRID = 10 ** np.linspace(1, -4, 200)  # enetVAR.R:557
EZLASSO_LAMBDA_GRID = 10 ** np.linspace(2, -2, 100)  # enetVAR.R:633


def _cell_rmse(
    X: np.ndarray,
    y: np.ndarray,
    alpha: float,
    lambdas: np.ndarray,
    init_window: int,
    horizon: int,
    intercept: bool = False,
) -> np.ndarray:
    """Mean RMSE per λ over all expanding-window origins (caret
    timeSlice): one warm-started λ-path fit per origin."""
    n = len(y)
    names = [f"x{i}" for i in range(X.shape[1])] + ["y"]
    lambdas = np.asarray(sorted(lambdas, reverse=True), dtype=float)
    origins = range(init_window, n - horizon + 1)
    if len(origins) == 0:
        # all-NaN RMSEs would make the caller's argmin silently pick
        # the first grid lambda — an untuned model with no visible
        # error anywhere downstream
        raise ValueError(
            f"no rolling origins: sample of {n} rows cannot hold "
            f"init_window={init_window} + horizon={horizon}"
        )
    # caret aggregation: RMSE per RESAMPLE (origin), then the mean
    # across resamples — NOT a pooled sqrt(sum_sse/sum_cnt). At
    # horizon=1 the per-origin RMSE is |e|, so pooling would rank the
    # lambda grid by RMSE where caret ranks by MAE and bestTune can
    # differ (heteroskedastic errors / outlier origins)
    rmse_sum = np.zeros(len(lambdas))
    n_origins = 0
    for t in origins:
        m = moments_from_numpy(
            np.column_stack([X[:t], y[:t]]), names
        )
        fit = enet_path(m, names[:-1], ["y"], alpha, lambdas, intercept)["y"]
        Xt = X[t : t + horizon]
        yt = y[t : t + horizon]
        pred = Xt @ fit.coefs + fit.intercepts  # (horizon, nlambda)
        rmse_sum += np.sqrt(((pred - yt[:, None]) ** 2).mean(axis=0))
        n_origins += 1
    return rmse_sum / n_origins


def rolling_origin_tune(
    spark: SparkSession,
    wide_df: DataFrame,
    series: list[str],
    lag: int,
    init_window: int | None,
    horizon: int,
    alpha_grid: np.ndarray | None = None,
    lambda_grid: np.ndarray | None = None,
    intercept: bool = False,
    date_col: str = "obs_date",
    init_window_from_end: tuple[int, int] | None = None,
) -> pd.DataFrame:
    """enetVARtune: per-equation bestTune (α, λ) over the rolling-
    origin grid. Returns a pandas frame (equation, alpha, lambda,
    rmse).

    The embedded frame's size picks the physical path, from ONE
    collect that sizes the frame with a window count and returns all
    its rows within ``plans.guards.max_driver_rows()``, one row past it:

    - within the ceiling (a post-aggregation time-axis frontier, the
      usual case): the collected frame is broadcast and the cells
      fan out as (equation, α) Spark tasks;
    - over it: ``_tune_cells_distributed`` — per-origin Gram
      matrices from ONE cumulative-window pass (prefix moments),
      test rows attached by a range join, each (origin, α) cell
      solving its λ path from its moment row inside ``mapInPandas``;
      only the (equation, α, λ) score frame reaches the driver.
      Equality with the broadcast path is pinned in
      tests/test_tuning.py.

    ``init_window_from_end=(offset, floor)``: sets
    ``init_window = max(n_wide − offset, floor)`` WITHOUT a separate
    ``wide_df.count()`` Spark job — the sizing collect already
    carries the embedded row count, so ``n_wide = n_embedded + lag``
    is free on both paths (r10: the tuner queries' extra count job
    was one of the small driver-coordinated jobs amplifying session
    noise, VERDICT r9 item 1). Pass ``init_window=None`` with it.

    COMPLETE-SERIES ASSUMPTION (ADVICE r10): ``len(embedded) + lag``
    equals ``wide_df.count()`` only when every series is non-null at
    every interior date — an interior null also drops its
    lag-embedded rows, so on gappy series this anchor shifts relative
    to the old count()-based one (fewer embedded rows ⇒ smaller
    ``n_wide`` ⇒ earlier anchor). That is the intended semantics
    here: the reference's tune grids run on complete aligned
    quarterly frames (na.omit happens upstream), and the rolling
    origin should anchor to ESTIMABLE rows, not raw rows. Callers
    with possible interior gaps who need the raw-row anchor must pass
    ``init_window`` explicitly from their own count."""
    from ..operators.lag_embed import var_z
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    alpha_grid = DEFAULT_ALPHA_GRID if alpha_grid is None else np.asarray(alpha_grid)
    lambda_grid = (
        DEFAULT_LAMBDA_GRID if lambda_grid is None else np.asarray(lambda_grid)
    )
    lambda_sorted = np.array(sorted(lambda_grid, reverse=True), dtype=float)

    if init_window is None and init_window_from_end is None:
        raise ValueError("pass init_window or init_window_from_end")

    vz = var_z(wide_df.select(date_col, *series), series, lag, date_col=date_col)
    z_cols = vz.z_names
    ceiling = max_driver_rows()
    # ONE job sizes and collects: each row carries the row count, and
    # past the ceiling only the first row reaches the driver
    pdf = (
        vz.complete.select(
            F.count("*").over(Window.partitionBy()).alias("__n"),
            F.row_number().over(Window.orderBy(date_col)).alias("__rn"),
            date_col,
            *[F.col(f"`{c}`") for c in [*z_cols, *series]],
        )
        .filter((F.col("__n") <= ceiling) | (F.col("__rn") == 1))
        .orderBy(date_col)
        .toPandas()
    )
    n_emb = int(pdf["__n"].iloc[0]) if len(pdf) else 0
    if init_window is None:
        off, floor = init_window_from_end
        init_window = max(n_emb + lag - off, floor)
    if n_emb > ceiling:
        scores = _tune_cells_distributed(
            spark, vz.complete, n_emb, z_cols, series, init_window,
            horizon, alpha_grid, lambda_sorted, intercept, date_col,
        )
        return _best_from_scores(series, alpha_grid, lambda_sorted, scores)
    X = pdf[z_cols].to_numpy(dtype=float)
    Y = pdf[series].to_numpy(dtype=float)
    sc = spark.sparkContext
    bdata = sc.broadcast((X, Y))

    cell_rows = [
        (i, int(j), float(a))
        for i, (j, a) in enumerate(
            (j, a) for j in range(len(series)) for a in alpha_grid
        )
    ]
    # one task per (equation, α) cell via range partitioning — a
    # groupBy().applyInPandas here would shuffle the tiny cell frame
    # into spark.sql.shuffle.partitions tasks, spinning up a python
    # worker per partition for a handful of cells (measured 12 s of
    # pure worker startup at 32 partitions vs <1 s this way)
    cells = local_frame(
        spark, cell_rows, schema="cell_id int, eq int, alpha double"
    ).repartitionByRange(len(cell_rows), "cell_id")
    out_schema = StructType(
        [
            StructField("eq", IntegerType()),
            StructField("alpha", DoubleType()),
            StructField("rmse", ArrayType(DoubleType())),
        ]
    )
    iw, hz, ic = init_window, horizon, intercept
    lams = lambda_sorted

    def run(batches):
        X_, Y_ = bdata.value
        for pdf in batches:
            for j, a in zip(pdf["eq"], pdf["alpha"]):
                rmse = _cell_rmse(X_, Y_[:, int(j)], float(a), lams, iw, hz, ic)
                yield pd.DataFrame(
                    [{"eq": int(j), "alpha": float(a), "rmse": rmse.tolist()}]
                )

    res = cells.mapInPandas(run, out_schema).collect()
    return _best_from_scores(series, alpha_grid, lams, res)


def _best_from_scores(series, alpha_grid, lams, res) -> pd.DataFrame:
    """caret bestTune from per-(equation, α) RMSE-per-λ rows: λ
    ascending within α, first minimum wins; ties across α keep the
    smaller α (strict < while scanning α ascending)."""
    rows = []
    for j, s in enumerate(series):
        best = None
        for r in sorted(
            (r for r in res if r["eq"] == j), key=lambda r: r["alpha"]
        ):
            rm = np.array(r["rmse"])
            # caret grid order: λ ascending within α; first min wins
            order = np.argsort(lams)  # ascending λ
            rm_asc = rm[order]
            li = int(np.argmin(rm_asc))
            cand = (float(rm_asc[li]), float(r["alpha"]), float(lams[order][li]))
            if best is None or cand[0] < best[0]:
                best = cand
        rows.append(
            {"equation": s, "alpha": best[1], "lambda": best[2], "rmse": best[0]}
        )
    return pd.DataFrame(rows)


def _tune_cells_distributed(
    spark: SparkSession,
    embedded: DataFrame,
    n_emb: int,
    z_cols: list[str],
    series: list[str],
    init_window: int,
    horizon: int,
    alpha_grid: np.ndarray,
    lambda_sorted: np.ndarray,
    intercept: bool,
    date_col: str,
) -> list[dict]:
    """The over-the-ceiling cell engine: per-origin prefix
    moments by ONE cumulative window over the (post-aggregation)
    time axis, test rows attached by range join, λ-path solves on
    executors from moment rows only. Returns the same
    ``{eq, alpha, rmse[λ]}`` rows as the broadcast path's collect —
    origins × grid RMSEs are averaged in Spark, so the driver only
    ever sees (equation × α) rows. ``n_emb`` is ``embedded``'s row
    count, counted once by the caller."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .gram import Moments

    k = len(z_cols)
    cols = [*z_cols, *series]
    flat = embedded.select(
        F.col(date_col).alias("__d"),
        *[F.col(f"`{c}`").alias(f"c{i}") for i, c in enumerate(cols)],
    )
    # rn is assigned ONCE, with every value column as tie-breaker
    # behind the date: duplicate timestamps would otherwise leave the
    # tie order unspecified, and emb/prefix each re-deriving rn could
    # disagree and silently misalign test rows with origin moments
    # (ADVICE r3). Full-row ties that remain are interchangeable — the
    # cumulative moments and test arrays are identical either way.
    rn = F.row_number().over(
        Window.orderBy("__d", *[f"c{i}" for i in range(len(cols))])
    )
    base = flat.select(rn.alias("rn"), "*").drop("__d")
    # prefix moments: sums + upper-triangle raw inner products over
    # the now-unique rn order. The single global window is the
    # time-axis frontier — the same shape ar1_rolling_relational
    # documents as the 100 TB-safe pattern.
    w = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    mom_cols = [F.sum(f"c{i}").over(w).alias(f"s{i}") for i in range(len(cols))]
    mom_cols += [
        F.sum(F.col(f"c{i}") * F.col(f"c{j}")).over(w).alias(f"p{i}_{j}")
        for i in range(len(cols))
        for j in range(i, len(cols))
    ]
    emb = base
    prefix = base.select("rn", *mom_cols)
    origins = prefix.filter(
        (F.col("rn") >= init_window) & (F.col("rn") <= n_emb - horizon)
    )
    if init_window > n_emb - horizon:
        raise ValueError(
            f"no rolling origins: sample of {n_emb} rows cannot hold "
            f"init_window={init_window} + horizon={horizon}"
        )
    # test rows t+1..t+horizon attach to origin t by range join, then
    # aggregate into one array per origin (horizon is small)
    tests = (
        origins.select("rn")
        .join(
            emb.select(F.col("rn").alias("trn"), *[f"c{i}" for i in range(len(cols))]),
            F.col("trn").between(F.col("rn") + 1, F.col("rn") + horizon),
        )
        .groupBy("rn")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("trn", *[f"c{i}" for i in range(len(cols))])
                )
            ).alias("tests_arr")
        )
    )
    grid = local_frame(spark, [(float(a),) for a in alpha_grid], "alpha double")
    cells = (
        origins.join(tests, "rn")
        .crossJoin(F.broadcast(grid))
        .repartition(max(len(alpha_grid) * 8, 8), "rn", "alpha")
    )
    out_schema = StructType(
        [
            StructField("eq", IntegerType()),
            StructField("alpha", DoubleType()),
            StructField("rn", IntegerType()),
            StructField("rmse", ArrayType(DoubleType())),
        ]
    )
    lams = lambda_sorted
    nc = len(cols)
    x_names = [f"x{i}" for i in range(k)]
    y_names = [f"y{j}" for j in range(len(series))]
    ic = intercept

    def run(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                t = int(row.rn)
                m = np.zeros((1 + nc, 1 + nc))
                m[0, 0] = t
                for i in range(nc):
                    m[0, 1 + i] = m[1 + i, 0] = getattr(row, f"s{i}")
                    for j in range(i, nc):
                        v = getattr(row, f"p{i}_{j}")
                        m[1 + i, 1 + j] = m[1 + j, 1 + i] = v
                tests_ = sorted(row.tests_arr, key=lambda s: s["trn"])
                Xt = np.array(
                    [[s[f"c{i}"] for i in range(k)] for s in tests_]
                )
                # every equation shares the lag design: one path call
                fits = enet_path(
                    Moments(cols=x_names + y_names, m=m), x_names, y_names,
                    float(row.alpha), lams, ic,
                )
                for eq_j, fit in enumerate(fits.values()):
                    yt = np.array([s[f"c{k + eq_j}"] for s in tests_])
                    pred = Xt @ fit.coefs + fit.intercepts
                    rmse = np.sqrt(((pred - yt[:, None]) ** 2).mean(axis=0))
                    out.append(
                        {
                            "eq": eq_j,
                            "alpha": float(row.alpha),
                            "rn": t,
                            "rmse": rmse.tolist(),
                        }
                    )
            yield pd.DataFrame(out)

    scored = cells.mapInPandas(run, out_schema)
    # mean over origins per λ position, in Spark — (eq, α, λ) only
    agg = (
        scored.select(
            "eq", "alpha", F.posexplode("rmse").alias("li", "v")
        )
        .groupBy("eq", "alpha", "li")
        .agg(F.avg("v").alias("v"), F.count("*").alias("cnt"))
        .collect()
    )
    res: dict[tuple[int, float], np.ndarray] = {}
    for r in agg:
        key = (int(r["eq"]), float(r["alpha"]))
        res.setdefault(key, np.zeros(len(lams)))[int(r["li"])] = float(r["v"])
    return [
        {"eq": eq, "alpha": a, "rmse": v.tolist()} for (eq, a), v in res.items()
    ]


def ezlasso_frame(
    wide_df: DataFrame,
    target: str,
    predictors: list[str],
    date_col: str = "obs_date",
) -> pd.DataFrame:
    """``ezlasso``'s input: target and predictors of ``wide_df``,
    complete rows in date order, in ONE guarded collect."""
    from ..plans.guards import guarded_topandas

    return guarded_topandas(
        wide_df.select(date_col, target, *predictors).dropna().orderBy(date_col),
        "ezlasso's estimation frame",
        "a per-origin distributed tuner (ml.tuning.rolling_origin_tune)",
    )


def ezlasso(
    pdf: pd.DataFrame,
    target: str,
    predictors: list[str],
    alpha: float = 0.0,
    maxnrvar: int = 10,
    init_window: int = 159,
    horizon: int = 1,
    rank_abs: bool = False,
    return_details: bool = False,
) -> list[str] | tuple[list[str], float, dict[str, float]]:
    """ezlasso (enetVAR.R:617-641) on the collected estimation frame
    ``pdf`` (``ezlasso_frame``; no Spark job): tune λ by
    rolling-origin RMSE on the single equation target ~ predictors
    (α fixed), refit on the full sample at bestTune, rank
    coefficients, take top maxnrvar, prepend the target.

    Quirk Q6 (faithful default): ranking is by SIGNED coefficient
    (``order(co, decreasing=T)``) so large negative predictors rank
    last; ``rank_abs=True`` ranks by |coef|.
    """
    X = pdf[predictors].to_numpy(dtype=float)
    y = pdf[target].to_numpy(dtype=float)
    lams = np.array(sorted(EZLASSO_LAMBDA_GRID, reverse=True))
    rmse = _cell_rmse(X, y, alpha, lams, init_window, horizon, intercept=False)
    order = np.argsort(lams)  # ascending λ, caret grid order
    best_lam = float(lams[order][int(np.argmin(rmse[order]))])

    names = [f"x{i}" for i in range(X.shape[1])] + ["y"]
    m = moments_from_numpy(np.column_stack([X, y]), names)
    fit = enet_path(
        m, names[:-1], ["y"], alpha,
        np.linspace(2 * best_lam, best_lam / 2, 10), intercept=False,
    )["y"]
    co, _ = fit.coef_at(best_lam)
    if rank_abs:
        # fix-mode: rank predictors by |coef| (no intercept row)
        idx = np.lexsort((np.arange(len(co)), -np.abs(co)))[:maxnrvar]
        chosen = [predictors[i] for i in idx]
    else:
        # faithful: glmnet's coef() matrix carries the '(Intercept)'
        # row FIRST (0 under intercept=FALSE) and the reference ranks
        # it WITH the predictors, dropping it only after the
        # top-maxnrvar slice (enetVAR.R:634-637) — so whenever fewer
        # than maxnrvar coefficients are strictly positive, the
        # intercept's 0 occupies a slot (beating every negative, and
        # winning ties at 0 by its first position under R's stable
        # order()) and only maxnrvar-1 predictors survive (quirk Q13)
        co_full = np.concatenate(([0.0], co))
        idx = np.lexsort((np.arange(len(co_full)), -co_full))[:maxnrvar]
        chosen = [predictors[i - 1] for i in idx if i != 0]
    sel = [target, *[c for c in chosen if c != target]]
    if return_details:
        # expose the tuned λ and refit coefficients so the driver
        # oracle can hash-check the whole chain, not just the names
        return sel, best_lam, {p: float(c) for p, c in zip(predictors, co)}
    return sel
