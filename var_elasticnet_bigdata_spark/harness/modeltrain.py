"""Rolling-origin pseudo-out-of-sample experiment — the engine's
flagship pipeline (reference ``modeltrain``/``modeltrain.slim``/
``ar1_train``, enetVAR.R:427-530, 568-609; SURVEY §2.8b E1/E2, M9).

Spark shape (SURVEY §3.2): the origin loop is embarrassingly
parallel. ``_origin_grid`` is the one place the origin sequence and
the aligned target window are decided; every entry point calls it.
The input size picks the physical path of the generic fan-out
(``modeltrain``): when the date axis fits the driver ceiling
(``plans.guards.max_driver_rows``) the matrix is broadcast and each
task fits one origin; otherwise an origins DataFrame is range-joined
to the observation rows (every origin sees rows ≤ its date) and
``applyInPandas`` over origin groups runs the per-origin fit +
recursive forecast. The result is a relational forecast table

    (origin_idx, horizon, yhat, target_idx, target_date, y_true, err)

on which every metric is a plain aggregation. The closed-form AR(1)
benchmark needs no fan-out at all: ``_ar1_aligned`` builds its whole
forecast grid from one cumulative prefix-moment frame, and
``ar1_rolling_relational``/``theils_u_ar1_relational`` differ only
in their final aggregate.

Semantics replicated from the reference:
- origin sequence: ``window.size = which(dates==start.pred) − h``,
  origins = dates[window.size .. len−1] (1-based), step ``step``.
- horizons recorded: ``pred.ind = (1, 2, 4, 8)`` for h=8
  (enetVAR.R:437).
- horizon alignment (W6): the reference's ``h1.ind…h8.ind`` column
  windows align all horizons onto the same realized target dates; we
  get the identical set relationally by keeping targets from
  ``start.pred`` through the last date (proved equivalent in
  tests/test_modeltrain.py::test_faithful_alignment_equivalence).
- MSFE = Σerr²/n over the aligned window; Theil's U vs the "random
  walk" (quirk Q4: the reference's RW forecast for target t+h is the
  realized value at t+h−1).
- quirk Q3 (faithful mode): the RW denominator matrix ``u_2`` is
  seeded with a scalar 0 column, so each horizon's RW sum is shifted
  one origin back and the h=8 window includes the literal 0 seed.
  ``rw_mode="faithful"`` reproduces this; ``"fixed"`` aligns RW
  errors to the same targets as the model errors.
- quirk Q2: end-of-sample truths are 0-padded in the reference, but
  the padded cells never survive the h*.ind alignment, so metrics are
  unaffected; we simply drop unrealized targets.
- residuals: from the LAST origin's refit only (enetVAR.R:487).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..plans.cachereg import swap_cache
from ..plans.guards import max_driver_rows
from ..sources.tables import local_frame

PRED_IND = (1, 2, 4, 8)  # recorded horizons for h=8 (enetVAR.R:437)


@dataclass
class ModeltrainResult:
    forecasts: DataFrame  # relational forecast/error table
    msfe: dict[int, float]
    theils_u_rw: dict[int, float]
    theils_u_ar1: dict[int, float] | None
    residuals: DataFrame | None
    n_aligned: int


def _pred_ind(h: int) -> list[int]:
    """``c(1, 2, 2*seq(2, h/2, by=2))`` — (1,2,4,8) for h=8."""
    out = [1, 2] + [2 * k for k in range(2, h // 2 + 1, 2)]
    return [i for i in out if i <= h]


def _dates(wide_df: DataFrame, date_col: str) -> list:
    """Only the (small) time axis comes to the driver — the range-join
    path never materializes the value matrix."""
    return [
        r[0] for r in wide_df.select(date_col).orderBy(date_col).collect()
    ]


def _matrix(wide_df: DataFrame, series: list[str], date_col: str) -> np.ndarray:
    """Full estimation matrix — broadcast path only."""
    pdf = wide_df.select(date_col, *series).orderBy(date_col).toPandas()
    return pdf[series].to_numpy(dtype=float)


def _truth_table(wide_df: DataFrame, target: str, date_col: str) -> DataFrame:
    """(target_idx, target_date, y_true) built relationally from the
    wide frame — the reference indexes the date vector positionally,
    so the index is a row_number over the (small) time axis."""
    from pyspark.sql import Window

    w = Window.orderBy("target_date")
    return wide_df.select(
        F.col(date_col).alias("target_date"),
        F.col(f"`{target}`").cast("double").alias("y_true"),
    ).withColumn("target_idx", F.row_number().over(w) - F.lit(1))


_FC_SCHEMA = StructType(
    [
        StructField("origin_idx", IntegerType()),
        StructField("horizon", IntegerType()),
        StructField("yhat", DoubleType()),
    ]
)


def _forecast_table(
    spark: SparkSession,
    wide_df: DataFrame,
    series: list[str],
    dates: list,
    origin_rows: list[int],
    h: int,
    date_col: str,
    fit_predict,  # (y_matrix) -> np.ndarray (h, K) or (h,)
    y: np.ndarray | None = None,
) -> DataFrame:
    """Distribute per-origin fits → (origin_idx, horizon, yhat).

    Two physical strategies, picked by the caller from the size of
    the date axis:

    - **broadcast** (the frontier fits the driver ceiling, which
      post-aggregation it almost always does): broadcast ``y`` once
      and fan out the ORIGIN LIST, ``repartitionByRange`` so every
      task gets exactly one contiguous origin. No observation row
      ever shuffles, and the scheduler sees one task per origin — no
      hash-collision stragglers (75 keys into 96 hash partitions
      stack 2-3 heavy late origins in one task; range partitioning
      of the 1-row-per-origin frame is collision-free).
    - **range-join** (``y=None``): origins × rows range join +
      ``applyInPandas`` per origin group — for estimation frames too
      large to broadcast; all slicing stays distributed and the
      driver never materializes anything wider than the date axis
      (truth/RW metrics are computed relationally from ``wide_df``).
    """
    pred_ind = _pred_ind(h)

    if y is None:
        origins = local_frame(
            spark,
            [(int(i), dates[i]) for i in origin_rows],
            schema=f"origin_idx int, origin_date {'date' if not hasattr(dates[0], 'hour') else 'timestamp'}",
        )
        data = wide_df.select(date_col, *series)
        joined = origins.join(data, F.col(date_col) <= F.col("origin_date"))
        ser = list(series)
        dcol = date_col

        def run_origin(key, pdf):
            pdf = pdf.sort_values(dcol)
            mat = pdf[ser].to_numpy(dtype=float)
            preds = fit_predict(mat)
            target = preds[:, 0] if preds.ndim == 2 else preds
            return pd.DataFrame(
                [
                    {"origin_idx": int(key[0]), "horizon": int(p),
                     "yhat": float(target[p - 1])}
                    for p in pred_ind
                ]
            )

        return joined.groupBy("origin_idx").applyInPandas(run_origin, _FC_SCHEMA)

    bcy = spark.sparkContext.broadcast(y)
    origins = local_frame(
        spark, [(int(i),) for i in origin_rows], schema="origin_idx int"
    ).repartitionByRange(len(origin_rows), "origin_idx")

    def run(batches):
        Y = bcy.value
        for pdf in batches:
            for i in pdf["origin_idx"]:
                preds = fit_predict(Y[: int(i) + 1])
                target = preds[:, 0] if preds.ndim == 2 else preds
                yield pd.DataFrame(
                    [
                        {"origin_idx": int(i), "horizon": int(p),
                         "yhat": float(target[p - 1])}
                        for p in pred_ind
                    ]
                )

    return origins.mapInPandas(run, _FC_SCHEMA)


def _attach_truth(fc: DataFrame, truth: DataFrame) -> DataFrame:
    """Join realized values by TARGET INDEX (the reference indexes the
    date vector, not calendar arithmetic). Unrealized targets get
    NULL truth (fixed Q2 — no zero padding). The truth table is one
    row per date — always broadcastable."""
    fc = fc.withColumn("target_idx", F.col("origin_idx") + F.col("horizon"))
    return (
        fc.join(F.broadcast(truth), on="target_idx", how="left")
        .withColumn("err", F.col("yhat") - F.col("y_true"))
    )


def _rw_cells(
    origin_rows: list[int], pred_ind: list[int], h: int, rw_mode: str
) -> list[tuple[int, int]]:
    """(horizon, target_idx) cells of the reference's h*.ind RW
    windows (quirks Q2/Q3/Q4); target_idx −1 encodes the scalar-0
    seed column."""
    n_orig = len(origin_rows)
    # the literal transliteration of enetVAR.R:466-469 (1-based →
    # 0-based): h1.ind=h:n, h2.ind=(h-1):(n-1), h4.ind=(h-3):(n-3),
    # h8.ind=1:(n-h+1). NOTE the reference's own h8 formula breaks
    # the (h-hh, n-hh) pattern whenever h != 8 — the reference only
    # ever runs h=8, where they coincide; we keep its literal form
    # (horizons outside {1,2,4,8} use the generic pattern)
    sel = {1: (h - 1, n_orig - 1), 2: (h - 2, n_orig - 2),
           4: (h - 4, n_orig - 4), 8: (0, n_orig - h)}
    cells = []
    for hh in pred_ind:
        a, b = sel.get(hh, (h - hh, n_orig - hh))
        for j in range(a, b + 1):
            jj = j - 1 if rw_mode == "faithful" else j  # Q3 seed shift
            if jj < 0:
                cells.append((int(hh), -1))  # the scalar-0 seed column
                continue
            cells.append((int(hh), int(origin_rows[jj] + hh)))
    return cells


def _rw_denominators_local(
    y0: np.ndarray,
    origin_rows: list[int],
    pred_ind: list[int],
    h: int,
    rw_mode: str,
) -> dict[int, float]:
    """Driver-side twin of ``_rw_denominator_frame`` for the broadcast
    path: the target series is already on the driver, so the
    denominators are a numpy fold — no Spark jobs (the relational
    frame re-evaluates the upstream wide-frame aggregation once per
    broadcast side). Cell semantics identical: out-of-range truths
    coalesce to the reference's literal 0 padding."""
    n = len(y0)
    out: dict[int, float] = {}
    for hh, t in _rw_cells(origin_rows, pred_ind, h, rw_mode):
        y_tr = float(y0[t]) if 0 <= t < n else 0.0
        y_lag = float(y0[t - 1]) if 0 <= t - 1 < n else 0.0
        out[hh] = out.get(hh, 0.0) + (y_tr - y_lag) ** 2
    return out


def _rw_denominator_frame(
    spark: SparkSession,
    truth: DataFrame,
    origin_rows: list[int],
    pred_ind: list[int],
    h: int,
    rw_mode: str,
) -> DataFrame:
    """Theil's-U random-walk denominators Σ(y_t − y_{t−1})² over the
    reference's h*.ind origin windows (quirks Q2/Q3/Q4), as a lazy
    ``(horizon, denom)`` frame built RELATIONALLY from the truth
    table: the (horizon, target_idx) cells are a tiny driver-built
    list (4·n_origins rows), joined twice against the broadcast
    truth; out-of-sample cells coalesce to the reference's literal 0
    padding."""
    cells = _rw_cells(origin_rows, pred_ind, h, rw_mode)
    cdf = local_frame(spark, cells, "horizon int, target_idx int")
    tr = truth.select("target_idx", F.col("y_true").alias("y_tr"))
    yt = truth.select(
        (F.col("target_idx") + 1).alias("target_idx"),
        F.col("y_true").alias("y_lag"),
    )
    return (
        cdf.join(F.broadcast(tr), "target_idx", "left")
        .join(F.broadcast(yt), "target_idx", "left")
        .withColumn(
            "term",
            (F.coalesce("y_tr", F.lit(0.0)) - F.coalesce("y_lag", F.lit(0.0)))
            ** 2,
        )
        .groupBy("horizon")
        .agg(F.sum("term").alias("denom"))
    )


def _origin_grid(
    dates: list, start_pred, h: int, step: int = 1
) -> tuple[int, list[int]]:
    """The reference's rolling-origin grid over the date axis:
    ``(start_idx, origin_rows)``. ``start_idx`` is the 0-based
    position of ``start_pred``; the aligned target window is
    ``start_idx .. n−1``, equivalent to the reference's h*.ind column
    windows (see module docstring). ``origin_rows`` is
    ``which(dates==start.pred) − h .. n−2`` (0-based), every
    ``step``-th origin."""
    try:
        start_idx = dates.index(start_pred)
    except ValueError as e:
        raise ValueError(f"start_pred {start_pred!r} not in date index") from e
    ws = start_idx - h  # 0-based first origin (R: which(...) − h, 1-based)
    if ws < 1:
        raise ValueError("not enough pre-sample for the first origin")
    return start_idx, list(range(ws, len(dates) - 1, step))


def modeltrain(
    spark: SparkSession,
    wide_df: DataFrame,
    series: list[str],
    start_pred,
    step: int = 1,
    h: int = 8,
    method: str = "enet",
    alpha: float = 0.4,
    lam: float | None = None,
    lag: int = 1,
    const: bool = False,
    date_col: str = "obs_date",
    rw_mode: str = "fixed",
    with_ar1: bool = True,
    with_residuals: bool = False,
) -> ModeltrainResult:
    """The OOS experiment (E1). ``method``: 'enet'
    (``ml.var_model.fit_enet_var_local``), 'genet'
    (``ml.group_enet.LocalGroupEnetVAR``) or 'ar1' (``ml.local.LocalAR1``).
    ``rw_mode``: 'fixed' | 'faithful' (quirk Q3).
    ``step`` > 1 is an engine extension (the reference always steps
    by one origin): the MSFE numerator runs over the aligned target
    window while the RW/Theil denominators keep the reference's
    contiguous h*.ind column windows, which assume step=1 — Theil's U
    is exact for step=1 and approximate otherwise.

    Physical path: the date axis (collected anyway) sizes the
    estimation matrix. Up to ``plans.guards.max_driver_rows()`` dates
    the matrix is broadcast and each task fits one origin; above it
    the range-join path ships observation rows to origin groups and
    the driver touches nothing wider than the date axis."""
    from ..ml.local import LocalAR1
    from ..ml.var_model import fit_enet_var_local

    dates = _dates(wide_df, date_col)
    start_idx, origin_rows = _origin_grid(dates, start_pred, h, step)
    n = len(dates)
    # only the broadcast fan-out materializes the estimation matrix on
    # the driver, and only when its row count is within the ceiling
    y = _matrix(wide_df, series, date_col) if n <= max_driver_rows() else None

    ser = list(series)
    p_, a_, l_, c_ = lag, alpha, lam, const

    if method == "enet":
        def fit_predict(mat: np.ndarray) -> np.ndarray:
            m = fit_enet_var_local(mat, ser, p=p_, alpha=a_, lam=l_, intercept=c_)
            return m.predict(h)
    elif method == "genet":
        from ..ml.group_enet import LocalGroupEnetVAR

        def fit_predict(mat: np.ndarray) -> np.ndarray:
            m = LocalGroupEnetVAR(mat, ser, p=p_, alpha=a_, intercept=c_)
            return m.predict(h)
    elif method == "ar1":
        def fit_predict(mat: np.ndarray) -> np.ndarray:
            m = LocalAR1(mat[:, 0], const=c_)
            return m.predict(h)
    else:
        raise ValueError(f"unknown method {method!r}")

    fc = _forecast_table(
        spark, wide_df, ser, dates, origin_rows, h, date_col, fit_predict,
        y=y,
    )
    if y is not None:
        # broadcast mode: the frontier is already on the driver —
        # build the (tiny) truth table from it instead of
        # re-evaluating the upstream wide-frame plan per consumer
        dtype = "timestamp" if hasattr(dates[0], "hour") else "date"
        # NaN → None: a missing target must surface as SQL NULL like
        # the join-mode truth table, not a Double NaN that poisons
        # sum() while still being counted
        truth = local_frame(
            spark,
            [
                (
                    int(i),
                    dates[i],
                    None if math.isnan(float(y[i, 0])) else float(y[i, 0]),
                )
                for i in range(n)
            ],
            schema=f"target_idx int, target_date {dtype}, y_true double",
        )
    else:
        truth = _truth_table(wide_df, ser[0], date_col)
    # one slot per method: the nested AR(1) benchmark run below must
    # not evict these forecasts
    fc = swap_cache(f"modeltrain.forecasts.{method}", _attach_truth(fc, truth))

    aligned = fc.filter(
        (F.col("target_idx") >= start_idx) & (F.col("target_idx") <= n - 1)
    )
    agg = (
        aligned.groupBy("horizon")
        .agg(
            F.sum(F.col("err") * F.col("err")).alias("sse"),
            F.count("err").alias("n"),
        )
        .collect()
    )
    msfe = {int(r["horizon"]): float(r["sse"]) / int(r["n"]) for r in agg}
    n_aligned = min(int(r["n"]) for r in agg) if agg else 0

    # ---- Theil's U vs the "random walk" (Q3/Q4) — relational ----
    theils_rw: dict[int, float] = {}
    pred_ind = _pred_ind(h)
    model_sse = {int(r["horizon"]): float(r["sse"]) for r in agg}
    if y is not None:
        denoms = _rw_denominators_local(
            y[:, 0], origin_rows, pred_ind, h, rw_mode
        )
    else:
        denoms = {
            int(r["horizon"]): float(r["denom"])
            for r in _rw_denominator_frame(
                spark, truth, origin_rows, pred_ind, h, rw_mode
            ).collect()
        }
    for hh in pred_ind:
        denom = denoms.get(hh, 0.0)
        theils_rw[hh] = (
            math.sqrt(model_sse.get(hh, float("nan")) / denom)
            if denom > 0
            else float("nan")
        )

    # ---- AR(1) benchmark + Theil's U vs AR(1) (M9, M23) ----
    tu_ar1 = None
    if with_ar1 and method != "ar1":
        ar1 = modeltrain(
            spark, wide_df, ser, start_pred, step=step, h=h, method="ar1",
            alpha=alpha, lag=lag, const=False, date_col=date_col,
            with_ar1=False, rw_mode=rw_mode,
        )
        tu_ar1 = {
            hh: math.sqrt(msfe[hh]) / math.sqrt(ar1.msfe[hh])
            for hh in msfe
            if hh in ar1.msfe and ar1.msfe[hh] > 0
        }

    residuals = None
    if with_residuals and method == "enet":
        from ..ml.var_model import fit_enet_var, residual_frame

        last = dates[origin_rows[-1]]
        train = wide_df.filter(F.col(date_col) <= F.lit(last))
        m = fit_enet_var(train, ser, p=lag, alpha=alpha, lam=lam, intercept=const,
                         date_col=date_col)
        residuals = residual_frame(m)

    return ModeltrainResult(
        forecasts=fc,
        msfe=msfe,
        theils_u_rw=theils_rw,
        theils_u_ar1=tu_ar1,
        residuals=residuals,
        n_aligned=n_aligned,
    )


def _ar1_aligned(
    spark: SparkSession,
    wide_df: DataFrame,
    target: str,
    start_pred,
    h: int,
    date_col: str,
    dates: list | None,
) -> tuple[DataFrame, DataFrame, list[int]]:
    """The rolling-origin AR(1) forecast grid as ONE relational DAG
    — no Python boundary, no broadcast matrix, no per-origin tasks.

    The CSS AR(1) estimate is a ratio of PREFIX moments
    (φ_o = Σ_{t≤o} y_{t−1}y_t / Σ_{t≤o} y_{t−1}²), so every origin's
    fit is a cumulative window over the series. One cumulative-moment
    frame yields φ, the origins of ``_origin_grid``, a broadcast
    horizon fan-out carrying both forecasts (AR(1) ``yhat = φ^h·y_o``
    and random walk ``y_o``) and the target-index truth join.

    Returns ``(aligned, truth, origin_rows)``: the lazy
    ``(target_idx, origin_idx, horizon, yhat, y_o, y_true)`` grid
    filtered to the aligned target window, the ``(target_idx,
    y_true)`` truth table and the origin indices."""
    from pyspark.sql import Window

    if dates is None:
        dates = _dates(wide_df, date_col)
    start_idx, origin_rows = _origin_grid(dates, start_pred, h)
    n = len(dates)
    wo = Window.orderBy(date_col)
    wc = Window.orderBy(date_col).rowsBetween(Window.unboundedPreceding, 0)
    d = (
        wide_df.select(date_col, F.col(f"`{target}`").cast("double").alias("y"))
        .withColumn("rn", F.row_number().over(wo) - F.lit(1))
        .withColumn("ylag", F.lag("y").over(wo))
        .withColumn("num", F.sum(F.col("ylag") * F.col("y")).over(wc))
        .withColumn("den", F.sum(F.col("ylag") * F.col("ylag")).over(wc))
    )
    # The cumulative-moment frame feeds every consumer (origins,
    # truth, the RW denominators) — stage it ONCE (VERDICT r7 item 4:
    # the unshared frame re-ran the upstream wide-frame aggregation
    # per consumer). It is the post-aggregation time axis: tiny at
    # any input scale.
    d = swap_cache("modeltrain.ar1_moments", d)
    phi = F.when(F.col("den") > 0, F.col("num") / F.col("den")).otherwise(F.lit(0.0))
    origins = d.filter(
        (F.col("rn") >= origin_rows[0]) & (F.col("rn") <= origin_rows[-1])
    ).select(
        F.col("rn").alias("origin_idx"), F.col("y").alias("y_o"), phi.alias("phi")
    )
    hz = local_frame(spark, [(int(p),) for p in _pred_ind(h)], "horizon int")
    fc = origins.join(F.broadcast(hz)).select(
        "origin_idx",
        "horizon",
        (F.pow("phi", F.col("horizon")) * F.col("y_o")).alias("yhat"),
        "y_o",
        (F.col("origin_idx") + F.col("horizon")).alias("target_idx"),
    )
    truth = d.select(F.col("rn").alias("target_idx"), F.col("y").alias("y_true"))
    aligned = fc.join(F.broadcast(truth), "target_idx", "left").filter(
        (F.col("target_idx") >= start_idx) & (F.col("target_idx") <= n - 1)
    )
    return aligned, truth, origin_rows


def ar1_rolling_relational(
    spark: SparkSession,
    wide_df: DataFrame,
    target: str,
    start_pred,
    h: int = 8,
    date_col: str = "obs_date",
    rw_mode: str = "fixed",
    dates: list | None = None,
) -> DataFrame:
    """The rolling-origin AR(1) experiment (M9/M23 benchmark arm of
    E1) over the ``_ar1_aligned`` grid: MSFE and Theil's U vs the
    random walk (the ``_rw_denominator_frame`` join). The closed-form
    prefix-moment fits make this the 100 TB path for closed-form
    benchmarks (the generic ``modeltrain`` fan-out is for estimators
    that need an iterative solver); results are identical (asserted
    in tests/test_modeltrain.py).

    Returns a lazy ``(horizon, msfe, theils_u_rw)`` DataFrame.

    Scale note: the cumulative windows order globally over ONE
    series' time axis — bounded by the post-aggregation quarter/day
    count (thousands of rows at 100 TB of raw input), the same
    frontier the reference materializes wholesale. For many-series
    batch runs, partition the same windows by series_id (the
    operators in ``operators/timeseries.py`` show the pattern).
    """
    aligned, truth, origin_rows = _ar1_aligned(
        spark, wide_df, target, start_pred, h, date_col, dates
    )
    err = F.col("yhat") - F.col("y_true")
    msfe = aligned.groupBy("horizon").agg(
        F.sum(err * err).alias("sse"), F.count(err).alias("cnt")
    )
    denom = _rw_denominator_frame(
        spark, truth, origin_rows, _pred_ind(h), h, rw_mode
    )
    return (
        msfe.join(denom, "horizon")
        .select(
            "horizon",
            F.round(F.col("sse") / F.col("cnt"), 6).alias("msfe"),
            F.round(F.sqrt(F.col("sse") / F.col("denom")), 6).alias(
                "theils_u_rw"
            ),
        )
        .orderBy("horizon")
    )


def ar1_train(
    spark: SparkSession,
    wide_df: DataFrame,
    series: list[str],
    start_pred,
    step: int = 1,
    h: int = 8,
    const: bool = False,
    date_col: str = "obs_date",
) -> ModeltrainResult:
    """AR(1) rolling-origin benchmark (enetVAR.R:568-609)."""
    return modeltrain(
        spark, wide_df, series, start_pred, step=step, h=h, method="ar1",
        const=const, date_col=date_col, with_ar1=False,
    )


def theils_u_ar1(
    spark: SparkSession,
    wide_df: DataFrame,
    series: list[str],
    start_pred,
    mse_pred: float,
    horizon: int,
    date_col: str = "obs_date",
) -> float:
    """RMSE(model)/RMSE(AR1) (enetVAR.R:847-855)."""
    ar1 = ar1_train(spark, wide_df, series, start_pred, date_col=date_col)
    return math.sqrt(mse_pred) / math.sqrt(ar1.msfe[horizon])


def theils_u_ar1_relational(
    spark: SparkSession,
    wide_df: DataFrame,
    target: str,
    start_pred,
    h: int = 8,
    date_col: str = "obs_date",
    dates: list | None = None,
) -> DataFrame:
    """Per-horizon Theil's U against the AR(1) benchmark (M23,
    enetVAR.R:847-855: ``U = sqrt(mse_pred)/sqrt(ar1$msfe[h])``) as
    ONE relational DAG — the table form of the scalar
    `theils_u_ar1`, with the random-walk forecast ``ŷ_{o+h} = y_o``
    (the W10 naive arm) standing in as the scored model so the WHOLE
    statistic, numerator and denominator, replays in ANSI SQL. Both
    models score the SAME ``_ar1_aligned`` grid as
    `ar1_rolling_relational` (same origins, same h*.ind alignment);
    only the final aggregate differs.

    Returns a lazy ``(horizon, u_ar1, msfe_model, msfe_ar1)``
    DataFrame. Float discipline: U = ROUND(SQRT(sse_m/cnt) /
    SQRT(sse_a/cnt), 6) with identical op order in the DuckDB twin.
    """
    aligned, _, _ = _ar1_aligned(
        spark, wide_df, target, start_pred, h, date_col, dates
    )
    err_a = F.col("yhat") - F.col("y_true")
    err_m = F.col("y_o") - F.col("y_true")
    agg = aligned.groupBy("horizon").agg(
        F.sum(err_m * err_m).alias("sse_m"),
        F.sum(err_a * err_a).alias("sse_a"),
        F.count(err_a).alias("cnt"),
    )
    return agg.select(
        "horizon",
        F.round(
            F.sqrt(F.col("sse_m") / F.col("cnt"))
            / F.sqrt(F.col("sse_a") / F.col("cnt")),
            6,
        ).alias("u_ar1"),
        F.round(F.col("sse_m") / F.col("cnt"), 6).alias("msfe_model"),
        F.round(F.col("sse_a") / F.col("cnt"), 6).alias("msfe_ar1"),
    ).orderBy("horizon")
