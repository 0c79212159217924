"""ACF / cross-ACF / PACF operators (W8, W9).

Reference: ``acf(y, lag.max)`` → ``acf$acf[2:(L+1), 1, ]`` — the
cross-correlation of every series with the target at lags 1..L
(enetVAR.R:649-653, 670-674); ``pacf`` profiles per series with a
blocked 4-at-a-time workaround (enetVAR.R:710-724).

Two normalizations:

- ``method="pearson"``: plain sample correlation of (x_t, y_{t-k})
  over the overlapping window — SQL-expressible (``corr`` +  ``lag``),
  oracle-checkable against DuckDB.
- ``method="r"``: R ``acf()`` semantics — means and scale taken over
  the FULL sample, covariance denominator T (not T-k):
  ``r_k = Σ_t (x_{t+k}-x̄)(y_t-ȳ) / (T·sx·sy)``, sx² = Σ(x-x̄)²/T.
  This is what parity with the reference's selection operators needs.

Scale shape: ONE window pass builds all L lagged values as an array,
``posexplode`` → (series, lag, value, lagged) rows, then a single
hash aggregation per (series, lag). One shuffle for all series × lags.

PACF is Durbin–Levinson on the (tiny) K×L ACF matrix, driver-side —
the reference's 4-at-a-time blocking was an R workaround we don't need.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SERIES = "series_id"
DATE = "obs_date"
VALUE = "value"


def acf_table(
    df: DataFrame,
    max_lag: int,
    value_col: str = VALUE,
    series_col: str = SERIES,
    date_col: str = DATE,
    method: str = "r",
) -> DataFrame:
    """Per-series autocorrelation at lags 1..max_lag →
    ``(series_id, lag, acf)``."""
    w = Window.partitionBy(series_col).orderBy(date_col)
    lags = F.array(
        *[F.lag(value_col, k).over(w) for k in range(1, max_lag + 1)]
    )
    exploded = (
        df.withColumn("__lags", lags)
        .select(
            series_col,
            F.col(value_col).alias("__x"),
            F.posexplode("__lags").alias("__k0", "__y"),
        )
        .withColumn("lag", F.col("__k0") + 1)
    )
    if method == "pearson":
        return (
            exploded.groupBy(series_col, "lag")
            .agg(F.corr("__x", "__y").alias("acf"))
            .orderBy(series_col, "lag")
        )
    # R acf(): full-sample mean/scale, denominator T.
    stats = df.groupBy(series_col).agg(
        F.avg(value_col).alias("__mean"),
        (F.sum(F.pow(F.col(value_col), 2)) / F.count(value_col)
         - F.pow(F.avg(value_col), 2)).alias("__var"),
        F.count(value_col).alias("__t"),
    )
    return (
        exploded.join(stats, series_col)
        .groupBy(series_col, "lag", "__mean", "__var", "__t")
        .agg(F.sum((F.col("__x") - F.col("__mean")) * (F.col("__y") - F.col("__mean"))).alias("__s"))
        .select(
            series_col,
            "lag",
            (F.col("__s") / (F.col("__t") * F.col("__var"))).alias("acf"),
        )
        .orderBy(series_col, "lag")
    )


def cross_acf_table(
    df: DataFrame,
    target_series: str,
    max_lag: int,
    value_col: str = VALUE,
    series_col: str = SERIES,
    date_col: str = DATE,
    method: str = "r",
) -> DataFrame:
    """Cross-correlation of the target with every series at lags
    1..max_lag: r_k(series) ~ corr(target_t, series_{t-k}).
    Output ``(series_id, lag, acf)``.

    The target row stream is broadcast-joined onto the lagged series
    rows by date — the target is one series, always broadcastable.
    """
    w = Window.partitionBy(series_col).orderBy(date_col)
    lags = F.array(*[F.lag(value_col, k).over(w) for k in range(1, max_lag + 1)])
    lagged = (
        df.withColumn("__lags", lags)
        .select(
            series_col,
            date_col,
            F.posexplode("__lags").alias("__k0", "__y"),
        )
        .withColumn("lag", F.col("__k0") + 1)
    )
    target = F.broadcast(
        df.filter(F.col(series_col) == target_series).select(
            F.col(date_col), F.col(value_col).alias("__x")
        )
    )
    pairs = lagged.join(target, date_col)
    if method == "pearson":
        return (
            pairs.groupBy(series_col, "lag")
            .agg(F.corr("__x", "__y").alias("acf"))
            .orderBy(series_col, "lag")
        )
    stats = df.groupBy(series_col).agg(
        F.avg(value_col).alias("__m"),
        (F.sum(F.pow(F.col(value_col), 2)) / F.count(value_col)
         - F.pow(F.avg(value_col), 2)).alias("__v"),
        F.count(value_col).alias("__t"),
    )
    tstats = (
        stats.filter(F.col(series_col) == target_series)
        .select(
            F.col("__m").alias("__mx"), F.col("__v").alias("__vx")
        )
    )
    return (
        pairs.join(stats, series_col)
        .crossJoin(F.broadcast(tstats))
        .groupBy(series_col, "lag", "__m", "__v", "__t", "__mx", "__vx")
        .agg(F.sum((F.col("__x") - F.col("__mx")) * (F.col("__y") - F.col("__m"))).alias("__s"))
        .select(
            series_col,
            "lag",
            (F.col("__s") / (F.col("__t") * F.sqrt(F.col("__v") * F.col("__vx")))).alias("acf"),
        )
        .orderBy(series_col, "lag")
    )


def pacf_from_acf(acf_values: np.ndarray) -> np.ndarray:
    """Durbin–Levinson: partial autocorrelations φ_kk from the ACF
    vector r_1..r_L. Driver-side — the ACF matrix is K×L ≲ 146×10."""
    r = np.asarray(acf_values, dtype=float)
    if np.isnan(r).any():
        # NULL ACF values (constant series, or fewer observations
        # than max_lag) would silently cascade into an all-NaN PACF
        raise ValueError(
            "ACF input contains NULL/NaN (constant or too-short "
            "series) — PACF is undefined; filter such series first"
        )
    L = len(r)
    phi = np.zeros((L + 1, L + 1))
    pacf = np.zeros(L)
    if L == 0:
        return pacf
    phi[1, 1] = r[0]
    pacf[0] = r[0]
    for k in range(2, L + 1):
        num = r[k - 1] - sum(phi[k - 1, j] * r[k - 1 - j] for j in range(1, k))
        den = 1.0 - sum(phi[k - 1, j] * r[j - 1] for j in range(1, k))
        phi[k, k] = num / den if den != 0 else 0.0
        for j in range(1, k):
            phi[k, j] = phi[k - 1, j] - phi[k, k] * phi[k - 1, k - j]
        pacf[k - 1] = phi[k, k]
    return pacf


def multivariate_pacf(X: np.ndarray, lag_max: int) -> np.ndarray:
    """Multivariate partial autocorrelation matrices via Whittle's
    (1963) generalized Durbin–Levinson recursion on the sample
    cross-correlation matrices — the algorithm behind R's
    ``pacf(mts)`` / ``acf(type="partial")`` (Reinsel 1997 §2.2),
    which the reference runs on 4-series blocks (enetVAR.R:710-724).

    X is (T, K); returns (lag_max, K, K) with [k-1] the forward
    last-coefficient matrix A_{kk} of the order-k fit on the
    STANDARDIZED series. At K=1 this reduces exactly to the
    univariate Durbin–Levinson PACF (tested).

    Driver-side: blocks are ≤5 series, lag_max ≤ 9 — trivially small.
    """
    X = np.asarray(X, dtype=float)
    X = X[~np.isnan(X).any(axis=1)]
    T, K = X.shape
    Xc = X - X.mean(axis=0)
    sd = np.sqrt((Xc**2).sum(axis=0) / T)
    sd = np.where(sd <= 0, 1.0, sd)
    Z = Xc / sd
    # R_k = (1/T) Σ_t z_{t+k} z_t'  (R acf normalization, denominator T)
    R = [Z[k:].T @ Z[: T - k] / T for k in range(lag_max + 1)]
    out = np.zeros((lag_max, K, K))
    # Whittle recursion state: forward Φ_{k-1,j} (A), backward
    # Ψ_{k-1,j} (B), forward/backward innovation covariances V, U.
    #   Δ_k  = R_k − Σ_j Φ_{k-1,j} R_{k-j}          (forward innovation)
    #   Δ̃_k = R_k' − Σ_j Ψ_{k-1,j} R_{k-j}' = Δ_k'
    #   Φ_kk = Δ_k U_{k-1}⁻¹ ;  Ψ_kk = Δ_k' V_{k-1}⁻¹
    #   Φ_{k,j} = Φ_{k-1,j} − Φ_kk Ψ_{k-1,k-j}  (and symmetrically)
    #   V_k = V_{k-1} − Φ_kk Δ_k' ;  U_k = U_{k-1} − Ψ_kk Δ_k
    A: list[np.ndarray] = []
    B: list[np.ndarray] = []
    V = R[0].copy()
    U = R[0].copy()
    for k in range(1, lag_max + 1):
        Dk = R[k] - sum(A[j] @ R[k - 1 - j] for j in range(k - 1))
        Akk = np.linalg.solve(U.T, Dk.T).T  # Δ_k @ U^{-1}
        Bkk = np.linalg.solve(V.T, Dk).T  # Δ_k' @ V^{-1}
        A_new = [A[j] - Akk @ B[k - 2 - j] for j in range(k - 1)] + [Akk]
        B_new = [B[j] - Bkk @ A[k - 2 - j] for j in range(k - 1)] + [Bkk]
        V = V - Akk @ Dk.T
        U = U - Bkk @ Dk
        A, B = A_new, B_new
        out[k - 1] = Akk
    return out
