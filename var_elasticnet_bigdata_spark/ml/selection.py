"""ACF/PACF variable-selection operators (SURVEY §2.8 M15-M17).

Reference semantics (enetVAR.R:646-756):

- ``acf.var.selection`` (M15): rank series by the mean squared
  cross-ACF with the target over lags 1..L; top maxnrvar; GDP
  prepended.
- ``acf.var.selection2`` (M16): diversity-aware — iteratively pick
  the series whose ACF profile is FARTHEST (mean squared distance)
  from the last pick, zeroing already-selected columns and dropping
  the ``K/maxnrvar`` lowest-distance series each round.
- ``pacf.var.selection`` (M17): the same greedy scheme on PACF
  profiles, which the reference computes in 4-series blocks (an R
  ``pacf`` API limitation; block composition affects multivariate
  partials). Default mode computes per-series univariate PACF via
  Durbin–Levinson (block-independent, arguably better);
  ``faithful_blocked=True`` replicates the reference's blocked
  multivariate partials exactly (Whittle recursion,
  operators/acf.py:multivariate_pacf).

⚠ Quirk Q10 (NEW, beyond SURVEY §2.9) — M15's GDP handling:
``var.selection[-(var.selection=="GDP")]`` negates a LOGICAL vector,
which in R indexes as ``[-1]`` whenever GDP matched anywhere — it
drops the FIRST (top-ranked) element, not GDP, and then prepends GDP
leaving the duplicate inside. Default fixed (drop GDP itself);
``faithful_q10=True`` reproduces the reference.

⚠ Quirk Q11 (NEW) — M16/M17's low-score pruning indexes
``order(ms.ac[-selected])`` into the REDUCED vector but records the
result as GLOBAL indices, so the "dropped" series are mislabeled
after the first removal. Default implements the documented intent
(drop the lowest-scored unselected series); ``faithful_q11=True``
replicates the reduced-vector index confusion exactly.

Spark shape: the K×L cross-ACF matrix comes from ONE windowed pass
(operators/acf.py); the greedy loops run on that tiny matrix on the
driver.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.acf import (
    acf_table,
    cross_acf_table,
    multivariate_pacf,
    pacf_from_acf,
)


def _cross_acf_matrix(
    df: DataFrame,
    target: str,
    max_lag: int,
    value_col="value",
    series_col="series_id",
    date_col="obs_date",
) -> tuple[list[str], np.ndarray]:
    """(series_names, L×K matrix of target-vs-series cross-ACF)."""
    rows = cross_acf_table(
        df, target, max_lag, value_col, series_col, date_col, method="r"
    ).collect()
    by_series: dict[str, dict[int, float]] = {}
    for r in rows:
        by_series.setdefault(r[series_col], {})[r["lag"]] = r["acf"]
    names = sorted(by_series)
    M = np.array(
        [[by_series[s][k] for s in names] for k in range(1, max_lag + 1)]
    )
    return names, M


def acf_var_selection(
    df: DataFrame,
    target: str,
    lag: int = 5,
    maxnrvar: int = 10,
    faithful_q10: bool = False,
    precomputed: tuple[list[str], np.ndarray] | None = None,
    **cols,
) -> list[str]:
    """M15: top-N series by mean squared cross-ACF with the target
    (lags 1..lag), target prepended.

    ``precomputed``: an already-collected ``_cross_acf_matrix``
    result — M15 and M16 rank the SAME (target, lag) cross-ACF
    matrix, so a caller running both should pay the windowed ACF
    pass once (r10: halves the driver-job count of the combined
    selection query)."""
    names, M = (
        precomputed
        if precomputed is not None
        else _cross_acf_matrix(df, target, lag, **cols)
    )
    scores = (M**2).mean(axis=0)
    # descending, deterministic tiebreak on series name (Q8 fix)
    order = sorted(range(len(names)), key=lambda i: (-scores[i], names[i]))
    sel = [names[i] for i in order[:maxnrvar]]
    if target not in sel:
        return [target, *sel]
    if faithful_q10:
        # R quirk: drops element 1 (top-ranked), keeps GDP inside
        return [target, *sel[1:]]
    return [target, *[s for s in sel if s != target]]


def _greedy_diverse(
    names: list[str],
    prof: np.ndarray,  # L×K profile matrix
    target: str,
    maxnrvar: int,
    faithful_q11: bool = False,
) -> list[str]:
    """The M16/M17 greedy diversity loop (enetVAR.R:665-701)."""
    K = len(names)
    scores = (prof**2).mean(axis=0)
    order = np.argsort(-scores, kind="stable")
    first = order[0] if names[order[0]] != target else order[1]
    selection = [first]
    selected_idx = [first]
    removed: set[int] = set()
    drop_n = int(np.floor(K / maxnrvar))
    while len(selection) < maxnrvar - 1:
        last = selection[-1]
        dist = ((prof - prof[:, [last]]) ** 2).mean(axis=0)
        dist[selected_idx] = 0.0
        if removed:
            dist[list(removed)] = 0.0
        order = np.argsort(-dist, kind="stable")
        pick = order[0] if names[order[0]] != target else order[1]
        if faithful_q11:
            # replicate the reduced-vector index confusion: order the
            # REDUCED score vector ascending, record those indices as
            # if they were global. The reference reduces by
            # ``-select.ind.total`` which accumulates the PICKS and
            # the previously RECORDED (already-confused) indices
            # alike (enetVAR.R:681-694) — both must leave the vector
            mask = np.ones(K, bool)
            mask[selected_idx] = False
            if removed:
                mask[list(removed)] = False
            reduced = dist[mask]
            low = np.argsort(reduced, kind="stable")[:drop_n]
            removed.update(int(i) for i in low)
        else:
            cand = [
                i
                for i in np.argsort(dist, kind="stable")
                if i not in selected_idx and i not in removed and i != pick
            ]
            removed.update(int(i) for i in cand[:drop_n])
        selection.append(int(pick))
        selected_idx.append(int(pick))
        if len(removed) + len(selection) >= K:
            break
    return [target, *[names[i] for i in selection]]


def acf_var_selection2(
    df: DataFrame,
    target: str,
    lag: int = 10,
    maxnrvar: int = 10,
    faithful_q11: bool = False,
    precomputed: tuple[list[str], np.ndarray] | None = None,
    **cols,
) -> list[str]:
    """M16: diversity-aware ACF selection. ``precomputed`` as in
    `acf_var_selection` — the two operators share the matrix."""
    names, M = (
        precomputed
        if precomputed is not None
        else _cross_acf_matrix(df, target, lag, **cols)
    )
    return _greedy_diverse(names, M, target, maxnrvar, faithful_q11)


def pacf_var_selection(
    df: DataFrame,
    target: str,
    lag: int = 8,
    maxnrvar: int = 10,
    faithful_q11: bool = False,
    faithful_blocked: bool = False,
    column_order: list[str] | None = None,
    value_col: str = "value",
    series_col: str = "series_id",
    date_col: str = "obs_date",
) -> list[str]:
    """M17: the greedy diversity scheme on PACF profiles.

    Default mode: per-series univariate Durbin–Levinson from the
    one-pass ACF table — block-composition independent.

    ``faithful_blocked=True`` replicates the reference's 4-at-a-time
    *multivariate* pacf (enetVAR.R:710-724): block 0 = the first four
    columns (target + 3); block i = target merged with columns
    4i..4i+3; each block's Whittle-recursion partial matrices
    contribute the target row at lags 2..lag+1 (R's ``$acf[-1,1,]``
    drop of the first lag). Block composition changes the partials —
    pass ``column_order`` to fix it (the reference uses spreadsheet
    column order; default here is target first then sorted names).
    The reference errors out unless NCOL %% 4 ∈ {0, 3} (its
    ``ind <- (i+1)*4-1`` fallback indexes past the frame otherwise —
    the 147-column SW frame is 4·36+3); we raise the same way."""
    if faithful_blocked:
        from ..plans.guards import guarded_topandas

        wide = guarded_topandas(
            df.groupBy(date_col)
            .pivot(series_col)
            .agg(F.first(value_col))
            .orderBy(date_col),
            "pacf_var_selection(faithful_blocked=True) wide frame",
            "pacf_var_selection(faithful_blocked=False) — the "
            "distributed one-pass acf_table path",
        )
        return pacf_blocked_selection(
            wide, target, lag, maxnrvar, faithful_q11, column_order, date_col
        )[0]

    acfs = acf_table(
        df, lag, value_col, series_col, date_col, method="r"
    ).collect()
    by_series: dict[str, dict[int, float]] = {}
    for r in acfs:
        by_series.setdefault(r[series_col], {})[r["lag"]] = r["acf"]
    names = sorted(by_series)
    prof = np.column_stack(
        [
            pacf_from_acf(
                np.array([by_series[s][k] for k in range(1, lag + 1)])
            )
            for s in names
        ]
    )
    return _greedy_diverse(names, prof, target, maxnrvar, faithful_q11)


def pacf_blocked_selection(
    wide: pd.DataFrame, target: str, lag: int, maxnrvar: int,
    faithful_q11: bool = False, column_order: list[str] | None = None,
    date_col: str = "obs_date",
) -> tuple[list[str], np.ndarray]:
    """``pacf_var_selection(faithful_blocked=True)`` on a collected wide
    frame (a column per series, rows in date order; no Spark job).
    Returns the selection and the (lag × K) target-row profile it
    ranks, columns in ``column_order`` (default: target, then sorted)."""
    names = column_order or [
        target,
        *sorted(c for c in wide.columns if c not in (date_col, target)),
    ]
    if names[0] != target:
        raise ValueError("faithful_blocked requires target as column 0")
    X = wide[names].dropna().to_numpy(dtype=float)
    K = X.shape[1]
    lag_max = lag + 1
    prof_cols: list[np.ndarray] = []
    # block 0: columns 0..3 (target included in the profile)
    P = multivariate_pacf(X[:, 0:4], lag_max)
    prof_cols.extend(P[1:, 0, j] for j in range(min(4, K)))
    for i in range(1, math.ceil(K / 4)):
        end = (i + 1) * 4
        if K < end:
            end = end - 1  # the reference's ind <- (i+1)*4-1
            if end > K:
                raise IndexError(
                    f"reference blocked pacf indexes column {end} of a "
                    f"{K}-column frame (NCOL %% 4 must be 0 or 3, as in "
                    "the 147-column SW frame; enetVAR.R:714-717)"
                )
        cols = [0, *range(4 * i, end)]
        Pb = multivariate_pacf(X[:, cols], lag_max)
        prof_cols.extend(Pb[1:, 0, j] for j in range(1, len(cols)))
    prof = np.column_stack(prof_cols)
    return _greedy_diverse(names, prof, target, maxnrvar, faithful_q11), prof
