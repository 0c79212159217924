"""Distributed moment-matrix (Gram) aggregation.

The scale path for all estimation (SURVEY §4.3): instead of pivoting
100 TB to a wide matrix, ONE distributed pass computes the
``(1+k+K) × (1+k+K)`` moment matrix ``M'M`` over ``M = [1, X, Y]`` —
every quantity elastic-net estimation needs (column sums, X'X, X'Y,
Y'Y) is a sub-block, and the driver-side solver is then exact and
data-size-independent. k = n·p ≲ 900 for the reference workload, so
the moment matrix is ≤ ~8 MB however big the data is.

Partial sums are accumulated per Arrow batch with BLAS (``X.T @ X``)
inside ``mapInPandas`` and reduced on the driver — the same shape as
MLlib's ``treeAggregate`` Gramian but staying in the DataFrame API.
Per-fold moments (for blocked time-series CV, reference
enetVAR.R:27-35) come from the same single pass: leave-one-fold-out
moments are just ``total − fold``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.lag_embed import VarZ, var_z


@dataclass
class Moments:
    """Moment matrix over [1, cols...]: ``m[0,0] = n``,
    ``m[0,1:] = column sums``, ``m[1:,1:] = raw inner products``."""

    cols: list[str]
    m: np.ndarray  # (1+k, 1+k)

    @property
    def n(self) -> int:
        return int(round(self.m[0, 0]))

    def sub(self, names: list[str]) -> np.ndarray:
        """Raw inner-product block X'Y for the named columns."""
        idx = [1 + self.cols.index(c) for c in names]
        return self.m[np.ix_(idx, idx)]

    def cross(self, a: list[str], b: list[str]) -> np.ndarray:
        ia = [1 + self.cols.index(c) for c in a]
        ib = [1 + self.cols.index(c) for c in b]
        return self.m[np.ix_(ia, ib)]

    def sums(self, names: list[str]) -> np.ndarray:
        idx = [1 + self.cols.index(c) for c in names]
        return self.m[0, idx]

    def minus(self, other: "Moments") -> "Moments":
        """Leave-one-fold-out: total − fold (one pass for all folds)."""
        assert self.cols == other.cols
        return Moments(cols=self.cols, m=self.m - other.m)


def compute_moments(
    df: DataFrame,
    cols: list[str],
    fold_col: str | None = None,
    dropna: bool = True,
    carry: DataFrame | None = None,
):
    """One distributed pass → moment matrix (optionally per fold).

    ``dropna=True`` applies the reference's ``na.omit`` semantics
    (Main.R:196): any row with a NULL in ``cols`` is excluded, pushed
    down as IsNotNull filters before the scan.

    ``carry`` — a frame with one ``array<double>`` column ``partial``
    — rides the same collect as a union branch; given, the return is
    ``(moments, carried partials)``.
    """
    k1 = len(cols) + 1
    # Rename to positional-safe names: lag columns carry the
    # reference's dotted ``<var>.l<i>`` names, which both bare-string
    # resolution and mapInPandas itself would parse as struct access.
    safe = [f"__c{i}" for i in range(len(cols))]
    sel = [F.col(f"`{c}`").alias(s) for c, s in zip(cols, safe)]
    if fold_col:
        sel.append(F.col(fold_col).alias("__fold"))
    data = df.select(*sel)
    if dropna:
        cond = None
        for s in safe:
            p = F.col(s).isNotNull()
            cond = p if cond is None else (cond & p)
        data = data.filter(cond)

    has_fold = fold_col is not None

    def partials(batches):
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not has_fold:
                groups = [(0, pdf)]
            else:
                groups = list(pdf.groupby("__fold", sort=False))
            for fold, g in groups:
                x = g[safe].to_numpy(dtype=float)
                m = np.empty((len(x), k1))
                m[:, 0] = 1.0
                m[:, 1:] = x
                p = m.T @ m
                key = int(fold)
                if key in acc:
                    acc[key] += p
                else:
                    acc[key] = p
        rows = [
            {"fold": fold, "partial": p.ravel().tolist()} for fold, p in acc.items()
        ]
        yield pd.DataFrame(rows, columns=["fold", "partial"])

    out = data.mapInPandas(partials, "fold int, partial array<double>")
    if carry is not None:
        out = out.unionByName(
            carry.select(F.lit(None).cast("int").alias("fold"), "partial")
        )
    totals: dict[int, np.ndarray] = {}
    carried = []
    for row in out.collect():
        if row["fold"] is None:
            carried.append(row["partial"])
            continue
        p = np.array(row["partial"]).reshape(k1, k1)
        if row["fold"] in totals:
            totals[row["fold"]] += p
        else:
            totals[row["fold"]] = p
    if fold_col is None:
        m = sum(totals.values()) if totals else np.zeros((k1, k1))
        moments = Moments(cols=list(cols), m=m)
    else:
        moments = {fold: Moments(cols=list(cols), m=m) for fold, m in totals.items()}
    return moments if carry is None else (moments, carried)


def blocked_fold_column(
    frame: DataFrame,
    date_col: str = "obs_date",
    block: int = 10,
    col_name: str = "__fold",
) -> DataFrame:
    """Attach contiguous time-blocked fold ids (M3, enetVAR.R:27-35):
    ``fold = (dense_rank() OVER (ORDER BY date) − 1) div block``, so
    the i-th distinct date (0-based) is in fold ``i // block`` — the
    twin of ``elastic_net.blocked_fold_ids``. Rows with a NULL date
    drop and take no rank.

    The window is global, but ``var_moments`` applies it to
    ``VarZ.complete``, whose lag window (``var_z``: no partition key,
    ordered by date) has already put the frame on one partition,
    sorted by date. The fold window reuses that partitioning and
    order, so it adds no Exchange, no Sort and no Spark job; a
    date-axis collect joined back to the frame would cost an extra
    aggregation round per fit. The shared quarterly pair
    (``queries._quarterly_pair``) is staged as one partition sorted by
    date, so over it neither window plans an Exchange or a Sort. On a
    frame not yet ordered by date the lag window moves every row to
    one partition.
    """
    rank = F.dense_rank().over(Window.orderBy(date_col))
    return frame.filter(F.col(date_col).isNotNull()).withColumn(
        col_name, ((rank - 1) / block).cast("int")
    )


def var_moments(
    wide_df: DataFrame,
    series: list[str],
    p: int,
    date_col: str = "obs_date",
    cv_block: int | None = None,
) -> tuple[VarZ, Moments | dict[int, Moments], np.ndarray]:
    """The VAR design chain every Spark fit runs: select the series,
    lag-embed at order p (``VAR.Z``), ``na.omit`` (``VarZ.complete``),
    blocked CV folds when ``cv_block`` is given, then ONE
    ``compute_moments`` pass over the lag columns and the responses
    (response columns keep the series names). Returns the embedding,
    the moments — per fold when ``cv_block`` is given — and the
    forecast origin: the last p rows with every series non-NULL,
    oldest first (p, K).

    The origin rides the moments collect as ``compute_moments``'
    ``carry`` (partial = [newness rank, values]); its ``row_number``
    filter plans as a top-p (``TakeOrderedAndProject``, Spark 4.1),
    so a fit runs no tail collect and sorts no whole frame."""
    wide = wide_df.select(date_col, *series)
    vz = var_z(wide, series, p, date_col=date_col)
    cols = [*vz.z_names, *series]
    frame, fold_col = vz.complete, None
    if cv_block is not None:
        frame, fold_col = blocked_fold_column(frame, date_col, cv_block), "__fold"
    newest = F.row_number().over(Window.orderBy(F.col(date_col).desc()))
    origin = (
        wide.dropna(subset=series)
        .withColumn("__rn", newest)
        .filter(F.col("__rn") <= p)
        .select(F.array("__rn", *series).cast("array<double>").alias("partial"))
    )
    moments, carried = compute_moments(frame, cols, fold_col, carry=origin)
    last = sorted(carried, reverse=True)
    return vz, moments, np.array([r[1:] for r in last]).reshape(-1, len(series))


def moments_total(per_fold: dict[int, Moments]) -> Moments:
    folds = list(per_fold.values())
    m = folds[0].m.copy()
    for f in folds[1:]:
        m += f.m
    return Moments(cols=folds[0].cols, m=m)
