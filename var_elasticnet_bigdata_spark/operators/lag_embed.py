"""Lag embedding — the VAR design matrix builder (W4).

Reference: ``VAR.Z(y, p, intercept)`` at enetVAR.R:277-319 — response
``y.p = y[(1+p):T, ]`` and design ``Z = [y_{t-1}, …, y_{t-p}]`` with
columns named ``<var>.l<i>`` (names built at enetVAR.R:297-301,
intercept column prepended at enetVAR.R:303-306, ``dof = T - p - k``
at enetVAR.R:289-291).

Spark-first: each lag is an ``F.lag`` window column; the window is a
single ordered pass per partition key, and all ``n*p`` lag columns
share one window spec so Catalyst collapses them into ONE Window node
(verify in `.explain`). No UDFs; stays in whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DATE = "obs_date"


def lag_col_name(series: str, lag: int) -> str:
    """Reference naming ``paste(name, '.l', i)`` → ``<var>.l<i>``."""
    return f"{series}.l{lag}"


@dataclass
class VarZ:
    """Lag-embedded frame + metadata — the reference's ``VARZ`` object
    (enetVAR.R:308-318) re-expressed relationally.

    ``df`` holds one row per usable time point t = p+1..T with the
    response columns (original names) and design columns
    (``<var>.l<i>`` order: all series at lag 1, then lag 2, …).
    """

    df: DataFrame
    series: list[str]
    p: int
    intercept: bool
    date_col: str = DATE
    z_names: list[str] = field(init=False)

    def __post_init__(self) -> None:
        self.z_names = [
            lag_col_name(s, i) for i in range(1, self.p + 1) for s in self.series
        ]
        if self.intercept:
            self.z_names = ["intercept", *self.z_names]

    @property
    def n(self) -> int:
        return len(self.series)

    @property
    def k(self) -> int:
        """Number of design columns (n*p [+1 intercept])."""
        return len(self.z_names)

    def dof(self, t_rows: int) -> int:
        """``dof = T - p - k`` with T the ORIGINAL row count
        (enetVAR.R:289-291)."""
        return t_rows - self.p - self.k

    @property
    def complete(self) -> DataFrame:
        """``df`` with every design and response column non-NULL — the
        reference's ``na.omit`` just before estimation (Main.R:196).
        Ragged series starts and interior gaps drop here."""
        cond = None
        for c in [*self.z_names, *self.series]:  # backticks: dotted lag names
            pred = F.col(f"`{c}`").isNotNull()
            cond = pred if cond is None else (cond & pred)
        return self.df.filter(cond)


def var_z(
    df: DataFrame,
    series: list[str],
    p: int,
    intercept: bool = False,
    date_col: str = DATE,
    partition_cols: list[str] | None = None,
    drop_incomplete: bool = True,
) -> VarZ:
    """Build the lag-embedded estimation frame from a WIDE frame
    (one column per series, rows = time points).

    ``partition_cols`` lets many independent embeddings (one per
    rolling origin / model group) run in the same pass, partitioned by
    the group key — the scale path for the OOS harness.

    ``drop_incomplete=True`` drops the first p rows (rows whose lags
    reach before the sample), matching ``y[(1+p):T, ]``. Rows where a
    lag is NULL because the underlying series is ragged are KEPT in
    ``df``; ``VarZ.complete`` is the ``na.omit`` frame estimation
    reads (Main.R:196).
    """
    w = (
        Window.partitionBy(*partition_cols) if partition_cols else Window.partitionBy()
    ).orderBy(date_col)
    cols = [df[c] for c in df.columns]
    lag_exprs = [
        F.lag(F.col(s), i).over(w).alias(lag_col_name(s, i))
        for i in range(1, p + 1)
        for s in series
    ]
    if drop_incomplete:
        # row_number over the same window: first p rows per group have
        # out-of-sample lags by construction.
        rn = F.row_number().over(w)
        out = (
            df.select(*cols, rn.alias("__rn"), *lag_exprs)
            .filter(F.col("__rn") > p)
            .drop("__rn")
        )
    else:
        out = df.select(*cols, *lag_exprs)
    if intercept:
        out = out.withColumn("intercept", F.lit(1.0))
    return VarZ(df=out, series=series, p=p, intercept=intercept, date_col=date_col)
