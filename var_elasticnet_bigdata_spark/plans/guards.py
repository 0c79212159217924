"""Driver-materialization guards.

A handful of operators deliberately collect a DataFrame to the driver
— ezlasso's estimation frame (post-aggregation, ~hundreds of rows)
and the EXACT cosine paths that broadcast the whole corpus. Those
docstrings claim "the frontier is small"; these guards make the claim
enforced: a mis-use at 100 TB scale fails fast with a pointer to the
scale path instead of OOMing the driver (VERDICT r1 item 7). The
rolling-origin entry points read the same ceiling
(``max_driver_rows``) to pick their path instead of failing:
``modeltrain`` from its date axis, ``rolling_origin_tune`` from one
bounded collect.

The ceiling is configurable per call or globally via the
``SPARK_GRAFT_MAX_DRIVER_ROWS`` environment variable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

DEFAULT_MAX_DRIVER_ROWS = 2_000_000


class DriverMaterializationError(RuntimeError):
    """Raised when a driver-side collect would exceed the ceiling."""


def max_driver_rows() -> int:
    v = os.environ.get("SPARK_GRAFT_MAX_DRIVER_ROWS")
    return int(v) if v else DEFAULT_MAX_DRIVER_ROWS


def _ceiling_error(
    what: str, scale_path: str, limit: int
) -> DriverMaterializationError:
    return DriverMaterializationError(
        f"{what} would materialize more than {limit:,} rows on the "
        f"driver. This path is for post-aggregation estimation "
        f"frontiers; at this size use {scale_path}, or raise "
        f"SPARK_GRAFT_MAX_DRIVER_ROWS explicitly."
    )


def guard_driver_collect(
    df: DataFrame,
    what: str,
    scale_path: str,
    max_rows: int | None = None,
) -> None:
    """Fail fast if ``df`` has more than ``max_rows`` rows.

    Uses ``limit(n+1).count()`` so the check never scans past the
    ceiling. ``what`` names the collect site; ``scale_path`` tells
    the caller which distributed alternative to use instead.

    Prefer ``guarded_topandas``/``guarded_collect`` when the very next
    step is the materialization itself — they fuse the check into the
    collect (one Spark job instead of two).
    """
    limit = max_rows if max_rows is not None else max_driver_rows()
    n = df.limit(limit + 1).count()
    if n > limit:
        raise _ceiling_error(what, scale_path, limit)


def guarded_topandas(
    df: DataFrame,
    what: str,
    scale_path: str,
    max_rows: int | None = None,
):
    """``df.toPandas()`` with the driver-materialization ceiling fused
    into the same job: ``limit(ceiling+1)`` bounds what can ever reach
    the driver, and one extra row trips the guard. Row order is
    whatever ``df`` carries (apply ``orderBy`` upstream)."""
    limit = max_rows if max_rows is not None else max_driver_rows()
    pdf = df.limit(limit + 1).toPandas()
    if len(pdf) > limit:
        raise _ceiling_error(what, scale_path, limit)
    return pdf


def guarded_collect(
    df: DataFrame,
    what: str,
    scale_path: str,
    max_rows: int | None = None,
) -> list:
    """``df.collect()`` with the ceiling fused in, like
    ``guarded_topandas``."""
    limit = max_rows if max_rows is not None else max_driver_rows()
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise _ceiling_error(what, scale_path, limit)
    return rows


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor-storage blocks behind a ``localCheckpoint``-ed
    DataFrame (ADVICE r3: iterative operators that checkpoint each
    round would otherwise accumulate every round's blocks for the
    session lifetime — ``DataFrame.unpersist()`` is a no-op for
    checkpoint blocks because they bypass the cache manager).

    The frame's analyzed plan is a ``LogicalRDD`` holding the
    checkpointed RDD; unpersisting THAT RDD drops its blocks. The
    frame must not be read again afterwards (the blocks are gone, by
    design). Best-effort: any reflection failure on a future Spark
    version degrades to the old keep-until-session-end behavior
    rather than breaking the operator.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - version-drift fallback
        pass
