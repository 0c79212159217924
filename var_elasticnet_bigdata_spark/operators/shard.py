"""Balanced output-shard assignment: distribute documents across K
training shards so per-shard token totals are even.

A 100 TB corpus is written as thousands of shards consumed round-robin
by data-loader workers; if shard sizes skew, the slowest shard gates
every epoch. The classic deterministic fix is serpentine (boustrophedon)
placement: rank documents by size descending and deal them out in
alternating direction — block b of K docs goes ``0,1,..,K-1`` when b is
even and ``K-1,..,1,0`` when b is odd — so each shard receives one doc
per block and the big-doc blocks alternate which shard eats the largest.
Balance is within one document of optimal-LPT for monotone size runs,
and the rule is a pure function of the global rank, so the DuckDB twin
is a plain ``ROW_NUMBER()`` window.

The Spark-side scale problem is the GLOBAL rank itself — a naive
``row_number().over(Window.orderBy(...))`` is a single-partition window
(the scale-killer the plan audit bans). ``global_rank`` is the same
two-phase distributed scan as ``pack.global_token_offsets``
(reference has no analogue; the pack operator's design notes apply):
range-partition on the order key, intra-partition ``row_number``
partitioned by ``spark_partition_id()``, then broadcast the exclusive
prefix of per-partition row counts back. Only ``num_ranges`` tiny
totals ever reach the driver. With a TOTAL order key the result is
boundary-invariant: each row's global rank equals the number of rows
with a smaller key no matter where range sampling placed the splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.cachereg import swap_cache
from ..sources.tables import local_frame


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    num_ranges: int = 32,
    out_col: str = "rank",
) -> DataFrame:
    """Adds ``out_col`` = 1-based global ``row_number`` of each row
    under ``order_cols``, computed as a two-phase distributed scan.

    ``order_cols`` MUST be a total order (include a unique tiebreak
    column): rows with identical keys may straddle a range-partition
    boundary, and only a total order makes the rank placement-
    invariant and therefore deterministic across runs and engines.
    """
    ranged = df.repartitionByRange(num_ranges, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    # consumed by the per-partition counts collect below AND the
    # caller's action: one shuffle+sort instead of two. Registry-
    # bounded to one live cache per session (plans/cachereg.py).
    intra = swap_cache(
        "shard.intra_rank", ranged.withColumn("__r", F.row_number().over(w))
    )
    counts = {
        r["__pid"]: r["c"]
        for r in intra.groupBy("__pid").agg(F.max("__r").alias("c")).collect()
    }
    prefix: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        prefix[pid] = acc
        acc += counts[pid] or 0
    pref_df = local_frame(
        intra.sparkSession,
        [(pid, off) for pid, off in prefix.items()], "__pid int, __pref long"
    )
    return (
        intra.join(F.broadcast(pref_df), "__pid")
        .withColumn(out_col, (F.col("__r") + F.col("__pref")).cast("long"))
        .drop("__pid", "__r", "__pref")
    )


def shard_balance(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_ranges: int = 32,
) -> DataFrame:
    """Serpentine shard assignment over token counts. Returns one row
    per document: ``(id_col, n_tokens, shard)`` with ``shard`` in
    ``[0, k)`` and per-shard token totals balanced to within one
    document of the size-sorted ideal."""
    from .dedup import norm_sql_spark

    if k <= 0:
        raise ValueError(f"shard count must be positive: {k}")
    words = f"filter(split({norm_sql_spark(text_col)}, ' '), w -> w <> '')"
    # NULL-text guard identical to pack_sequences: pin to 0 so NULL
    # docs shard like empty ones on every Spark sizeOfNull setting
    toks = df.select(
        F.col(id_col),
        F.greatest(F.coalesce(F.expr(f"size({words})"), F.lit(0)), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    ranked = global_rank(
        toks,
        [F.col("n_tokens").desc(), F.col(id_col).asc()],
        num_ranges=num_ranges,
    )
    z = F.col("rank") - 1  # 0-based position in the size-desc order
    idx = z % k
    blk = F.floor(z / k)
    shard = F.when(blk % 2 == 0, idx).otherwise(F.lit(k - 1) - idx)
    return ranked.select(
        F.col(id_col), F.col("n_tokens"), shard.cast("int").alias("shard")
    )


def duck_shard_sql(
    k: int = 8, id_col: str = "doc_id", table: str = "documents"
) -> str:
    """DuckDB twin: the single-window ROW_NUMBER form of the same
    serpentine rule."""
    from .dedup import NORM_SQL_DUCK

    return f"""
        WITH toks AS (
          SELECT {id_col},
                 CAST(len(list_filter(string_split({NORM_SQL_DUCK}, ' '),
                                      x -> x <> '')) AS BIGINT) AS n_tokens
          FROM {table}),
        r AS (
          SELECT {id_col}, n_tokens,
                 ROW_NUMBER() OVER (ORDER BY n_tokens DESC, {id_col}) - 1 AS z
          FROM toks)
        SELECT {id_col}, n_tokens,
               CAST(CASE WHEN (z // {k}) % 2 = 0 THEN z % {k}
                         ELSE {k} - 1 - (z % {k}) END AS INT) AS shard
        FROM r
    """
