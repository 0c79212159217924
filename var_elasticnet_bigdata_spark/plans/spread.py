"""Scan-parallelism floor for the corpus tables.

A single small parquet file scans as ONE input partition (the split
floor is ``spark.sql.files.openCostInBytes``, and a file with one row
group cannot split anyway), so every CPU-heavy narrow chain built on
it — codec synth/decode Arrow passes, HOF-dense shingle/tokenize
projections — serializes on one task no matter how many cores the
session has. ``spread_to_cores`` hash-repartitions such a scan up to
``spark.sql.shuffle.partitions`` WHEN (and only when) it carries
fewer partitions: the guide's unsplittable-input fix (§2.5), applied
once at the source (``sources.tables.load_table``) so the 100 TB
case — scans arriving with thousands of splits — adds NO exchange.

The target is the shuffle-partition count, not the core count: the
floor's ``hashpartitioning(key, n)`` then already satisfies every
downstream join or aggregate on the same key, so no re-shuffle
follows it and plan shapes do not depend on the session's cores.
Keys are the table's id column: deterministic under task retry
(unlike round-robin over a non-deterministic input, SPARK-38388), and
placement cannot change any per-row derived value.

The partition count is probed via ``df.rdd``. Under AQE that
materializes the final physical plan, which would EXECUTE any
upstream shuffle stage — so callers pass a bare file scan only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to_cores(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition the scan ``df`` to ``spark.sql.shuffle.partitions``
    on ``key_cols`` if it holds fewer partitions; otherwise return
    ``df`` itself (no added exchange)."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *key_cols)
    return df
