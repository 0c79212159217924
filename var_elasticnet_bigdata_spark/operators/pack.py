"""Sequence packing: concatenate the corpus in doc-id order and cut
fixed-capacity training sequences (the GPT-style pack, as opposed to
per-document chunking in ``text.chunk_tokens`` — here short documents
share a sequence and long ones span several).

The core is a GLOBAL token offset per document — a prefix sum over
the whole corpus. A naive ``sum().over(Window.orderBy(id))`` is a
single-partition global window (the scale-killer the plan audit
bans). Instead the classic two-phase distributed scan:

1. ``repartitionByRange(id)`` puts contiguous id ranges in separate
   partitions; an intra-partition cumulative sum is a window
   PARTITIONED by ``spark_partition_id()`` (bounded, parallel);
2. per-partition totals (one tiny row per partition) come to the
   driver, their exclusive prefix is broadcast back, and each doc's
   global offset = intra-partition cumsum + its partition's prefix.

The result is BOUNDARY-INVARIANT: range-sampling may place the
partition splits anywhere, every placement yields the same offsets
(tested), so the operator is deterministic across runs, partition
counts, and engines — the DuckDB oracle is the plain one-window
cumsum form.

Output: one row per (document, sequence) overlap —
``(seq_id, doc_id, pos_in_seq, doc_tok_start, n_tokens)`` — i.e. the
pack manifest a sequence-builder job consumes. Every sequence except
the last is exactly ``capacity`` tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.cachereg import swap_cache
from ..sources.tables import local_frame


def global_token_offsets(
    toks: DataFrame, id_col: str, num_ranges: int = 32
) -> DataFrame:
    """Adds ``offset`` = total tokens in all docs with smaller id.
    ``toks`` must carry (id_col, n_tokens). Two-phase distributed
    prefix sum; the only driver materialization is ``num_ranges``
    partition totals."""
    ranged = toks.repartitionByRange(num_ranges, F.col(id_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    # ROWS frame (not the default RANGE): matches the oracle's ROWS
    # cumsum exactly; ids are expected unique, under which the two
    # frames coincide — but never rely on the peer-inclusive default
    w = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # persist: the totals collect below and the caller's action both
    # consume this frame — without the cache the corpus tokenize scan
    # and the range shuffle run twice. Registry-bounded to one live
    # cache per session (plans/cachereg.py).
    intra = swap_cache(
        "pack.intra_prefix", ranged.withColumn("__c", F.sum("n_tokens").over(w))
    )
    totals = {
        r["__pid"]: r["t"]
        for r in intra.groupBy("__pid").agg(F.max("__c").alias("t")).collect()
    }
    prefix: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        prefix[pid] = acc
        acc += totals[pid] or 0
    pref_df = local_frame(
        intra.sparkSession,
        [(pid, off) for pid, off in prefix.items()], "__pid int, __pref long"
    )
    return (
        intra.join(F.broadcast(pref_df), "__pid")
        .withColumn("offset", (F.col("__c") - F.col("n_tokens") + F.col("__pref")).cast("long"))
        .drop("__pid", "__c", "__pref")
    )


def pack_sequences(
    df: DataFrame,
    capacity: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_ranges: int = 32,
) -> DataFrame:
    """Pack manifest for fixed-``capacity`` sequences over the
    corpus concatenated in ``id_col`` order. Zero-token documents
    occupy no slots and emit no rows."""
    from .dedup import norm_sql_spark

    if capacity <= 0:
        raise ValueError(f"capacity must be positive: {capacity}")
    words = f"filter(split({norm_sql_spark(text_col)}, ' '), w -> w <> '')"
    # zero-token docs are NOT filtered here: a `n_tokens > 0` filter
    # would be pushed to the scan with the normalize chain inlined
    # (the audit's InferFilters signature); instead they ride through
    # with n=0 and explode an EMPTY sequence below — same rows out,
    # no pushed filter
    # NULL text → size() is NULL on modern Spark (dropped identically
    # by both engines), but a legacy.sizeOfNull session yields -1,
    # which would silently shift every later offset — pin to 0 either
    # way so NULL docs behave exactly like empty ones
    toks = df.select(
        F.col(id_col),
        F.greatest(F.coalesce(F.expr(f"size({words})"), F.lit(0)), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    offs = global_token_offsets(toks, id_col, num_ranges)
    cap = capacity
    first = F.floor(F.col("offset") / cap).cast("long")
    last = F.floor((F.col("offset") + F.col("n_tokens") - 1) / cap).cast("long")
    seq_ids = F.when(
        F.col("n_tokens") > 0, F.sequence(first, last)
    ).otherwise(F.array().cast("array<long>"))
    seg = offs.withColumn("seq_id", F.explode(seq_ids))
    seq_start = F.col("seq_id") * cap
    seg_start = F.greatest(seq_start, F.col("offset"))
    seg_end = F.least(seq_start + cap, F.col("offset") + F.col("n_tokens"))
    return seg.select(
        F.col("seq_id"),
        F.col(id_col),
        (seg_start - seq_start).cast("int").alias("pos_in_seq"),
        (seg_start - F.col("offset")).cast("int").alias("doc_tok_start"),
        (seg_end - seg_start).cast("int").alias("n_tokens"),
    )


def duck_pack_sql(
    capacity: int = 64, id_col: str = "doc_id", table: str = "documents"
) -> str:
    """DuckDB twin: the single-window cumsum form of the same pack."""
    from .dedup import NORM_SQL_DUCK

    cap = capacity
    return f"""
        WITH toks AS (
          SELECT {id_col},
                 len(list_filter(string_split({NORM_SQL_DUCK}, ' '),
                                 x -> x <> '')) AS n_tokens
          FROM {table}),
        offs AS (
          SELECT {id_col}, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY {id_col}
                      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS toff
          FROM toks),
        seg AS (
          SELECT {id_col}, n_tokens, toff, t.seq_id
          FROM offs,
               UNNEST(CASE WHEN n_tokens > 0
                      THEN range(toff // {cap},
                                 (toff + n_tokens - 1) // {cap} + 1)
                      ELSE [] END) AS t(seq_id))
        SELECT seg.seq_id, seg.{id_col},
               CAST(greatest(seq_id * {cap}, toff) - seq_id * {cap} AS INT)
                 AS pos_in_seq,
               CAST(greatest(seq_id * {cap}, toff) - toff AS INT)
                 AS doc_tok_start,
               CAST(least((seq_id + 1) * {cap}, toff + n_tokens)
                    - greatest(seq_id * {cap}, toff) AS INT) AS n_tokens
        FROM seg
    """
