"""Streaming corpus curation: the dedup/scoring stages of the
training-data pipeline over a document STREAM.

The batch curation operators (operators/dedup.py, operators/text.py)
are pure narrow expressions, so they compose onto ``readStream``
unchanged — the scoring/signature stages below are literally the
batch expressions. The one genuinely stateful piece is exact dedup
across micro-batches: ``dropDuplicatesWithinWatermark`` keys the
state store by the content key and EVICTS state older than the
watermark, so a continuous ingest run holds state proportional to
the dedup horizon, not the corpus (the unbounded ``dropDuplicates``
variant is the classic streaming OOM).

Stream ≡ batch is asserted under availableNow in
tests/test_streaming_multimodal.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import content_key
from ..sources.compaction import compact_bucketed


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the documents table (staging symlink dir
    — in production the ingest directory IS the source). An ingest
    timestamp is synthesized deterministically from ``doc_id`` so the
    watermark semantics are testable; a real feed carries its own."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = f"/tmp/spark_graft_stream_{tag}/documents"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/documents.parquet"
    src = os.path.abspath(f"{sf_dir}/documents.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    schema = spark.read.parquet(src).schema
    raw = spark.readStream.schema(schema).parquet(stage)
    return raw.withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id")),
    )


def stream_exact_dedup(docs: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Exact dedup over a document stream: FIRST-PROCESSED survivor
    per content key within the watermark horizon (that is what
    ``dropDuplicatesWithinWatermark`` keeps — unlike the batch
    ``exact_dedup`` min-id rule, the surviving row among duplicates
    that land in the same micro-batch is arrival-order dependent; the
    CONTENT-KEY set is identical, which is what the stream==batch
    test asserts). State is evicted past the horizon — bounded by the
    duplicate-arrival window, not the corpus size."""
    keyed = docs.withColumn("content_key", content_key())
    return keyed.withWatermark("ingest_ts", horizon).dropDuplicatesWithinWatermark(
        ["content_key"]
    )


def stream_scored(docs: DataFrame) -> DataFrame:
    """The batch curation scoring stage applied to a stream verbatim
    (narrow expressions — no state, no shuffle)."""
    from ..operators.dedup import normalized_text, shingle_hashes_from_words
    from ..operators.text import lang_id_from, quality_sql_spark

    staged = (
        docs.withColumn("__norm", normalized_text())
        .withColumn("__words", F.split(F.col("__norm"), " "))
        .withColumn("__uw", F.array_distinct("__words"))
    )
    return staged.select(
        "doc_id",
        "ingest_ts",
        F.size("__words").alias("n_tokens"),
        lang_id_from("__uw").alias("lang_guess"),
        F.expr(quality_sql_spark("__norm", "__words")).alias("quality"),
        F.expr("array_min(" + shingle_hashes_from_words("__words", 5) + ")").alias(
            "fingerprint"
        ),
    )


def stream_against_store(
    docs: DataFrame,
    dedup: Callable[..., DataFrame],
    checkpoint_dir: str,
    out_path: str,
    tables: list[str],
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous dedup of a document (or frame) stream against a
    PERSISTED incremental store — the production crawl loop as one
    streaming query. ``dedup`` is a store operator with its arguments
    bound (``functools.partial(incremental_near_dup_bucketed,
    store_name=..., buckets=..., path=...)``); each non-empty
    micro-batch runs ``dedup(batch_df, on_survivors=...)``, which
    appends the survivors to the parquet corpus at ``out_path`` and
    then the batch's rows to the store, so the next micro-batch sees
    them.

    Candidate joins against all accepted history cannot be expressed
    with Structured Streaming's keyed state; `foreachBatch` is the
    escape hatch for this write-a-batch-against-external-state shape
    (the store tables ARE the state, bounded by the accepted corpus,
    not the stream). Exact dedup within a horizon stays in
    `stream_exact_dedup`'s watermarked state store.

    Restart semantics: `foreachBatch` replays the last uncommitted
    micro-batch after a crash. The operator sinks survivors before
    any store append (`sources/store.py`), so a replay duplicates
    corpus rows at worst and never loses a document. Exactly-once
    needs an idempotent sink (MERGE on the id) — out of scope for the
    parquet sink; readers dedup corpus rows by id if it matters.

    ``compact_every``: every N batches each of ``tables`` (full store
    table names, in append order, so a crash between two compactions
    keeps the store's last-table-implies-earlier invariant) is
    rewritten in place (`sources/compaction.compact_bucketed`).
    Append-only bucketed stores gain one file per bucket per batch;
    compaction runs inside `foreachBatch`, where the stream is the
    tables' only writer, and keeps the bucket spec. A crash inside it
    heals when the next batch opens the store.

    Returns the StreamingQuery; caller awaits termination.
    """

    def sink(survivors: DataFrame) -> None:
        survivors.write.mode("append").parquet(out_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dedup(batch_df, on_survivors=sink)
        if compact_every and (batch_id + 1) % compact_every == 0:
            for table in tables:
                compact_bucketed(batch_df.sparkSession, table)

    writer = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
