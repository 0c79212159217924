"""Incremental bucketed stores: one handle owns the crash contract.

Every incremental dedup/index store (exact keys, MinHash sigs+bands,
semantic cells, positional shingles, banded fingerprints, video
frames, IVF-PQ postings and vectors, contamination shingles) is a set
of catalog tables ``{name}__{suffix}``, each bucketed and sorted on
its join key (`sources.bucketing.write_bucketed`), so a batch's join
against all accepted history reads the store side with zero
Exchange. `BucketedStore` is the only code that opens, probes or
appends to those tables. An operator computes its drop set; the
handle does the rest.

The crash contract, in the order the handle runs it:

1. **Heal before probe.** On open, each table's orphaned compaction
   is healed (`sources.compaction.recover_orphaned_compaction`). A
   crash inside `compact_bucketed` between its DROP and RENAME leaves
   the full history in ``{table}__compacting`` only. Were the
   existence probe to run first, the batch would see "no store",
   overwrite the table with itself, and the next compaction would
   drop the staging table: every prior row lost.
2. **Probe the last-written table.** ``exists`` is true when the
   LAST table in write order exists (and ``fresh`` is false). Tables
   are appended in a fixed order, so the last one present implies the
   earlier ones are present. A crash between two appends leaves rows
   in the earlier tables only; the operators read candidates from the
   later table (near-dup reads candidates from ``__bands``), so those
   orphans never match anything and a replay re-appends past them.
3. **Pin the drops.** ``dropped.distinct()`` is materialised with
   ``localCheckpoint(eager=True)`` before anything is written. The drop
   plan reads the store; a lazy re-evaluation after the append would
   match the batch against its own rows and drop everything.
4. **Sink first.** ``on_survivors`` receives the survivors (the batch
   anti-joined with the drops) BEFORE any store append. A crash after
   the sink write replays the batch against a store that does not yet
   hold it: the survivors re-emerge and re-sink (at-least-once,
   duplicate sink rows). A crash after the appends replays against a
   store that holds the batch: it self-matches and drops again, so
   neither side duplicates further. Store-first order would turn that
   replay into permanent loss of documents the sink never received.
5. **Append in write order.** Each table is written with
   `write_bucketed`, sorted on its bucket key, at ``{path}/{table}``
   when ``path`` is given; the mode is append when that table existed
   at open and ``fresh`` is false, otherwise overwrite.
   ``fresh=True`` starts a new store lineage in place (one metastore
   op instead of a DROP + re-CREATE per run).

Replays stay correct because every store is either a survivor set or
a seen-set that its operator deduplicates on read; compaction
(`compact_bucketed`) runs between batches, only while the store's one
writer is quiesced (the streaming loop satisfies this by
construction, `streaming.dedup.stream_against_store`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .bucketing import write_bucketed
from .compaction import recover_orphaned_compaction


class BucketedStore:
    """Handle on the tables ``{name}__{suffix}`` of one incremental
    store. ``tables`` maps each suffix to its bucket key, in write
    order. Opening heals orphaned compactions and probes the catalog
    once; see the module docstring for the contract."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        tables: dict[str, str],
        buckets: int = 32,
        path: str | None = None,
        fresh: bool = False,
    ) -> None:
        self.spark = spark
        self.name = name
        self.keys = dict(tables)
        self.buckets = buckets
        self.path = path
        for suffix in self.keys:
            recover_orphaned_compaction(spark, self.table_name(suffix))
        self._append = {
            suffix: spark.catalog.tableExists(self.table_name(suffix))
            and not fresh
            for suffix in self.keys
        }
        self.exists = self._append[list(self.keys)[-1]]

    def table_name(self, suffix: str) -> str:
        return f"{self.name}__{suffix}"

    def table(self, suffix: str) -> DataFrame:
        """Read a store table with its bucket layout."""
        return self.spark.table(self.table_name(suffix))

    def has(self, suffix: str) -> bool:
        """Catalog probe for a side table of the store (a ledger, a
        sidecar this handle did not open)."""
        return self.spark.catalog.tableExists(self.table_name(suffix))

    def commit(
        self,
        batch: DataFrame,
        dropped: DataFrame,
        id_col: str,
        on_survivors: Callable[[DataFrame], None] | None,
        rows: Callable[[DataFrame], dict[str, DataFrame]],
    ) -> DataFrame:
        """Pin ``dropped`` (the batch ids to drop, duplicates allowed),
        sink the survivors, then append ``rows(drops)`` — a frame per
        table suffix. Returns the survivors."""
        drops = dropped.distinct().localCheckpoint(eager=True)
        survivors = batch.join(drops, id_col, "left_anti")
        if on_survivors is not None:
            on_survivors(survivors)
        self.write(rows(drops))
        return survivors

    def write(self, frames: dict[str, DataFrame]) -> None:
        """Append one frame to each store table, in write order."""
        if set(frames) != set(self.keys):
            raise KeyError(
                f"{self.name}: got frames for {sorted(frames)}, "
                f"the store has {list(self.keys)}"
            )
        for suffix, key in self.keys.items():
            table = self.table_name(suffix)
            write_bucketed(
                frames[suffix],
                table,
                key,
                buckets=self.buckets,
                sort_cols=key,
                path=None if self.path is None else f"{self.path}/{table}",
                mode="append" if self._append[suffix] else "overwrite",
            )
            self._append[suffix] = True
