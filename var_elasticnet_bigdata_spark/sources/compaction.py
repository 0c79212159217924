"""Small-files compaction for parquet layouts.

At 100 TB the silent killer of scan throughput is file-count
explosion: streaming micro-batches, per-task writes, and incremental
appends leave thousands of KB-scale files per partition, so a scan
pays a task (plus open/footer overhead) per tiny file and the
NameNode/listing layer melts. Compaction rewrites a dataset into
files near a target size WITHOUT changing its logical content.

Design:

- file count is derived from the MEASURED input bytes (post-filter,
  parquet-compressed) over ``target_mb`` — not guessed;
- un-partitioned data uses ``repartition(n)`` (round-robin — evenly
  sized output files); partitioned data keeps its directory layout
  (``partitionBy`` again) and spreads rows WITHIN each partition via
  ``repartition(n, partition_cols..., rand-free salt on a stable
  hash)`` — deterministic, no data movement across partitions;
- ``maxRecordsPerFile`` is set as a hard upper bound so one skewed
  task cannot emit a monster file;
- content equality is the contract (tested): compaction is a pure
  re-layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dir_bytes(path: str) -> int:
    """Recursive on-disk byte count of a dataset directory."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def data_file_count(path: str) -> int:
    """Number of data files (ignores _SUCCESS/metadata/hidden)."""
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")) and f.endswith(".parquet"))
    return n


def compact(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 128,
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> int:
    """Rewrite the parquet dataset at ``src`` into ``dst`` with files
    near ``target_mb``. Returns the file count it aimed for. Content
    (rows, schema) is unchanged; layout (file count/sizes, and the
    ``partition_cols`` directory tree if given) is normalized."""
    if os.path.abspath(src) == os.path.abspath(dst):
        raise ValueError("compact src and dst must differ (no in-place rewrite)")
    df = spark.read.parquet(src)
    n_files = max(1, -(-dir_bytes(src) // (target_mb * 1024 * 1024)))
    writer_df: DataFrame
    if partition_cols:
        # deterministic spread inside each partition: hash of the
        # remaining columns (stable, engine-side) instead of rand()
        rest = [c for c in df.columns if c not in partition_cols]
        if not rest:
            # Spark's parquet writer itself rejects partitioning by
            # every column (ALL_PARTITION_COLUMNS_NOT_ALLOWED); fail
            # here with actionable wording instead of mid-write
            raise ValueError(
                "partition_cols covers the whole schema; compaction "
                "needs at least one data column to write"
            )
        # the file budget is GLOBAL: each partition-directory should
        # end up with ~n_files/n_dirs files, so the in-directory salt
        # ranges over that quotient — a salt mod n_files would hand
        # EVERY directory up to n_files writer slots and multiply the
        # output file count by the directory count
        n_dirs = max(df.select(*partition_cols).distinct().count(), 1)
        per_dir = max(-(-n_files // n_dirs), 1)
        writer_df = df.repartition(
            max(n_files, n_dirs),
            *partition_cols,
            F.pmod(F.hash(*rest), F.lit(per_dir)),
        )
        w = writer_df.write.partitionBy(*partition_cols)
    else:
        writer_df = df.repartition(n_files)
        w = writer_df.write
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.mode("overwrite").parquet(dst)
    return n_files


def recover_orphaned_compaction(spark: SparkSession, table: str) -> bool:
    """Heal the non-atomic swap window in `compact_bucketed`: a crash
    between its ``DROP TABLE {table}`` and the staging rename leaves
    only ``{table}__compacting`` registered — and the staging table
    holds the FULL rewritten content by that point. Renaming it into
    place restores the store byte-for-byte.

    This must run BEFORE any incremental-store operator probes
    ``tableExists(table)`` (ADVICE r6): the operators treat a missing
    store table as "first batch" and OVERWRITE it, after which the
    orphaned staging table (the entire accepted history) sits
    alongside a live target and the next compaction drops it as a
    pre-swap leftover — silent, permanent loss of every prior key.
    `sources.store.BucketedStore` therefore calls this helper for
    each store table when it opens, before its exists-probe, so a
    replayed micro-batch after a mid-compaction crash sees the
    recovered history instead of an empty store.

    Returns True iff a recovery rename happened. Cheap when healthy:
    one catalog probe.
    """
    staging = f"{table}__compacting"
    if spark.catalog.tableExists(staging) and not spark.catalog.tableExists(
        table
    ):
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        return True
    return False


def compact_bucketed(spark: SparkSession, table: str) -> tuple[int, int]:
    """In-place compaction of a BUCKETED catalog table: every append
    (`sources.bucketing.write_bucketed(mode='append')`, as used by
    the incremental dedup / decontamination stores) adds one file per
    task per bucket, so a store appended N times scans N files per
    bucket. This rewrites the table through a staging table with the
    SAME bucket spec — the bucketing contract (and therefore the
    exchange-free store-side joins) survives, verified by plan
    assertion in tests — then swaps it in via DROP + catalog rename.
    Rows are pre-partitioned on the bucket columns into
    ``num_buckets`` tasks so the rewrite emits ~one file per bucket.

    The swap is NOT atomic: Spark's catalog has no single-statement
    table swap, so there is a window between ``DROP TABLE {table}``
    and ``ALTER TABLE ... RENAME`` where a concurrent reader sees no
    table, and a crash inside it leaves only the ``__compacting``
    staging table registered. Run compaction only while the table's
    readers/writers are quiesced (the incremental-store batch loop
    satisfies this — one batch at a time). Crash recovery is
    automatic: on entry, a registered staging table with no target
    table (the crash signature — the staging table holds the full
    rewritten content by that point) is renamed into place before
    compaction proceeds; a staging table alongside a live target is
    a pre-swap leftover and is dropped.

    Returns ``(data_files_before, data_files_after)``. External
    tables get a sibling location (alternating ``__c`` suffix);
    managed tables stay managed.
    """
    staging = f"{table}__compacting"
    recover_orphaned_compaction(spark, table)
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    if "Num Buckets" not in info:
        raise ValueError(f"{table} is not a bucketed table")
    buckets = int(info["Num Buckets"])

    def _cols(key: str) -> list[str]:
        raw = info.get(key, "[]").strip("[]")
        return [c.strip(" `") for c in raw.split(",") if c.strip(" `")]

    bcols = _cols("Bucket Columns")
    scols = _cols("Sort Columns")
    loc = info.get("Location", "")
    local = loc.removeprefix("file:")
    before = data_file_count(local) if local and os.path.isdir(local) else -1

    from .bucketing import write_bucketed

    tmp = f"{table}__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    new_path = None
    if local and os.path.isdir(local):
        new_path = (
            local.removesuffix("__c") if local.endswith("__c")
            else local + "__c"
        )
    # read the table NON-bucketed for the rewrite: a bucketed scan
    # "satisfies" the repartition's distribution, so the planner
    # elides the exchange AND then disables the bucketed read
    # (DisableUnnecessaryBucketedScan) — leaving N unaligned scan
    # tasks each writing per-bucket files, the very fragmentation
    # being compacted. A plain scan forces one real exchange into
    # `buckets` tasks whose hash (murmur3 pmod) IS the bucket id, so
    # the writer emits ~one file per bucket.
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    bucketing_key = "spark.sql.sources.bucketing.enabled"
    old_conf = {k: spark.conf.get(k, None) for k in (auto_key, bucketing_key)}
    try:
        spark.conf.set(bucketing_key, "false")
        staged = spark.table(table).repartition(
            buckets, *[F.col(c) for c in bcols]
        )
        write_bucketed(
            staged, tmp, bcols, buckets=buckets,
            sort_cols=scols or None, path=new_path, mode="overwrite",
        )
    finally:
        for k, v in old_conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    after_loc = new_path if new_path else None
    if after_loc is None:
        inf2 = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        after_loc = inf2.get("Location", "").removeprefix("file:")
    after = data_file_count(after_loc) if after_loc and os.path.isdir(after_loc) else -1
    return before, after
