"""Incremental banded-fingerprint store (r9, fifth store member):
batch-chain semantics, hot-bucket union gate, replay contract,
exchange-free store reads, and the streaming loop's stream ≡ batch
equivalence."""
from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F


def _fp_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, fp long")


# fingerprints engineered on 4x16-bit bands: band b of value v sits at
# bits [16b, 16b+16). NEAR(x) flips 2 low bits of x (hamming 2, still
# sharing bands 1-3); FAR values share no band.
BASE = 0x1111_2222_3333_4444
NEAR = BASE ^ 0b11          # hamming 2
FAR1 = 0x5555_6666_7777_8888
FAR2 = -0x0123_4567_89AB_CDF0  # negative: sign-bit band handling


@pytest.fixture
def clean_store(spark):
    names = ["fps1", "fps2", "fps3", "fpst"]
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}__fpb")
    yield
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}__fpb")


def test_incremental_fp_batch_chain(spark, tmp_path, clean_store):
    """In-batch drop (higher id of a <=max_hamming pair), vs-store
    drop, unrelated survivors, survivors-only store content."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_fingerprint_dedup_bucketed,
    )

    b1 = _fp_rows(spark, [(0, BASE), (1, NEAR), (2, FAR1)])
    b2 = _fp_rows(spark, [(5, NEAR), (6, FAR2), (7, FAR1 ^ 0b1)])
    s1 = incremental_fingerprint_dedup_bucketed(
        b1, "fps1", buckets=4, path=str(tmp_path)
    )
    assert sorted(r.doc_id for r in s1.collect()) == [0, 2]  # 1 drops vs 0
    s2 = incremental_fingerprint_dedup_bucketed(
        b2, "fps1", buckets=4, path=str(tmp_path)
    )
    # 5 drops vs stored 0 (hamming 2), 7 drops vs stored 2 (hamming 1)
    assert sorted(r.doc_id for r in s2.collect()) == [6]
    stored = sorted(
        r.doc_id
        for r in spark.table("fps1__fpb").select("doc_id").distinct().collect()
    )
    assert stored == [0, 2, 6]  # survivors only


def test_incremental_fp_replay_drops_everything_no_loss(spark, tmp_path, clean_store):
    """A replayed batch (store already holds its survivors) self-
    matches at hamming 0 and drops entirely — at-least-once with the
    sink-before-store hook, never loss; the store gains nothing."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_fingerprint_dedup_bucketed,
    )

    b = _fp_rows(spark, [(0, BASE), (2, FAR1)])
    sunk = []
    incremental_fingerprint_dedup_bucketed(
        b, "fps2", buckets=4, path=str(tmp_path),
        on_survivors=lambda s: sunk.append(
            sorted(r.doc_id for r in s.collect())
        ),
    )
    assert sunk == [[0, 2]]
    replay = incremental_fingerprint_dedup_bucketed(
        b, "fps2", buckets=4, path=str(tmp_path),
        on_survivors=lambda s: sunk.append(
            sorted(r.doc_id for r in s.collect())
        ),
    )
    assert replay.count() == 0 and sunk == [[0, 2], []]
    assert spark.table("fps2__fpb").select("doc_id").distinct().count() == 2


def test_incremental_fp_hot_bucket_union_gate(spark, tmp_path, clean_store):
    """The gate counts DISTINCT ids over store ∪ batch scoped to the
    batch's buckets: a bucket whose combined population exceeds
    max_ids_per_bucket emits no pairs from EITHER arm, so a planted
    near-dup inside the hot bucket survives (mega-clusters are exact
    dedup's job)."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_fingerprint_dedup_bucketed,
    )

    # 4 stored ids, pairwise hamming >= 4 (all survive batch 1) but
    # all sharing bands 1-3 of BASE — those three buckets hold 4
    # stored ids each, so batch doc 5 (NEAR, in all three) pushes the
    # union-distinct count to 5 > gate 4: its buckets go hot and the
    # planted near-dup SURVIVES. Batch doc 6 shares only band 0 with
    # stored 0 ({0, 6}: under the gate), so it still drops — both
    # gate behaviors in one pass.
    b1 = _fp_rows(
        spark,
        [(0, BASE), (1, BASE ^ 0x000F), (2, BASE ^ 0x00F0),
         (3, BASE ^ 0x0F00)],
    )
    s1 = incremental_fingerprint_dedup_bucketed(
        b1, "fps3", buckets=4, path=str(tmp_path), max_ids_per_bucket=4
    )
    assert s1.count() == 4  # pairwise far: all stored
    b2 = _fp_rows(spark, [(5, NEAR), (6, BASE ^ (0b1 << 48))])
    s2 = incremental_fingerprint_dedup_bucketed(
        b2, "fps3", buckets=4, path=str(tmp_path), max_ids_per_bucket=4
    )
    assert sorted(r.doc_id for r in s2.collect()) == [5]
    # with a roomy gate the same second batch drops BOTH (5 vs 0 at
    # hamming 2, 6 vs 0 at hamming 1)
    spark.sql("DROP TABLE IF EXISTS fpst__fpb")
    incremental_fingerprint_dedup_bucketed(
        b1, "fpst", buckets=4, path=str(tmp_path / "t"), max_ids_per_bucket=64
    )
    s2b = incremental_fingerprint_dedup_bucketed(
        b2, "fpst", buckets=4, path=str(tmp_path / "t"), max_ids_per_bucket=64
    )
    assert s2b.count() == 0


def test_incremental_fp_store_side_exchange_free(spark, tmp_path, clean_store):
    """The store side of the band join reads already-partitioned: no
    Exchange between the bucketed store scan and its join."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_fingerprint_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry
    from var_elasticnet_bigdata_spark.sources.bucketing import read_bucketed

    b1 = _fp_rows(spark, [(0, BASE), (2, FAR1)])
    incremental_fingerprint_dedup_bucketed(
        b1, "fps1", buckets=4, path=str(tmp_path)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.createDataFrame([(100, 7)], "doc_id long, bk long")
        j = (
            read_bucketed(spark, "fps1__fpb")
            .join(probe.repartition(4, "bk"), "bk")
        )
        anc = scan_ancestry(j, r"fps1__fpb")
        assert not any(a.startswith("Exchange") for a in anc), anc
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_stream_fingerprint_dedup_matches_batch_chain(spark, tmp_path, clean_store):
    """The fifth streaming crawl loop: micro-batches fingerprint-
    deduped against the persisted store yield EXACTLY the batch
    incremental chain's survivors over the same arrival order, with
    compaction firing mid-stream."""
    import time as _time

    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_fingerprint_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_against_store,
    )

    rows1 = [(0, BASE), (1, NEAR), (2, FAR1)]
    rows2 = [(5, NEAR), (6, FAR2), (7, FAR1 ^ 0b1)]
    docs = _fp_rows(spark, rows1 + rows2)
    b1 = docs.filter(F.col("doc_id") < 5)
    b2 = docs.filter(F.col("doc_id") >= 5)

    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    spark.sql("DROP TABLE IF EXISTS sfp__fpb")
    spark.sql("DROP TABLE IF EXISTS bfp__fpb")
    try:
        q = stream_against_store(
            stream,
            partial(
                incremental_fingerprint_dedup_bucketed,
                store_name="sfp",
                buckets=4,
                path=str(tmp_path / "store"),
            ),
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_path=str(tmp_path / "out"),
            tables=["sfp__fpb"],
            compact_every=2,
        )
        q.awaitTermination(180)
        got = sorted(
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        s1 = incremental_fingerprint_dedup_bucketed(
            b1, "bfp", buckets=4, path=str(tmp_path / "bstore")
        )
        r1 = sorted(r.doc_id for r in s1.collect())
        s2 = incremental_fingerprint_dedup_bucketed(
            b2, "bfp", buckets=4, path=str(tmp_path / "bstore")
        )
        ref = sorted(r1 + [r.doc_id for r in s2.collect()])
        assert got == ref == [0, 2, 6]
        stored = sorted(
            r.doc_id
            for r in spark.table("sfp__fpb").select("doc_id").distinct().collect()
        )
        assert stored == [0, 2, 6]  # survivors only, compacted
    finally:
        spark.sql("DROP TABLE IF EXISTS sfp__fpb")
        spark.sql("DROP TABLE IF EXISTS bfp__fpb")


def test_stream_multimodal_ingest_end_to_end(spark, tmp_path, clean_store):
    """The REAL multimodal crawl loop end to end: a payload STREAM
    (actual BMP bytes) decodes + fingerprints inside the stream plan
    (`image_dhash` composes onto readStream unchanged — one narrow
    Arrow stage), then dedups against the persisted fingerprint store
    per micro-batch. The planted near-dup arriving in batch 2 is
    dropped against batch 1's stored survivor; unrelated images
    survive."""
    import time as _time

    import numpy as np

    from var_elasticnet_bigdata_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
    )
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_fingerprint_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_against_store,
    )

    rng = np.random.default_rng(21)

    def gray(seed_rng):
        g = seed_rng.integers(0, 256, size=(8, 9), dtype=np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)

    base = gray(rng)
    bright = np.minimum(base.astype(np.int64) + 2, 255).astype(np.uint8)
    other1, other2 = gray(rng), gray(rng)
    b1 = spark.createDataFrame(
        [(0, bytearray(encode_bmp(base))),
         (1, bytearray(encode_bmp(other1)))],
        "doc_id long, payload binary",
    )
    b2 = spark.createDataFrame(
        [(5, bytearray(encode_bmp(bright))),   # near-dup of stored 0
         (6, bytearray(encode_bmp(other2)))],
        "doc_id long, payload binary",
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    spark.sql("DROP TABLE IF EXISTS smm__fpb")
    try:
        hashed = image_dhash(stream).withColumnRenamed("dhash", "fp")
        q = stream_against_store(
            hashed,
            partial(
                incremental_fingerprint_dedup_bucketed,
                store_name="smm",
                buckets=4,
                path=str(tmp_path / "store"),
            ),
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_path=str(tmp_path / "out"),
            tables=["smm__fpb"],
        )
        q.awaitTermination(180)
        got = sorted(
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        assert got == [0, 1, 6]  # 5 dropped vs stored 0
    finally:
        spark.sql("DROP TABLE IF EXISTS smm__fpb")
