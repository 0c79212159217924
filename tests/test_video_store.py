"""Incremental VIDEO store (r10, sixth store member): the
min-matching-frames rule across batches, replay safety, cross-batch
cross-container near-dup, exchange-free store reads, and the
streaming loop's stream ≡ batch equivalence."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

# per-video frame fingerprint sets on 4x16-bit bands; NEAR(x) flips 2
# low bits (hamming 2, shares bands 1-3); FAR values share no band
H0 = 0x1111_2222_3333_4444
H1 = 0x5555_6666_7777_8888
H2 = 0x2222_3333_4444_5555
U0 = 0x0F0F_1E1E_2D2D_3C3C
U1 = 0x4B4B_5A5A_6969_7878
U2 = -0x0123_4567_89AB_CDF0


def _frames(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, frame_idx int, dhash long"
    )


def _vid(doc, hashes):
    return [(doc, i * 2, h) for i, h in enumerate(hashes)]


@pytest.fixture
def clean_store(spark):
    names = ["vfs1", "vfs2", "vfs3", "vfst"]
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}__vfpb")
    yield
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}__vfpb")


def test_video_store_min_match_across_batches(spark, tmp_path, clean_store):
    """Batch 1: base video. Batch 2: a 2-of-3-frames match drops, a
    1-of-3-frames match SURVIVES (below the rule), an unrelated video
    survives; the store holds survivors' frames only."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_video_dedup_bucketed,
    )

    b1 = _frames(spark, _vid(0, [H0, H1, H2]))
    s1 = incremental_video_dedup_bucketed(
        b1, "vfs1", buckets=4, path=str(tmp_path)
    )
    assert {r.doc_id for r in s1.collect()} == {0}

    W0, W1, W2 = 0x7777_8888_9999_AAAA, 0x6161_7272_8383_9494, 0x1357_2468_ACE0_BDF1
    b2 = _frames(
        spark,
        _vid(10, [H0 ^ 0b11, H1, U0])      # 2 frames match doc 0 -> drop
        + _vid(11, [H2, U1, U2])           # 1 frame match -> survives
        + _vid(12, [W0, W1, W2]),          # unrelated
    )
    s2 = incremental_video_dedup_bucketed(
        b2, "vfs1", buckets=4, path=str(tmp_path)
    )
    assert {r.doc_id for r in s2.collect()} == {11, 12}
    stored = {
        r.doc_id
        for r in spark.table("vfs1__vfpb").select("doc_id").distinct().collect()
    }
    assert stored == {0, 11, 12}


def test_video_store_replay_redrops_no_loss(spark, tmp_path, clean_store):
    """Replaying an already-committed batch: every doc re-matches its
    own stored frames (3 of 3 >= rule) and re-drops — at-least-once
    sink, zero duplicate store appends."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_video_dedup_bucketed,
    )

    b = _frames(spark, _vid(0, [H0, H1, H2]) + _vid(1, [U0, U1, U2]))
    s1 = incremental_video_dedup_bucketed(
        b, "vfs2", buckets=4, path=str(tmp_path)
    )
    assert {r.doc_id for r in s1.collect()} == {0, 1}
    n_store = spark.table("vfs2__vfpb").count()
    s2 = incremental_video_dedup_bucketed(
        b, "vfs2", buckets=4, path=str(tmp_path)
    )
    assert s2.count() == 0
    assert spark.table("vfs2__vfpb").count() == n_store


def test_video_store_exchange_free_store_side(spark, tmp_path, clean_store):
    """The store side of the candidate join must read bucket-pruned
    with NO Exchange above the store scan (the store-family plan
    contract)."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_video_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry
    from var_elasticnet_bigdata_spark.sources.bucketing import read_bucketed

    b1 = _frames(spark, _vid(0, [H0, H1, H2]))
    incremental_video_dedup_bucketed(
        b1, "vfs3", buckets=4, path=str(tmp_path)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.createDataFrame([(100, 7)], "doc_id long, bk long")
        j = (
            read_bucketed(spark, "vfs3__vfpb")
            .join(probe.repartition(4, "bk"), "bk")
        )
        anc = scan_ancestry(j, r"vfs3__vfpb")
        assert not any(a.startswith("Exchange") for a in anc), anc
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_video_stream_equals_batch(spark, tmp_path, clean_store):
    """stream (two micro-batches through the streaming loop) ≡ the
    same two batches through the batch API, including a cross-batch
    re-containered near-dup caught per-frame."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_video_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_against_store,
    )

    import time as _time

    rows1 = _vid(0, [H0, H1, H2]) + _vid(1, [U0, U1, U2])
    # doc 10 = re-containered doc 0 (identical frame hashes); doc 11
    # matches 2 frames across docs 0 and 1 but never >=2 on ONE doc?
    # no: vs doc 1 it matches U2^1~U2 and U1~U1 -> 2 on doc 1 -> drop
    rows2 = _vid(10, [H0, H1, H2]) + _vid(11, [U2 ^ 0b1, H2 ^ 0b1, U1])

    # batch reference chain
    ref = []
    for rows in (rows1, rows2):
        s = incremental_video_dedup_bucketed(
            _frames(spark, rows), "vfst", buckets=4,
            path=str(tmp_path / "ref"),
        )
        ref.extend(r.doc_id for r in s.select("doc_id").distinct().collect())

    # streaming: one availableNow query, one file per micro-batch
    # (the fp-store test's driving pattern), mid-stream compaction
    src = tmp_path / "src"
    spark.sql("DROP TABLE IF EXISTS vfsq__vfpb")
    _frames(spark, rows1).coalesce(1).write.mode("overwrite").parquet(
        str(src / "f1")
    )
    _time.sleep(1.1)  # distinct mtimes fix micro-batch order
    _frames(spark, rows2).coalesce(1).write.mode("overwrite").parquet(
        str(src / "f2")
    )
    try:
        q = stream_against_store(
            spark.readStream.schema("doc_id long, frame_idx int, dhash long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*"),
            partial(
                incremental_video_dedup_bucketed,
                store_name="vfsq",
                buckets=4,
                path=str(tmp_path / "st"),
            ),
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_path=str(tmp_path / "out"),
            tables=["vfsq__vfpb"],
            compact_every=2,
        )
        q.awaitTermination(180)
        got = {
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / "out"))
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert got == set(ref) == {0, 1}
        stored = {
            r.doc_id
            for r in spark.table("vfsq__vfpb")
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert stored == {0, 1}  # survivors only, compacted
    finally:
        spark.sql("DROP TABLE IF EXISTS vfsq__vfpb")
