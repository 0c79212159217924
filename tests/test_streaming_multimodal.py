"""Streaming (availableNow → memory sink, compared against batch) and
multimodal plumbing tests."""

from __future__ import annotations

from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark.operators.multimodal import (
    attach_payloads,
    decode_media,
    extract_features,
    fake_decode_features,
    sample_frames,
)
from var_elasticnet_bigdata_spark.sources import load_table
from var_elasticnet_bigdata_spark.streaming.events import (
    run_stream_to_memory,
    stateful_user_totals,
    stream_events,
    windowed_event_counts,
)

from .conftest import SF_SMALL


def test_stream_windowed_counts_match_batch(spark):
    stream = stream_events(spark, SF_SMALL)
    agg = windowed_event_counts(stream, window="6 hours", watermark="1 hour")
    q = run_stream_to_memory(agg, "win_counts", output_mode="complete")
    got = spark.sql("SELECT * FROM win_counts").toPandas()
    assert len(got) > 0

    batch = load_table(spark, SF_SMALL, "events")
    want = (
        batch.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    g = got[key + ["n_events", "total_value"]].sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g.n_events.to_numpy() == w.n_events.to_numpy()).all()
    assert g.total_value.to_numpy() == pytest.approx(w.total_value.to_numpy())
    q.stop()


def test_stream_session_windows_match_batch_sessionization(spark):
    """Native F.session_window streaming sessions == the batch
    gaps-and-islands session boundaries (same 30-min gap rule)."""
    from var_elasticnet_bigdata_spark.streaming.events import (
        session_window_counts,
    )

    stream = stream_events(spark, SF_SMALL)
    agg = session_window_counts(stream, gap="30 minutes", watermark="1 hour")
    q = run_stream_to_memory(agg, "sess_counts", output_mode="complete")
    got = spark.sql("SELECT * FROM sess_counts").toPandas()
    q.stop()
    assert len(got) > 0
    # batch twin: the g7 gaps-and-islands session table
    from var_elasticnet_bigdata_spark import queries as Q

    batch = Q.g7_session_window(spark, SF_SMALL).toPandas()
    assert len(got) == len(batch)
    # per-user session counts and event totals agree
    gu = got.groupby("user_id").agg(n_sess=("n_events", "size"),
                                    n_ev=("n_events", "sum"))
    bu = batch.groupby("user_id").agg(n_sess=("n_events", "size"),
                                      n_ev=("n_events", "sum"))
    merged = gu.join(bu, lsuffix="_s", rsuffix="_b")
    assert (merged.n_sess_s == merged.n_sess_b).all()
    assert (merged.n_ev_s == merged.n_ev_b).all()
    # session start times line up exactly
    gs = got.sort_values(["user_id", "sess_start"]).reset_index(drop=True)
    bs = batch.sort_values(["user_id", "sess_start"]).reset_index(drop=True)
    assert (
        gs["sess_start"].to_numpy() == bs["sess_start"].to_numpy()
    ).all()


def test_stream_stateful_user_totals(spark):
    stream = stream_events(spark, SF_SMALL)
    totals = stateful_user_totals(stream)
    q = run_stream_to_memory(totals, "user_totals", output_mode="update")
    got = spark.sql(
        "SELECT user_id, max(n_events) AS n, round(max(total_value),6) AS tv"
        " FROM user_totals GROUP BY user_id"
    ).toPandas()
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("tv"))
        .toPandas()
    )
    m = got.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(m) == len(batch)
    assert (m.n_s == m.n_b).all()
    assert m.tv_s.to_numpy() == pytest.approx(m.tv_b.to_numpy(), abs=1e-5)
    q.stop()


def test_multimodal_schema_roundtrip(spark):
    docs = load_table(spark, SF_SMALL, "documents").orderBy("doc_id").limit(50)
    with_bin = attach_payloads(docs)
    assert dict(with_bin.dtypes)["payload"] == "binary"
    # survives a shuffle intact
    back = with_bin.repartition(4, "doc_id").select("doc_id", "payload", "media")
    row = back.filter(F.col("doc_id") == 0).collect()[0]
    orig = docs.filter(F.col("doc_id") == 0).collect()[0]
    assert bytes(row.payload).decode("utf-8") == orig.text
    assert row.media.kind == "image" and row.media.width >= 1


def test_multimodal_feature_extraction(spark):
    docs = load_table(spark, SF_SMALL, "documents").orderBy("doc_id").limit(30)
    feats = extract_features(attach_payloads(docs)).toPandas()
    assert len(feats) == 30
    arr = np.array(feats.features.tolist())
    assert arr.shape == (30, 8)
    assert arr.sum(axis=1) == pytest.approx(np.ones(30))
    # deterministic: same input → same features
    text = docs.filter(F.col("doc_id") == docs.first().doc_id).first().text
    want = fake_decode_features(text.encode("utf-8"))
    got = np.array(
        feats[feats.doc_id == docs.first().doc_id].features.iloc[0]
    )
    assert got == pytest.approx(want)


def test_multimodal_frame_sampling(spark):
    docs = load_table(spark, SF_SMALL, "documents").orderBy("doc_id").limit(20)
    frames = sample_frames(attach_payloads(docs), frame_bytes=16, stride=2,
                           max_frames=4).toPandas()
    assert (frames.groupby("doc_id").frame_idx.max() <= 3).all()
    # frame contents are the right byte slices
    doc = docs.first()
    payload = doc.text.encode("utf-8")
    f0 = frames[(frames.doc_id == doc.doc_id) & (frames.frame_idx == 0)].frame.iloc[0]
    assert bytes(f0) == payload[:16]
    f1 = frames[(frames.doc_id == doc.doc_id) & (frames.frame_idx == 1)]
    if len(f1):
        assert bytes(f1.frame.iloc[0]) == payload[32:48]  # stride 2 → chunk 2


def test_real_decoder_jpeg_dispatch():
    # the JPEG seam is CLOSED (r4): the magic reaches the real
    # baseline decoder, and a real payload round-trips through the
    # dispatch while garbage after the magic degrades to ValueError
    import numpy as np

    from var_elasticnet_bigdata_spark.operators.multimodal import encode_jpeg

    img = np.full((8, 8, 3), 77, dtype=np.uint8)
    kind, dec = decode_media(encode_jpeg(img))
    assert kind == "image" and dec.shape == (8, 8, 3)
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff" + b"\x00" * 16)


def test_stream_exact_dedup_matches_batch(spark):
    from var_elasticnet_bigdata_spark.operators.dedup import exact_dedup
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_documents,
        stream_exact_dedup,
    )

    docs = stream_documents(spark, SF_SMALL)
    kept = stream_exact_dedup(docs)
    q = kept.writeStream.format("memory").queryName("sdedup").outputMode(
        "append"
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.sql("SELECT content_key FROM sdedup").toPandas()
    batch = exact_dedup(load_table(spark, SF_SMALL, "documents")).toPandas()
    # one survivor per content key, same key set as the batch dedup
    assert sorted(got["content_key"]) == sorted(batch["content_key"])
    assert got["content_key"].is_unique


def test_stream_scoring_matches_batch_expressions(spark):
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_documents,
        stream_scored,
    )

    docs = stream_documents(spark, SF_SMALL)
    scored = stream_scored(docs)
    q = scored.writeStream.format("memory").queryName("sscore").outputMode(
        "append"
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT doc_id, n_tokens, lang_guess, quality, fingerprint FROM sscore")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    from var_elasticnet_bigdata_spark import queries as Q

    toks = Q.QUERIES["text_token_count"](spark, SF_SMALL).toPandas()
    qual = Q.QUERIES["text_quality_score"](spark, SF_SMALL).toPandas()
    fp = Q.QUERIES["text_fingerprint"](spark, SF_SMALL).toPandas()
    merged = toks.merge(qual, on="doc_id").merge(fp, on="doc_id").sort_values(
        "doc_id"
    ).reset_index(drop=True)
    assert (got["n_tokens"].to_numpy() == merged["n_tokens"].to_numpy()).all()
    assert np.allclose(got["quality"].to_numpy(), merged["quality"].to_numpy())
    assert (got["fingerprint"].to_numpy() == merged["fingerprint"].to_numpy()).all()


def test_stream_interval_join_matches_batch(spark):
    from var_elasticnet_bigdata_spark.streaming.joins import (
        purchase_click_attribution,
    )

    batch = purchase_click_attribution(
        load_table(spark, SF_SMALL, "events"), lookback_minutes=360
    )
    exp = sorted(
        (r.purchase_id, r.click_id) for r in batch.collect()
    )
    assert len(exp) > 0  # the fixture actually exercises the join

    stream = stream_events(spark, SF_SMALL)
    joined = purchase_click_attribution(stream, lookback_minutes=360)
    assert joined.isStreaming
    run_stream_to_memory(joined, "sjoin", output_mode="append")
    act = sorted(
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM sjoin").collect()
    )
    assert act == exp


def test_multimodal_features_feed_similarity_pipeline(spark):
    """End-to-end: binary payloads → Arrow-batched feature extraction
    → embedding near-dup pairs. Exact duplicate payloads must surface
    as cosine-1 pairs through the SAME similarity operators the
    embeddings table uses — the decode seam is the only stub."""
    from var_elasticnet_bigdata_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    docs = load_table(spark, SF_SMALL, "documents").orderBy("doc_id").limit(40)
    with_payloads = attach_payloads(docs)
    # plant one exact duplicate payload pair with fresh ids
    a = with_payloads.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "payload"
    )
    corpus = with_payloads.select("doc_id", "payload").unionByName(a)
    feats = extract_features(corpus, dim=8).withColumnRenamed(
        "features", "embedding"
    )
    pairs = cosine_near_dup_pairs(
        feats, threshold=0.999999, id_col="doc_id", vec_col="embedding"
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 100000) in found  # identical payloads ≡ cosine 1


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once file sink: a stream run to completion, torn down,
    and restarted with the SAME checkpoint must not duplicate rows."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = stream_events(spark, SF_SMALL)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # no new input files → checkpoint says: nothing to do
    n2 = spark.read.parquet(out).count()
    batch_n = load_table(spark, SF_SMALL, "events").count()
    assert n1 == batch_n
    assert n2 == n1  # restart did not re-ingest


def test_stream_near_dup_against_store_matches_incremental_chain(spark, tmp_path):
    """The continuous crawl loop: micro-batches near-dup-deduped
    against the persisted bucketed store via foreachBatch must yield
    EXACTLY the survivors the batch incremental chain produces over
    the same arrival order, and the store must end holding exactly
    the survivor signature rows."""
    import time as _time

    from pyspark.sql import functions as F

    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_near_dup,
    )
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_near_dup_bucketed,
    )
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_against_store,
    )

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet cyan magenta black",
    ]
    rows = []
    rid = 0
    for b in base:  # original + near-dup + unrelated reversal
        rows.append((rid, b)); rid += 1
        rows.append((rid, b + " extra")); rid += 1
        rows.append((rid, " ".join(reversed(b.split())))); rid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    b1 = docs.filter(F.col("doc_id") < 5)
    b2 = docs.filter(F.col("doc_id") >= 5)

    src = str(tmp_path / "src")
    # two files, distinct mtimes -> two micro-batches in arrival order
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    spark.sql("DROP TABLE IF EXISTS sstore__bands")
    spark.sql("DROP TABLE IF EXISTS sstore__sigs")
    try:
        q = stream_against_store(
            stream,
            partial(
                incremental_near_dup_bucketed,
                store_name="sstore",
                threshold=0.5,
                buckets=4,
                path=str(tmp_path / "store"),
            ),
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_path=str(tmp_path / "out"),
            tables=["sstore__sigs", "sstore__bands"],
            compact_every=2,  # fires after the final micro-batch (r7)
        )
        q.awaitTermination(180)
        got = sorted(
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        s1, store1 = incremental_near_dup(b1, None, threshold=0.5)
        s2, store2 = incremental_near_dup(b2, store1, threshold=0.5)
        ref = sorted(
            r.doc_id for r in s1.unionByName(s2).select("doc_id").collect()
        )
        assert got == ref and len(got) >= 4
        assert sorted(
            r.doc_id for r in spark.table("sstore__sigs").collect()
        ) == ref
    finally:
        spark.sql("DROP TABLE IF EXISTS sstore__bands")
        spark.sql("DROP TABLE IF EXISTS sstore__sigs")


def test_stream_exact_dedup_against_store_with_compaction(spark, tmp_path):
    """The lightweight crawl loop: exact dedup against the persisted
    key store over micro-batches must equal one full min-id exact
    dedup (id-ordered arrival), the store must end holding exactly
    the survivor keys, and compact_every must reduce the key table's
    file count without changing either."""
    import time as _time

    from pyspark.sql import functions as F

    from var_elasticnet_bigdata_spark.operators.dedup import exact_dedup
    from var_elasticnet_bigdata_spark.sources.compaction import (
        data_file_count,
    )
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_exact_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_against_store,
    )

    rows = [
        (0, "Alpha Beta"), (1, "alpha beta!"), (2, "gamma delta"),
        (3, "unique zero"), (4, "GAMMA delta"), (5, "epsilon nine"),
        (6, "alpha  beta"), (7, "fresh content"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    b1 = docs.filter(F.col("doc_id") < 4)
    b2 = docs.filter(F.col("doc_id") >= 4)
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    spark.sql("DROP TABLE IF EXISTS estore__keys")
    try:
        q = stream_against_store(
            stream,
            partial(
                incremental_exact_dedup_bucketed,
                store_name="estore",
                buckets=4,
                path=str(tmp_path / "store"),
            ),
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_path=str(tmp_path / "out"),
            tables=["estore__keys"],
            compact_every=2,  # fires after the 2nd micro-batch
        )
        q.awaitTermination(180)
        got = sorted(
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        ref = sorted(r.doc_id for r in exact_dedup(docs).collect())
        assert got == ref == [0, 2, 3, 5, 7]
        keys = spark.table("estore__keys")
        assert sorted(r.doc_id for r in keys.collect()) == ref
        # compaction ran inside the loop: ~one file per non-empty
        # bucket, not one per (batch, task, bucket)
        loc = dict(
            (r.col_name, r.data_type)
            for r in spark.sql("DESCRIBE TABLE EXTENDED estore__keys").collect()
        )["Location"].removeprefix("file:")
        assert data_file_count(loc) <= 4
    finally:
        spark.sql("DROP TABLE IF EXISTS estore__keys")
        spark.sql("DROP TABLE IF EXISTS estore__keys__compacting")


def test_stream_semantic_dedup_against_store_matches_one_shot(spark, tmp_path):
    """Streaming SemDeDup over micro-batches against the per-cell
    seen-set store must emit exactly the one-shot semantic_dedup
    survivors over the union (id-ordered arrival)."""
    import time as _time

    import numpy as np
    from pyspark.sql import functions as F

    from var_elasticnet_bigdata_spark.operators.similarity import (
        incremental_semantic_dedup_bucketed,
        semantic_dedup,
    )
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_against_store,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(5, 8))
    rows = []
    vid = 0
    for i in range(5):
        rows.append((vid, base[i].tolist())); vid += 1
        rows.append((vid, (base[i] + rng.normal(scale=1e-3, size=8)).tolist()))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C = np.eye(8)[:4]
    b1 = emb.filter(F.col("vec_id") < 5)
    b2 = emb.filter(F.col("vec_id") >= 5)
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    spark.sql("DROP TABLE IF EXISTS ssem__vecs")
    try:
        q = stream_against_store(
            stream,
            partial(
                incremental_semantic_dedup_bucketed,
                store_name="ssem",
                centroids=C,
                eps=0.9,
                buckets=4,
                path=str(tmp_path / "store"),
            ),
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_path=str(tmp_path / "out"),
            tables=["ssem__vecs"],
            compact_every=2,  # fires after the final micro-batch (r7)
        )
        q.awaitTermination(180)
        got = sorted(
            r.vec_id
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        full = semantic_dedup(emb, eps=0.9, centroids=C)
        ref = sorted(r.vec_id for r in full.filter(~F.col("is_dup")).collect())
        assert got == ref and 0 < len(ref) < emb.count()
        assert spark.table("ssem__vecs").count() == emb.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS ssem__vecs")


def test_stream_classifier_scoring_matches_batch(spark, tmp_path):
    """hashed_classifier_score is a pure narrow expression, so it
    composes onto readStream unchanged — stream == batch under
    availableNow."""
    from var_elasticnet_bigdata_spark.operators.text import (
        hashed_classifier_score,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "src")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = str(tmp_path / "out")
    q = (
        hashed_classifier_score(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.logit_milli, r.score)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.logit_milli, r.score)
        for r in hashed_classifier_score(docs).collect()
    }
    assert got == want and len(got) == docs.count()


def test_stream_pq_adc_serving_matches_batch(spark, tmp_path):
    """PQ ADC serving composes onto readStream: with the trained
    codebook + probe set passed explicitly (probe_rows — a stream
    cannot be collected), the scoring pass is the same narrow
    expression, so stream == batch under availableNow. This is the
    vector-family member of the streaming-serving trio (classifier,
    quality, ADC)."""
    import time as _time

    from var_elasticnet_bigdata_spark.operators.similarity import (
        pq_adc_top1,
        pq_seed_codebook,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    C = pq_seed_codebook(emb, k=16)
    probe_rows = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    batch = {
        r.vec_id: (r.nearest_probe, r.adc)
        for r in pq_adc_top1(
            emb, m=4, k=16, codebook=C, probe_rows=probe_rows
        ).collect()
    }

    src = str(tmp_path / "src")
    b1 = emb.filter(F.col("vec_id") < 250)
    b2 = emb.filter(F.col("vec_id") >= 250)
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    scored = pq_adc_top1(stream, m=4, k=16, codebook=C, probe_rows=probe_rows)
    q = (
        scored.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.vec_id: (r.nearest_probe, r.adc)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == batch and len(got) == emb.count()


def test_stream_substring_dedup_against_store_matches_batch_chain(spark, tmp_path):
    """The fourth streaming crawl loop: micro-batches substring-
    deduped against the persisted positional-shingle store must yield
    EXACTLY the survivors the batch incremental chain produces over
    the same arrival order, with compaction firing mid-stream."""
    import time as _time

    from pyspark.sql import functions as F

    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_substring_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.streaming.dedup import (
        stream_against_store,
    )

    shared = " ".join(f"shr{i}word{i % 7}" for i in range(25))
    uniq = lambda tag, k: " ".join(f"{tag}tok{i}" for i in range(k))
    rows = [
        (0, uniq("a", 12) + " " + shared),
        (1, uniq("b", 40)),
        (2, shared + " " + uniq("c", 15)),       # dup of 0 in batch 1
        (5, uniq("d", 10) + " " + shared),       # dup vs store (doc 0)
        (6, uniq("e", 45)),
        (7, uniq("f", 9) + " " + uniq("g", 22)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
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
    spark.sql("DROP TABLE IF EXISTS ssubst__psh")
    spark.sql("DROP TABLE IF EXISTS bsubst__psh")
    try:
        q = stream_against_store(
            stream,
            partial(
                incremental_substring_dedup_bucketed,
                store_name="ssubst",
                width=8,
                min_run_tokens=20,
                buckets=4,
                path=str(tmp_path / "store"),
            ),
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_path=str(tmp_path / "out"),
            tables=["ssubst__psh"],
            compact_every=2,  # fires after the final micro-batch
        )
        q.awaitTermination(180)
        got = sorted(
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        s1 = incremental_substring_dedup_bucketed(
            b1, "bsubst", buckets=4, path=str(tmp_path / "bstore"),
            width=8, min_run_tokens=20,
        )
        r1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
        s2 = incremental_substring_dedup_bucketed(
            b2, "bsubst", buckets=4, path=str(tmp_path / "bstore"),
            width=8, min_run_tokens=20,
        )
        ref = sorted(r1 + [r.doc_id for r in s2.select("doc_id").collect()])
        assert got == ref
        assert 2 not in got and 5 not in got  # in-batch + vs-store drops
        assert 0 in got and 1 in got
        # seen-set store: every batch row's shingles present (compacted)
        docs_in_store = sorted(
            r.doc_id
            for r in spark.table("ssubst__psh").select("doc_id").distinct().collect()
        )
        assert docs_in_store == [0, 1, 2, 5, 6, 7]
    finally:
        spark.sql("DROP TABLE IF EXISTS ssubst__psh")
        spark.sql("DROP TABLE IF EXISTS bsubst__psh")
