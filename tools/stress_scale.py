"""Scale-growth stress harness: replicate the sf0.1 corpus K× into a
scratch dir and measure per-query wall-clock growth for the
data-sensitive text/dedup/ANN family (the SCALING.md "measured 10×
growth" table).

The replica duplicates every document/embedding K times with shifted
ids — deliberately a heavy-duplication stress: each doc gains K−1
exact copies, so near-dup operators see a quadratic-in-K pair load on
top of the K× scan load. Dimension/fact tables are copied unchanged.

Each scale starts with ``tools.retime.warmup_session``; each query then
runs once untimed and ``RUNS`` times timed, and its reported wall is
the median of the timed runs (one sample read the same code's ×10
ratio 2.1× or 3.2× by family order). Its shuffle-bytes window spans
the first timed run only.

    python tools/stress_scale.py            # K=10, family below
    python tools/stress_scale.py 4          # K=4
    python tools/stress_scale.py 10 text_lang_id dedup_simhash
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = "/tmp/spark_graft_stress"
ID_STRIDE = 100_000_000  # far above any testdata id
RUNS = 3  # timed runs per query per scale; the median is reported

FAMILY = [
    "dedup_exact", "dedup_minhash_signature", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_components", "text_lang_id",
    "text_quality_score", "text_line_dedup", "sample_domain_mix",
    "split_contamination", "text_pack_sequences", "ann_top1_cosine",
    "ann_ivf_fixed", "pipeline_corpus_curation", "pipeline_training_data",
    # r5 persisted-store paths: store build + batch join both scale
    "dedup_incremental_bucketed", "split_contamination_store",
    # r6: tokenizer round (vocab-sided), zero-shuffle classifier,
    # full-corpus Lloyd step, exact key store, in-cell kNN vote
    "text_bpe_top_pairs", "text_classifier_score", "ann_kmeans_refine",
    "dedup_incremental_exact", "ann_knn_label_vote",
    "sample_cluster_balanced", "dedup_semantic_incremental",
    "ann_pq_encode", "ann_pq_adc_top1", "text_quality_curriculum",
    # r7: full IVF-PQ chain (train -> residual encode -> probed ADC),
    # its recall audit, the PCA/whitening pair, tokenizer encode
    "ann_ivfpq_search", "ann_ivfpq_recall", "ann_pca_power",
    "ann_whiten_norms", "text_bpe_encode", "dedup_best_of_cluster",
    "text_pii_by_lang",
    # r8: serve-only IVF-PQ (pre-trained artifacts — should track the
    # ADC arm's growth, not the chain's train-dominated 4.8×) and
    # exact substring dedup (positional shingles + frequency-gated
    # pair join + diagonal islands)
    "ann_ivfpq_serve", "dedup_substring", "dedup_substring_incremental",
    "dedup_substring_scrub", "ann_pca_top2", "ann_cluster_topterms",
    "ann_abtt2_norms", "split_decontaminate_spans",
    # r9: image perceptual-hash near-dup (decode+hash narrow, one
    # band-keyed shuffle), bigram perplexity (token-stream windows),
    # fluency curriculum (distributed global rank)
    "dedup_image_phash", "text_bigram_perplexity",
    "text_perplexity_curriculum",
    # r9: audio perceptual fingerprint (decode+energy-bits narrow,
    # same banded join as the image family); SQ8 quantization serving
    # (one min/max scan + narrow encode + closure-probe Arrow score)
    "dedup_audio_fingerprint", "ann_sq8_adc_top1",
    "dedup_fingerprint_incremental", "text_kn_perplexity",
    "text_classifier_train", "pipeline_multimodal_curation",
    "ann_truncation_agree", "sample_domain_cap", "ann_sq8_recall",
    "text_heavy_hitters",
]


def build_replica(k: int) -> str:
    import duckdb

    out = f"{SCRATCH}/x{k}"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT doc_id + {ID_STRIDE} * r AS doc_id, text, lang, source, n_chars
              FROM '{SRC}/documents.parquet', range(0, {k}) t(r))
        TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT vec_id + {ID_STRIDE} * r AS vec_id, embedding, label
              FROM '{SRC}/embeddings.parquet', range(0, {k}) t(r))
        TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    family = sys.argv[2:] or FAMILY

    from var_elasticnet_bigdata_spark import queries as Q
    from var_elasticnet_bigdata_spark.session import get_spark
    from var_elasticnet_bigdata_spark.sources import load_table

    replica = build_replica(k)
    # UI on for the shuffle-bytes REST window (tools/spark_metrics.py)
    spark = get_spark(
        "stress-scale",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from tools.retime import warmup_session
    from tools.spark_metrics import shuffle_totals

    bytes_at: dict[str, dict[str, dict[str, int]]] = {}
    walls_at: dict[str, dict[str, list[float]]] = {}

    def sink(name: str, sf_dir: str) -> None:
        Q.QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()

    def run(sf_dir: str) -> dict[str, float]:
        warmup_session(spark, sf_dir)
        out: dict[str, float] = {}
        by: dict[str, dict[str, int]] = {}
        bytes_at[sf_dir] = by
        walls_at[sf_dir] = walls = {}
        for name in family:
            # one untimed run per query, so no query is timed cold
            # (JIT/codegen and Python workers for THIS plan shape) and
            # the order of the family does not move its figures
            sink(name, sf_dir)
            cur = shuffle_totals(spark)
            last_stage = cur["max_stage_id"] if cur else -1
            ts = []
            for i in range(RUNS):
                t0 = time.time()
                sink(name, sf_dir)
                ts.append(round(time.time() - t0, 2))
                if i == 0:
                    tot = shuffle_totals(spark, after_stage_id=last_stage)
                    if tot is not None:
                        by[name] = {"read": tot["read"], "write": tot["write"]}
            walls[name] = ts
            out[name] = statistics.median(ts)
        return out

    base = run(SRC)
    big = run(replica)

    # Recall floor (VERDICT r4 stretch #8): IVF's speed at scale must
    # never silently come from dropped recall. Compare the ACHIEVED
    # top-1 cosine per query vector against the exact brute-force
    # answer at the replica scale — cosine-based, not neighbor-id
    # equality, because the K× replica gives every vector K−1 exact
    # duplicates and id tie-breaks would understate true recall.
    recall = None
    if "ann_ivf_fixed" in family and "ann_top1_cosine" in family:
        from pyspark.sql import functions as F

        from var_elasticnet_bigdata_spark.operators.similarity import (
            cosine_topk,
            ivf_topk,
            seed_centroids,
        )

        e = load_table(spark, replica, "embeddings")
        ex = cosine_topk(e, k=1).select(
            "vec_id", F.col("cosine").alias("c_exact")
        )
        C = seed_centroids(e, nlist=16)
        iv = ivf_topk(e, k=1, nlist=16, nprobe=4, centroids=C).select(
            "vec_id", F.col("cosine").alias("c_ivf")
        )
        j = ex.join(iv, "vec_id")
        hits = j.agg(
            F.sum(
                (F.col("c_ivf") >= F.col("c_exact") - F.lit(1e-6)).cast("long")
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        recall = hits.h / hits.n
        spark.catalog.clearCache()

    print(json.dumps(
        {"k": k, "base": base, f"x{k}": big, "recall_at_1": recall,
         "walls": walls_at, "shuffle_bytes": bytes_at}
    ))
    for name in family:
        g = big[name] / max(base[name], 0.01)
        print(f"{name:28s} {base[name]:7.2f} -> {big[name]:7.2f}  ({g:.1f}x)")

    # Shuffle-bytes growth gate (VERDICT r7 item 6): bytes, unlike
    # local wall-clock, are what the network moves on a cluster — a
    # K× corpus may shuffle up to ~K× the bytes for linear operators
    # (and the replica's heavy-duplication design legitimately
    # super-linearizes a few pair-producing dedup outputs), but an
    # operator whose SHUFFLED bytes grow faster than BYTE_GROWTH_MAX×K
    # is hiding a scale-killer that wall-clock on a warm local box
    # won't show. Sub-64KB baselines are exempt (driver-side/rounding
    # noise, not corpus-driven shuffle).
    BYTE_GROWTH_MAX = 3.0
    MIN_BASE = 64 * 1024
    b0, b1 = bytes_at.get(SRC, {}), bytes_at.get(replica, {})
    flagged: list[str] = []
    print(f"{'shuffle write bytes':28s} {'1x':>12s} {'x' + str(k):>14s}")
    for name in family:
        if name not in b0 or name not in b1:
            continue
        w0, w1 = b0[name]["write"], b1[name]["write"]
        g = (w1 / w0) if w0 else float("inf") if w1 else 1.0
        mark = ""
        if w0 >= MIN_BASE and g > BYTE_GROWTH_MAX * k:
            mark = "  << SUPERLINEAR"
            flagged.append(name)
        print(f"{name:28s} {w0:12d} {w1:14d}  ({g:.1f}x){mark}")
    if recall is not None:
        print(f"IVF recall@1 vs exact at x{k}: {recall:.4f} (floor 0.95)")
        if recall < 0.95:
            raise SystemExit(
                f"IVF recall@1 {recall:.4f} below the 0.95 floor at x{k}"
            )
    if flagged:
        raise SystemExit(
            f"shuffle-bytes growth above {BYTE_GROWTH_MAX}x·K at x{k}: "
            + ", ".join(flagged)
        )


if __name__ == "__main__":
    main()
