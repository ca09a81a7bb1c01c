"""Scaling study: replicate the sf0.1 fixtures N× (key-shifted so joins and
dedup behave like genuinely bigger data, not N copies of the same keys) and
measure headline-query wall time at 1× vs N×.

The point is the RATIO: a query whose cost grows ~linearly with input
(ratio ≈ N on a fixed-core machine) has no hidden quadratic term and no
driver-side bottleneck — the property that survives a 100 TB cluster.
Run: python tools/scale_study.py [N] [q42,q45,...] (default N=10, all
QUERIES; writes /tmp/spark_scale_N). Query args match by prefix, so "q42"
selects q42_minhash_near_dup. Only the tables the selected queries read
are replicated (QUERY_TABLES), so a documents-only 100x run does not pay
for a 60M-row lineitem build. The timed action is bench.py's prune-proof
force_execute (count + xor of xxhash64 over all columns), so Catalyst
cannot prune computed columns and under-time projection-shaped queries.

Replica semantics: key columns are shifted per replica so cardinalities
genuinely scale; events.ts is ALSO shifted by the fixture's time span per
replica, because real 100× event data covers ~100× the wall-clock range —
without the ts shift every replica would land in the same hours and any
time-co-occurrence operator (q295's co-purchase pairs) would measure an
artificial k→100k hour-group densification (a 10^4 pair blowup) instead of
scale. documents.text is likewise word-salted per replica (a bijective
vocab rename "_rK"): within-replica corpus statistics are preserved
exactly, but cross-replica shingle/n-gram overlap drops to zero — without
it every doc has N-1 exact near-duplicates and a near-dup join's OUTPUT
(not its work) explodes ~N^2 (measured: q42 emitted 27.3M pairs at 100×
unsalted vs 256 at 1×; real 100× corpora grow content, not copies).
The engine's STOPWORDS are exempt from the salt: they are function words
every replica shares, and the quality probe (q401/q440/q443) gates on the
stopword share, so salting them would gate every replica doc out.
embeddings get the vector analog: each replica applies one fixed SIGNED
PERMUTATION (roll by i mod dim + per-replica Rademacher sign flips) — an
orthogonal transform, so norms and all within-replica cosines are
preserved exactly while cross-replica cosine drops to ~0; without it every
vector has N-1 exact duplicates and the LSH near-dup join's in-bucket
pairs grow ~N^2 (measured: q82 at 100× unperturbed spilled >64 GB of
shuffle and died on disk).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gh_archive_data_pipeline_spark.operators.text_queries import STOPWORDS  # noqa: E402
from gh_archive_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from gh_archive_data_pipeline_spark.session import get_spark  # noqa: E402

from bench import force_execute  # noqa: E402

SRC = "/root/testdata/sf0.1"

# tables each study query actually reads — replicate only these. Queries
# not listed fall back to "all tables" (safe, just slower to build).
QUERY_TABLES = {
    "q01_pricing_summary": ["lineitem"],
    "q05_region_revenue": ["lineitem", "orders", "customer", "supplier",
                           "nation", "region"],
    "q40_dedup_exact": ["documents"],
    "q42_minhash_near_dup": ["documents"],
    "q374_corpus_curation": ["documents"],
    "q44_embedding_topk": ["embeddings"],
    "q45_embedding_lsh_topk": ["embeddings"],
    "q52_session_windows": ["events"],
    "q53_asof_last_purchase": ["events", "orders", "customer"],
    "q71_embedding_ivf_topk": ["embeddings"],
    "q82_embedding_near_dup_lsh": ["embeddings"],
    "q85_scd2_intervals": ["events"],
    "q89_tfidf_top_terms": ["documents"],
    "q125_repetition_ngrams": ["documents"],
    "q144_ngram_novelty": ["documents"],
    "q188_bpe_pair_counts": ["documents"],
    "q167_market_basket": ["lineitem", "part"],
    "q189_pagerank_event_graph": ["events"],
    "q295_triangle_count": ["events"],
    "q210_pit_features": ["events", "orders"],
    "q220_wordpiece_tokenize": ["documents"],
    "q224_duplicated_spans": ["documents"],
    "q376_incremental_near_dup": ["documents"],
    "q377_semantic_dedup": ["embeddings"],
    "q380_dsir_weights": ["documents"],
    "q381_shard_binpack": ["documents"],
    "q382_perplexity_filter": ["documents"],
    "q383_arrow_token_stats": ["documents"],
    "q389_media_header_audit": ["documents"],
    "q390_bpe_training": ["documents"],
    "q391_doremi_reweight": ["documents"],
    "q393_span_dedup_clean": ["documents"],
    "q394_bpe_encode": ["documents"],
    "q395_sequence_packing": ["documents"],
    "q146_pca_power_iteration": ["embeddings"],
    "q399_pq_codebook_audit": ["embeddings"],
    "q400_pq_adc_search": ["embeddings"],
    "q401_quality_probe": ["documents"],
    "q402_ivf_pq_search": ["embeddings"],
    "q403_pca_projection_report": ["embeddings"],
    "q404_unigram_lm_tokenizer": ["documents"],
    "q405_unigram_encode": ["documents"],
    "q408_png_pixel_decode": ["documents"],
    "q409_wav_pcm_decode": ["documents"],
    "q410_avi_frame_sample": ["documents"],
    "q412_rrf_hybrid_search": ["documents", "embeddings"],
    "q413_scalar_quant_audit": ["embeddings"],
    "q414_chunk_dedup_clean": ["documents"],
    "q415_bloom_decontamination": ["documents"],
    "q416_mmr_diversify": ["embeddings"],
    "q418_split_assignment": ["documents"],
    "q419_maxsim_late_interaction": ["documents"],
    "q420_cdc_chunk_report": ["documents"],
    "q421_kcenter_coreset": ["embeddings"],
    "q424_source_vocab_overlap": ["documents"],
    "q425_psi_drift_monitor": ["documents"],
    "q426_oov_audit": ["documents"],
    "q427_corpus_release_manifest": ["documents"],
    "q428_image_ahash_scan": ["documents"],
    "q429_chunk_near_dup": ["documents"],
    "q430_audio_fingerprint": ["documents"],
    "q431_video_shot_boundaries": ["documents"],
    "q432_matryoshka_recall": ["embeddings"],
    "q433_label_retrieval_eval": ["embeddings"],
    "q434_curated_corpus_export": ["documents"],
    "q435_jsd_vocab_divergence": ["documents"],
    "q436_bloom_sizing_sweep": ["documents"],
    "q437_ivf_nprobe_sweep": ["embeddings"],
    "q438_scalar_quant_recall": ["embeddings"],
    "q440_corpus_build_pipeline": ["documents"],
    "q441_chunk_disposition_reconcile": ["documents"],
    "q442_epoch_shuffle_plan": ["documents"],
    "q443_pipeline_epoch_plan": ["documents"],
}

# key columns to shift per replica so cardinalities scale with N
KEY_SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],   # dims stay fixed (broadcast side shouldn't grow)
    "region": [],
}

QUERIES = [
    "q01_pricing_summary",
    "q05_region_revenue",
    "q40_dedup_exact",
    "q42_minhash_near_dup",
    "q44_embedding_topk",
    "q52_session_windows",
    "q53_asof_last_purchase",
    "q85_scd2_intervals",
    "q89_tfidf_top_terms",
    "q125_repetition_ngrams",
    "q144_ngram_novelty",
    # late round-2 additions: tokenizer, span dedup, PIT features, PageRank
    "q188_bpe_pair_counts",
    "q189_pagerank_event_graph",
    "q210_pit_features",
    "q220_wordpiece_tokenize",
    "q224_duplicated_spans",
    # round 6: selection plane (measured 2.7x/1.4x/6.5x/20x at 100x)
    "q380_dsir_weights",
    "q381_shard_binpack",
    "q382_perplexity_filter",
    "q383_arrow_token_stats",
    # round 7: media headers, BPE training, DoReMi, span-dedup removal
    "q389_media_header_audit",
    "q390_bpe_training",
    "q391_doremi_reweight",
    "q393_span_dedup_clean",
    "q394_bpe_encode",
    "q395_sequence_packing",
    # round 8: one-pass Gram PCA (was per-iteration scans), PQ plane
    # (train+audit / ADC / IVF-PQ; q399 runs first alphabetically and pays
    # the shared cached-codebook training), projection report, quality
    # probe GD, unigram-LM EM training + encode
    "q146_pca_power_iteration",
    "q399_pq_codebook_audit",
    "q400_pq_adc_search",
    "q401_quality_probe",
    "q402_ivf_pq_search",
    "q403_pca_projection_report",
    "q404_unigram_lm_tokenizer",
    "q405_unigram_encode",
    # round 8 continuation: stdlib codec kernels (plant+decode per row)
    "q408_png_pixel_decode",
    "q409_wav_pcm_decode",
    "q410_avi_frame_sample",
    # round 9: the composed corpus-build pipeline + its reconciliation
    # stage + the epoch shuffle plan
    "q440_corpus_build_pipeline",
    "q441_chunk_disposition_reconcile",
    "q442_epoch_shuffle_plan",
]


def build_scaled(spark, n: int, out_dir: str, tables=None) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for table, keys in KEY_SHIFTS.items():
        if tables is not None and table not in tables:
            continue
        src = spark.read.parquet(f"{SRC}/{table}.parquet")
        if not keys or n == 1:
            reps = [src] * (1 if not keys else n)
        else:
            shift = {k: int(src.agg(F.max(k)).collect()[0][0]) + 1
                     for k in keys}
            ts_shift = None  # per-replica shift fn, dtype-aware
            if table == "events":
                lo, hi = src.agg(F.min("ts"), F.max("ts")).collect()[0]
                if dict(src.dtypes).get("ts") == "bigint":  # raw nanos
                    span = int(hi) - int(lo) + 3_600_000_000_000
                    ts_shift = lambda i: F.col("ts") + F.lit(i * span)
                else:
                    span_s = int((hi - lo).total_seconds()) + 3600
                    ts_shift = lambda i: F.col("ts") + F.expr(
                        f"INTERVAL {span_s} SECOND") * F.lit(i)
            emb_dim = (len(src.select("embedding").first()[0])
                       if table == "embeddings" else 0)
            reps = []
            for i in range(n):
                r = src
                for k in keys:
                    r = r.withColumn(k, F.col(k) + F.lit(i * shift[k]))
                if ts_shift is not None:
                    r = r.withColumn("ts", ts_shift(i))
                if table == "documents" and i > 0:
                    salted = F.array_join(
                        F.transform(F.split("text", " "),
                                    lambda w: F.when(w.isin(*STOPWORDS), w)
                                    .otherwise(F.concat(w, F.lit(f"_r{i}")))),
                        " ")
                    r = r.withColumn("text", salted)
                    if "n_chars" in r.columns:
                        r = r.withColumn("n_chars", F.length("text"))
                if table == "embeddings" and i > 0:
                    import random

                    dim = emb_dim
                    rng = random.Random(9000 + i)
                    signs = F.array(*[
                        F.lit(1.0 if rng.random() < 0.5 else -1.0)
                        for _ in range(dim)])
                    roll = i % dim
                    rolled = (F.concat(
                        F.slice("embedding", roll + 1, dim - roll),
                        F.slice("embedding", 1, roll))
                        if roll else F.col("embedding"))
                    r = r.withColumn(
                        "embedding",
                        F.zip_with(rolled, signs, lambda x, s: x * s))
                reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


def time_queries(spark, sf_dir: str) -> dict[str, float]:
    qs = all_queries()
    out = {}
    for name in QUERIES:
        t = time.monotonic()
        n, _ = force_execute(qs[name].fn(spark, sf_dir))
        out[name] = round(time.monotonic() - t, 3)
        print(f"#   {name}: {out[name]}s ({n} rows)", file=sys.stderr)
        if n == 0:
            # an empty result times nothing: a degenerate replica, not scale
            raise SystemExit(f"{name} returned 0 rows at {sf_dir}")
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    if len(sys.argv) > 2:
        prefixes = sys.argv[2].split(",")
        names = sorted(all_queries())
        global QUERIES
        QUERIES = [next(q for q in names if q.startswith(p))
                   for p in prefixes]
    spark = get_spark(app_name="scale-study")
    spark.range(100_000).selectExpr("id % 7 k").groupBy("k").count().count()
    base_dir = f"/tmp/spark_scale_1"
    big_dir = f"/tmp/spark_scale_{n}"
    needed = set()
    for q in QUERIES:
        needed.update(QUERY_TABLES.get(q, KEY_SHIFTS))
    print(f"# building 1x and {n}x fixtures for {sorted(needed)}...",
          file=sys.stderr)
    build_scaled(spark, 1, base_dir, needed)
    build_scaled(spark, n, big_dir, needed)
    if "q394_bpe_encode" in QUERIES:
        # q394 measures the ENCODE path; train its merge-table artifact
        # outside the timed sample for both scales (bench.py's prep
        # contract) — q390 separately measures training itself
        from gh_archive_data_pipeline_spark.operators.tokenize import (
            _cached_merges,
        )
        print("# training BPE merge tables (q394 prep)...", file=sys.stderr)
        _cached_merges(spark, base_dir)
        _cached_merges(spark, big_dir)
    if {"q440_corpus_build_pipeline", "q443_pipeline_epoch_plan"} & set(QUERIES):
        # q440 measures the composed PIPELINE; its probe weights are the
        # amortized artifact (bench.py's prep contract — q401 separately
        # measures training itself)
        from gh_archive_data_pipeline_spark.operators.classifier import (
            _cached_probe,
        )
        print("# training quality probes (q440 prep)...", file=sys.stderr)
        _cached_probe(spark, base_dir)
        _cached_probe(spark, big_dir)
    print("# timing 1x", file=sys.stderr)
    t1 = time_queries(spark, base_dir)
    print(f"# timing {n}x", file=sys.stderr)
    tn = time_queries(spark, big_dir)
    ratios = {q: round(tn[q] / t1[q], 2) if t1[q] > 0 else None
              for q in QUERIES}
    print(json.dumps({"n": n, "t1": t1, "tn": tn, "ratio": ratios}))
    spark.stop()


if __name__ == "__main__":
    main()
