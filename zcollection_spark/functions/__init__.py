"""Large-scale training-data-pipeline operators.

Beyond the reference's own surface (BASELINE.json north star): exact and
near deduplication, similarity search over embeddings, text analysis, and
multimodal-column plumbing — all designed partition-parallel for 100 TB
(JVM-side expressions wherever possible; Arrow-batched pandas only where
Spark lacks a primitive).

Rounding contract: every rounded output column is Spark's ``round(x,
n)``, which rounds the double's shortest decimal form half UP
(0.5703125 -> 0.570313 at 6 dp), not half to even as Python's ``round``.
"""

from .multimodal import (attach_fake_payload, decode_ppm, decode_wav,
                         encode_ppm, encode_wav, extract_audio_features,
                         extract_image_features, sample_frames)
from .dedup import (cached_intermediates, dedup_exact, dedup_keep_latest,
                    drop_duplicated_spans, duplicated_span_stats,
                    exact_duplicate_groups, md5_long,
                    minhash_signatures, lsh_candidate_pairs,
                    ngram_containment_pairs,
                    ngram_jaccard_pairs, released, simhash,
                    simhash_duplicate_pairs, suggest_minhash_config,
                    unpersist_intermediates)
from .ann_index import (query_ivf_index, query_ivfpq_index,
                        write_ivf_index, write_ivfpq_index)
from .similarity import (cosine_similarity_col, brute_force_topk,
                         embedding_dup_pairs, ivf_topk, ivfpq_topk,
                         lsh_bucket_topk, suggest_ivf_config,
                         suggest_lsh_config, suggest_lsh_planes)
from .text import (bigram_lm_score, cdc_chunks, chunk_documents,
                   cross_lm_score, feature_hash_embeddings, fingerprint,
                   language_id, lm_quality_buckets, pack_sequences,
                   text_stats, token_count, unigram_stats,
                   winnow_fingerprints, word_shingles, words)
from .retrieval import bm25_scores, bm25_topk, rrf_fuse, tfidf_topk
from .importance import importance_resample, importance_weights
from .curation import (contamination, corpus_profile,
                       ngram_coverage, pipeline_funnel,
                       quality_filter,
                       novelty_scores, repetition_stats, scrub_pii, source_overlap,
                       split_leakage, strip_boilerplate)
from .sampling import (cap_per_group, cluster_balanced_sample,
                       domain_mix_weights, hash_split,
                       sample_to_token_budget, shuffle_to_shards,
                       stratified_sample, stratified_sample_exact,
                       upsample_by_weight)
from .similarity import (quantize_embeddings, semantic_dedup,
                         semantic_dedup_pairs)

__all__ = [
    "dedup_exact", "exact_duplicate_groups", "md5_long",
    "minhash_signatures", "lsh_candidate_pairs", "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "simhash", "simhash_duplicate_pairs", "dedup_keep_latest",
    "duplicated_span_stats", "drop_duplicated_spans",
    "unpersist_intermediates", "released", "cached_intermediates",
    "suggest_minhash_config",
    "cosine_similarity_col", "brute_force_topk", "embedding_dup_pairs",
    "ivf_topk", "ivfpq_topk", "lsh_bucket_topk",
    "suggest_lsh_planes", "suggest_lsh_config", "suggest_ivf_config",
    "contamination", "quality_filter", "repetition_stats",
    "scrub_pii",
    "write_ivf_index", "query_ivf_index",
    "write_ivfpq_index", "query_ivfpq_index",
    "fingerprint", "language_id", "text_stats", "token_count",
    "unigram_stats", "word_shingles", "words", "chunk_documents",
    "lm_quality_buckets", "cdc_chunks", "cross_lm_score",
    "domain_mix_weights", "feature_hash_embeddings",
    "pack_sequences", "bigram_lm_score", "bm25_scores", "bm25_topk",
    "rrf_fuse", "winnow_fingerprints", "tfidf_topk",
    "importance_weights", "importance_resample", "split_leakage",
    "source_overlap", "strip_boilerplate", "cluster_balanced_sample",
    "novelty_scores", "pipeline_funnel", "ngram_coverage",
    "corpus_profile",
    "cap_per_group", "hash_split", "stratified_sample",
    "stratified_sample_exact", "sample_to_token_budget",
    "upsample_by_weight", "shuffle_to_shards", "quantize_embeddings",
    "semantic_dedup", "semantic_dedup_pairs",
    "attach_fake_payload", "extract_image_features",
    "extract_audio_features", "sample_frames",
    "encode_ppm", "decode_ppm", "encode_wav", "decode_wav",
]
