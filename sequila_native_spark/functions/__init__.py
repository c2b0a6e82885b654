"""LLM-data-pipeline operators (north-star extensions, BASELINE.json).

Not ports of the reference — new surface designed Spark-first around the
same partition-then-index discipline as the interval join: everything
declarative stays in Catalyst expressions (SQL-oracle-able, codegen'd);
Python appears only in Arrow-batched pandas UDFs (SimHash, LSH-ANN,
multimodal decode) where expressions genuinely can't express the op.
"""

_EXPORTS = {
    "text": (
        "filter_documents", "fingerprint", "normalize_text", "lang_id",
        "quality_features", "repetition_features", "token_count", "tokens",
        "winnow_containment_pairs", "winnow_fingerprints",
    ),
    "dedup": (
        "append_corpus_band_index", "keep_best_per_cluster",
        "corpus_band_index", "dedup_against_corpus", "hamming_band_pairs",
        "dedup_clusters", "dedup_keep_canonical", "filter_new_against_corpus",
        "stream_dedup_against_corpus", "exact_dedup_clusters", "minhash_pairs",
        "minhash_signature", "minhash_signature_draws",
        "minhash_signature_draws_sql", "ngram_jaccard_pairs", "simhash64",
        "simhash_pairs",
    ),
    "similarity": (
        "ann_topk_against_index", "append_ivf_index",
        "append_vector_bucket_index", "build_ivf_index",
        "centroids_from_table", "centroids_to_table", "ivf_cell_stats",
        "ivf_topk_against_index", "cluster_balanced_sample", "cosine",
        "cosine_topk", "embedding_dups_against_corpus", "ivf_ann_topk",
        "lsh_ann_topk", "near_dup_pairs", "semantic_dedup",
        "stream_embedding_gate", "vector_bucket_index",
    ),
    "lm": (
        "bigram_lm_from_table", "bigram_lm_to_table", "perplexity_buckets",
        "perplexity_filter", "perplexity_score", "train_bigram_lm",
        "train_trigram_lm", "trigram_lm_from_table", "trigram_lm_to_table",
        "trigram_perplexity_score",
    ),
    "dupspans": (
        "duplicated_span_starts", "duplicated_span_stats",
        "duplicated_span_stats_sql", "positioned_shingles",
        "remove_duplicate_spans",
    ),
    "dsir": (
        "dsir_resample", "dsir_score", "dsir_weights", "hashed_ngram_counts",
    ),
    "ranking": (
        "bm25_topk", "term_stats", "term_stats_sql",
    ),
    "report": (
        "corpus_report", "corpus_report_sql",
    ),
    "sampling": (
        "deterministic_sample", "mix_datasets", "sample_hash",
        "sample_hash_sql", "split_dataset", "temperature_weights",
        "split_thresholds", "stratified_sample",
    ),
    "curation": (
        "select_top_fraction", "select_top_fraction_sql",
        "select_within_budget", "select_within_budget_sql",
    ),
    "pii": (
        "pii_count", "pii_count_sql", "pii_counts", "pii_stats",
        "pii_stats_sql", "redact_pii", "redact_pii_sql",
    ),
    "decontam": (
        "benchmark_ngrams", "contamination_report", "contamination_report_sql",
        "decontaminate", "match_contaminated",
    ),
    "classify": (
        "classify_documents", "gram_array", "hash_bucket", "score_columns",
        "score_documents", "score_documents_sql", "score_exprs_sql",
        "synthetic_quality_weights", "synthetic_quality_weights_sql",
    ),
    "bpe": (
        "bpe_token_count", "bpe_tokenize", "train_bpe",
    ),
    "chunking": (
        "chunk_documents", "chunk_documents_sql", "chunk_starts",
        "pack_documents", "pack_documents_sql", "write_training_shards",
    ),
    "multimodal": (
        "attach_binary", "decode_media_meta", "encode_fake_image",
        "extract_features", "fake_image_decoder", "perceptual_dup_pairs",
        "perceptual_hash", "register_decoder", "register_featurizer",
        "register_perceptual_hasher", "register_transformer", "resize_media",
        "unregister_decoder", "sample_chunks",
    ),
}

# Each public name loads its submodule on first access (PEP 562), so
# importing the package, or one of its names, loads only what is used.
_SOURCE = {name: mod for mod, names in _EXPORTS.items() for name in names}


def __getattr__(name: str):
    import importlib

    if name in _EXPORTS:
        return importlib.import_module(f"{__name__}.{name}")
    mod = _SOURCE.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{mod}"), name)
    globals()[name] = value
    return value


def __dir__() -> list[str]:
    # the names an eager import showed: the lazy-load helpers are not API
    return sorted({*globals(), *_EXPORTS, *_SOURCE}
                  - {"_EXPORTS", "_SOURCE", "__getattr__", "__dir__"})

__all__ = [
    "bm25_topk",
    "term_stats",
    "term_stats_sql",
    "deterministic_sample",
    "mix_datasets",
    "sample_hash",
    "sample_hash_sql",
    "split_dataset", "temperature_weights",
    "split_thresholds",
    "stratified_sample",
    "select_within_budget", "select_within_budget_sql",
    "select_top_fraction", "select_top_fraction_sql",
    "tokens", "token_count", "quality_features", "repetition_features", "lang_id", "fingerprint", "filter_documents", "normalize_text",
    "exact_dedup_clusters", "dedup_keep_canonical", "minhash_signature",
    "minhash_signature_draws", "minhash_signature_draws_sql",
    "minhash_pairs", "ngram_jaccard_pairs", "simhash64", "simhash_pairs",
    "dedup_against_corpus", "filter_new_against_corpus",
    "corpus_band_index", "append_corpus_band_index",
    "keep_best_per_cluster",
    "stream_dedup_against_corpus",
    "winnow_fingerprints", "winnow_containment_pairs",
    "cosine", "cosine_topk", "near_dup_pairs", "lsh_ann_topk", "ivf_ann_topk",
    "embedding_dups_against_corpus", "semantic_dedup",
    "cluster_balanced_sample",
    "dsir_weights", "dsir_score", "dsir_resample", "hashed_ngram_counts",
    "stream_embedding_gate", "vector_bucket_index",
    "append_vector_bucket_index", "ann_topk_against_index",
    "build_ivf_index", "append_ivf_index", "ivf_topk_against_index",
    "ivf_cell_stats",
    "centroids_to_table", "centroids_from_table",
    "duplicated_span_starts",
    "duplicated_span_stats", "duplicated_span_stats_sql", "positioned_shingles",
    "remove_duplicate_spans",
    "train_bigram_lm", "perplexity_score", "perplexity_filter",
    "perplexity_buckets",
    "train_trigram_lm", "trigram_perplexity_score",
    "trigram_lm_to_table", "trigram_lm_from_table",
    "bigram_lm_to_table", "bigram_lm_from_table",
    "attach_binary", "decode_media_meta", "sample_chunks",
    "resize_media", "extract_features",
    "register_decoder", "unregister_decoder", "register_transformer",
    "register_featurizer", "encode_fake_image", "fake_image_decoder",
    "perceptual_hash", "perceptual_dup_pairs", "register_perceptual_hasher",
    "hamming_band_pairs",
    "pii_count", "pii_count_sql", "pii_counts", "pii_stats", "pii_stats_sql",
    "redact_pii", "redact_pii_sql",
    "benchmark_ngrams", "contamination_report", "contamination_report_sql",
    "decontaminate", "match_contaminated",
    "chunk_documents", "chunk_documents_sql", "chunk_starts",
    "pack_documents", "pack_documents_sql", "write_training_shards",
    "train_bpe", "bpe_tokenize", "bpe_token_count",
    "corpus_report", "corpus_report_sql",
    "classify_documents", "gram_array", "hash_bucket", "score_columns",
    "score_documents", "score_documents_sql", "score_exprs_sql",
    "synthetic_quality_weights", "synthetic_quality_weights_sql",
]
