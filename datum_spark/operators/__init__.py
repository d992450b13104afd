"""Composite operators built on DataFrame primitives: top-k, as-of joins,
deduplication families, similarity search, text analysis."""

from .topk import top_k, top_k_per_group
from .components import connected_components, dup_clusters
from .keywords import bm25_scores, bm25_topk, tf_idf_terms
from .clustering import (cluster_coreset, kmeans_assign, kmeans_fit,
                         kmeans_inertia, semantic_dedup_pairs)
from .asof import asof_join
from .bpe import bpe_merge_table, learn_bpe_merges, word_frequencies
from .cdc import apply_changes, last_wins
from .intervals import interval_overlap_join
from .classifier import quality_classifier_fit, quality_classifier_score
from .skew import salted_join, skew_report
from .sampling import (deterministic_group_sample, md5_bucket,
                       mix_sources_md5, stratified_sample,
                       upsample_sources, with_md5_split_label)
from .packing import (pack_documents, pack_summary,
                      write_training_shards)
from .chunking import chunk_documents
from .profile import profile_columns
from .dedup import (
    benchmark_contamination,
    duplicated_span_stats,
    novelty_scores,
    exact_dedup,
    exact_dup_groups,
    minhash_near_dups,
    minhash_near_dups_fast,
    minhash_near_dups_md5,
    near_dup_clusters,
    simhash_near_dups,
    ngram_jaccard_pairs,
    fuzzy_near_dups,
    embedding_cosine_dups,
)
from .similarity import (cosine_top_k, embedding_covariance,
                         ivf_cosine_top_k, ivf_index_add,
                         ivf_index_build, ivf_index_query,
                         lsh_cosine_top_k)
from .curriculum import (epoch_shuffle, grouped_global_position,
                         interleave_sources, quality_percentile_filter,
                         token_budget_sample)
from .events import debounce, funnel, retention_cohorts, user_features
from .graph import label_propagation, pagerank
from .metrics import observe
from .timeseries import cusum_monitor, cusum_reference, cusum_summary, ewma, ewma_summary
from .twosample import grouped_ks_screen, ks_2sample, mann_whitney_u
from .expectations import check_expectations, enforce_expectations
from .text import (
    char_entropy,
    doc_frequency,
    robust_outliers,
    with_char_entropy,
    top_ngrams,
    with_token_count,
    with_quality_score,
    with_language_guess,
    with_fingerprint,
)

__all__ = [
    "chunk_documents", "profile_columns", "robust_outliers",
    "debounce", "duplicated_span_stats", "write_training_shards",
    "char_entropy", "with_char_entropy", "novelty_scores",
    "top_k", "top_k_per_group", "asof_join", "salted_join", "skew_report",
    "quality_classifier_fit", "quality_classifier_score",
    "connected_components", "dup_clusters",
    "tf_idf_terms", "bm25_scores", "bm25_topk", "benchmark_contamination",
    "kmeans_assign", "kmeans_fit", "kmeans_inertia", "semantic_dedup_pairs",
    "cluster_coreset",
    "stratified_sample", "md5_bucket", "with_md5_split_label",
    "deterministic_group_sample",
    "mix_sources_md5", "upsample_sources",
    "doc_frequency", "top_ngrams", "minhash_near_dups_md5",
    "pack_documents", "pack_summary",
    "exact_dedup", "exact_dup_groups", "minhash_near_dups",
    "minhash_near_dups_fast", "near_dup_clusters",
    "simhash_near_dups", "ngram_jaccard_pairs", "fuzzy_near_dups",
    "embedding_cosine_dups",
    "cosine_top_k", "embedding_covariance", "ivf_cosine_top_k",
    "ewma", "ewma_summary", "cusum_summary", "cusum_reference",
    "cusum_monitor", "ks_2sample", "mann_whitney_u", "grouped_ks_screen",
    "ivf_index_build", "ivf_index_add", "ivf_index_query",
    "lsh_cosine_top_k",
    "with_token_count", "with_quality_score", "with_language_guess",
    "with_fingerprint",
    "epoch_shuffle", "interleave_sources", "token_budget_sample",
    "quality_percentile_filter", "grouped_global_position",
    "user_features", "funnel", "retention_cohorts", "pagerank",
    "check_expectations", "enforce_expectations",
]
