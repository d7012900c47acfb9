"""Training-data pipeline operators beyond the reference's rule engine:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding
similarity search (brute-force + LSH-bucketed ANN), text statistics, and
multimodal binary-column plumbing."""

from dataqualityassistant_spark.ops.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    compact_signature_store,
    dedup_clusters,
    drop_near_duplicates,
    exact_dedup,
    incremental_dedup,
    minhash_signatures,
    minhash_candidate_pairs,
    simhash,
    simhash_candidate_pairs,
    ngram_jaccard_pairs,
)
from dataqualityassistant_spark.ops.joins import asof_join
from dataqualityassistant_spark.ops.decontaminate import (
    contamination_hits,
    decontaminate,
    ngram_shingles,
)
from dataqualityassistant_spark.ops.ivf import (
    ivf_assign,
    ivf_topk,
    ivf_topk_indexed,
    kmeans_fit,
    train_ivf_centroids,
    write_ivf_index,
)
from dataqualityassistant_spark.ops.packing import ffd_pack, pack_sequences
from dataqualityassistant_spark.ops.sampling import (
    hash_sample,
    hash_topn_sample,
    stratified_hash_sample,
    train_holdout_split,
)
from dataqualityassistant_spark.ops.similarity import cosine_topk, lsh_bucket_ids, ann_topk_lsh
from dataqualityassistant_spark.ops.skew import (
    diagnose_skew,
    hll_distinct_count,
    two_phase_distinct_count,
)
from dataqualityassistant_spark.ops.urltools import canonicalize_url, registered_domain, url_dedup
from dataqualityassistant_spark.ops.textstats import (
    remove_repeated_lines,
    with_token_count,
    fingerprint_udf,
    TOKEN_PATTERN,
)

__all__ = [
    "DEFAULT_MAX_BUCKET_SIZE",
    "compact_signature_store",
    "dedup_clusters",
    "incremental_dedup",
    "drop_near_duplicates",
    "exact_dedup",
    "minhash_signatures",
    "minhash_candidate_pairs",
    "simhash",
    "simhash_candidate_pairs",
    "ngram_jaccard_pairs",
    "asof_join",
    "contamination_hits",
    "decontaminate",
    "ngram_shingles",
    "ivf_assign",
    "ivf_topk",
    "ivf_topk_indexed",
    "kmeans_fit",
    "train_ivf_centroids",
    "write_ivf_index",
    "ffd_pack",
    "pack_sequences",
    "hash_sample",
    "hash_topn_sample",
    "stratified_hash_sample",
    "train_holdout_split",
    "diagnose_skew",
    "hll_distinct_count",
    "two_phase_distinct_count",
    "canonicalize_url",
    "registered_domain",
    "url_dedup",
    "cosine_topk",
    "lsh_bucket_ids",
    "ann_topk_lsh",
    "remove_repeated_lines",
    "with_token_count",
    "fingerprint_udf",
    "TOKEN_PATTERN",
]
