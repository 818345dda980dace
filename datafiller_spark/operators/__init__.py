from .rollup import rollup, cascade, TIERS
from .bucket import time_bucket, regular_grid
from .gapfill import forward_fill, backward_fill, linear_fill, fill_small_gaps, spline_fill
from .impute import model_gapfill, cascade_gapfill_encode_all, gapfill_metrics
from .encode import encode_tier, decode_tier
from .text import tokenize_counts, quality_score, lang_id, fingerprint, token_count
from .dedup import (
    dup_clusters,
    exact_duplicates,
    ngram_jaccard_pairs,
    minhash_signatures,
    minhash_lsh_pairs,
    simhash_duplicates,
    simhash_near_dupes,
)
from .wide import wide_gapfill
from .sample import pack_sequences, sample_by_hash
from .similarity import (
    cosine_topk,
    embedding_near_dupes,
    embedding_near_dupes_lsh,
    ivf_topk,
    lsh_topk,
    train_ivf_centroids,
)
from .asof import asof_join
from .multimodal import extract_features, sample_frames

__all__ = [
    "wide_gapfill",
    "rollup",
    "cascade",
    "TIERS",
    "time_bucket",
    "regular_grid",
    "forward_fill",
    "backward_fill",
    "linear_fill",
    "fill_small_gaps",
    "spline_fill",
    "model_gapfill",
    "cascade_gapfill_encode_all",
    "gapfill_metrics",
    "encode_tier",
    "decode_tier",
    "tokenize_counts",
    "quality_score",
    "lang_id",
    "fingerprint",
    "token_count",
    "dup_clusters",
    "exact_duplicates",
    "ngram_jaccard_pairs",
    "sample_by_hash",
    "pack_sequences",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_duplicates",
    "simhash_near_dupes",
    "cosine_topk",
    "lsh_topk",
    "ivf_topk",
    "train_ivf_centroids",
    "embedding_near_dupes",
    "embedding_near_dupes_lsh",
    "asof_join",
    "extract_features",
    "sample_frames",
]
