from .bpe import bpe_learn_merges, bpe_segment, word_frequencies
from .dedup import (
    embedding_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neutral,
)
from .similarity import cosine_topk, lsh_bucketed_topk
from .text import (
    chunk_documents,
    fingerprint_documents,
    language_id,
    normalize_text,
    quality_features,
    token_counts,
)

__all__ = [
    "bpe_learn_merges", "bpe_segment", "word_frequencies",
    "embedding_dup_pairs", "exact_dedup", "minhash_lsh_pairs",
    "ngram_jaccard_pairs", "simhash_neutral",
    "cosine_topk", "lsh_bucketed_topk",
    "chunk_documents", "fingerprint_documents", "language_id",
    "normalize_text", "quality_features", "token_counts",
]
