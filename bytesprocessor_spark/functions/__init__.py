from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH
from bytesprocessor_spark.functions.vectors import cosine_similarity, dot_product, l2_norm
from bytesprocessor_spark.functions.text import (
    char_ngrams,
    doc_fingerprint,
    quality_score,
    token_count,
    tokenize,
    word_shingles,
)

__all__ = [
    "FEATURE_WIDTH",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "char_ngrams",
    "doc_fingerprint",
    "quality_score",
    "token_count",
    "tokenize",
    "word_shingles",
]
