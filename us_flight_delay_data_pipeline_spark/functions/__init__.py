"""Scalar/expression library. Pure Column-in/Column-out functions —
no UDFs in this package except where explicitly marked vectorized."""

from .core import (
    safe_div,
    decode_and_repair_body,
    normalize_columns_lower,
    safe_div_sql,
    year_month_sql,
    rowwise_total_sql,
    decode_and_repair_body_sql,
)
from .text import (
    token_count,
    word_tokens,
    punct_ratio,
    stopword_ratio,
    quality_score,
    lang_id_heuristic,
    doc_fingerprint,
    char_ngrams,
    word_ngrams,
)
from .vectors import (
    vec_dot,
    vec_norm,
    cosine_similarity,
)

__all__ = [
    "safe_div", "decode_and_repair_body", "normalize_columns_lower",
    "safe_div_sql", "year_month_sql", "rowwise_total_sql",
    "decode_and_repair_body_sql",
    "token_count", "word_tokens", "punct_ratio", "stopword_ratio",
    "quality_score", "lang_id_heuristic", "doc_fingerprint",
    "char_ngrams", "word_ngrams",
    "vec_dot", "vec_norm", "cosine_similarity",
]
