"""Scalar / vectorized column functions.

Everything here is either a pure Spark column expression (JVM-side, inside
whole-stage codegen) or an Arrow-batched pandas UDF — zero per-row Python,
per the engine contract.
"""

from .keys import date_id, md5_key, surrogate_key
from .parsing import (
    clean_html,
    normalize_phone,
    normalize_url,
    parse_availability,
    parse_price,
    source_slug,
    truncate_text,
)
from .text import (
    avg_word_len,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    word_shingles,
    words,
)
from .sketches import (
    cosine_similarity,
    lsh_band_keys,
    minhash_signature,
    simhash64,
)

__all__ = [
    "date_id", "md5_key", "surrogate_key",
    "clean_html", "normalize_phone", "normalize_url", "parse_availability",
    "parse_price", "source_slug", "truncate_text",
    "avg_word_len", "doc_fingerprint", "lang_id", "punct_ratio",
    "quality_score", "stopword_ratio", "token_count", "word_shingles", "words",
    "cosine_similarity", "lsh_band_keys", "minhash_signature", "simhash64",
]
