from data_validator_spark.functions.text import (
    STOPWORDS_EN,
    doc_fingerprint,
    hash60,
    lang_id,
    quality_features,
    token_count,
    tokens,
)

__all__ = [
    "STOPWORDS_EN",
    "doc_fingerprint",
    "hash60",
    "lang_id",
    "quality_features",
    "token_count",
    "tokens",
]
