from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from kaggle_ecommerce_etl_spark.functions.multimodal import (
    dedup_by_content,
    extract_features,
    media_metadata,
    wrap_as_media,
)
from kaggle_ecommerce_etl_spark.functions.similarity import (
    cosine_topk,
    lsh_bucket_topk,
)
from kaggle_ecommerce_etl_spark.functions.text import (
    fingerprint_expr,
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
    tokens_expr,
)

__all__ = [
    "cosine_topk",
    "dedup_by_content",
    "extract_features",
    "fingerprint_expr",
    "lang_id_expr",
    "lsh_bucket_topk",
    "lsh_candidate_pairs",
    "media_metadata",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "quality_score_expr",
    "token_count_expr",
    "tokens_expr",
    "wrap_as_media",
]
