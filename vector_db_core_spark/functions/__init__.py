from vector_db_core_spark.functions.exact import dec, dsum, davg
from vector_db_core_spark.functions.multimodal import (
    extract_features,
    media_table_from_documents,
    stub_features,
)
from vector_db_core_spark.functions.text import (
    canonical_text,
    distinct_tokens,
    lsh_band_keys,
    minhash_signatures_df,
    shingles_of_tokens,
    token_shingles,
    tokens,
)
from vector_db_core_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    hyperplane_buckets_pandas,
    l2_norm,
)

__all__ = [
    "dec",
    "dsum",
    "davg",
    "cosine_similarity",
    "dot_product",
    "hyperplane_buckets_pandas",
    "l2_norm",
    "tokens",
    "distinct_tokens",
    "token_shingles",
    "shingles_of_tokens",
    "canonical_text",
    "minhash_signatures_df",
    "lsh_band_keys",
    "extract_features",
    "media_table_from_documents",
    "stub_features",
]
