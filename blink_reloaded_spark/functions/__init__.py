"""Scalar / vectorized functions: text normalization, shingling, hashing,
string similarity, hashed embeddings. JVM-side Column expressions wherever
Spark built-ins suffice (reference inventory SURVEY.md §2.8); Arrow-batched
Python only for Jaro-Winkler, the hashed encoder and the numpy MinHash
kernels (hashing.minhash_sigs_np_udf, hashing.minhash_band_keys_np)."""

from blink_reloaded_spark.functions.text import (  # noqa: F401
    normalize_text,
    tokens,
    char_shingles,
    token_shingles,
    word_count,
    bpe_ish_token_count,
    rolling_fingerprint,
    quality_score_cols,
    lang_id_col,
)
from blink_reloaded_spark.functions.similarity import (  # noqa: F401
    jaro_winkler_udf,
    levenshtein_sim,
    jaccard_from_counts,
)
from blink_reloaded_spark.functions.hashing import (  # noqa: F401
    simhash64,
)
from blink_reloaded_spark.functions.embedding import (  # noqa: F401
    hashed_embedding_udf,
    dot_product,
    cosine_similarity,
    hyperplane_bucket,
)
