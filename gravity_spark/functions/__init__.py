from gravity_spark.functions.text import (  # noqa: F401
    tokenize,
    token_count,
    quality_score,
    detect_language,
    fingerprint,
)
from gravity_spark.functions.dedup import (  # noqa: F401
    exact_dedup,
    minhash_signature,
    minhash_bands,
    banded_pairs,
    near_dup_components,
    simhash16,
    subblocked_self_join,
)
from gravity_spark.functions.similarity import (  # noqa: F401
    cosine_similarity,
    brute_force_topk,
    lsh_bucket_topk,
)
