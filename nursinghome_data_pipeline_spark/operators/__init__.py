from .dedup import (  # noqa: F401
    exact_dedup,
    exact_dedup_fingerprints,
    minhash_signature_col,
)
from .sessions import sessionize_bucketed  # noqa: F401
from .similarity import knn_brute_force, random_projection_buckets  # noqa: F401
