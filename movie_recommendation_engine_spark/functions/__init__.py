from .hashing import uniform_hash, hash_bucket, md5_long
from .weighted import weighted_rating
from .arrays import cosine_similarity, dot_product, l2_norm, split_genres, title_year

__all__ = [
    "uniform_hash",
    "hash_bucket",
    "md5_long",
    "weighted_rating",
    "dot_product",
    "cosine_similarity",
    "l2_norm",
    "split_genres",
    "title_year",
]
