"""Independent in-memory near-dup pair operators — test oracles only.

The package's ``near_duplicate_pairs``, ``simhash_near_duplicate_pairs``
and ``embedding_near_duplicate_pairs`` are each their index family's
projection followed by ``dedup_index.pairs_from_rows``. These are the
former standalone bodies, kept here so the family path is compared
against a second formulation instead of against itself: their own
banding, their own all-ordered-pairs bucket pass, and (minhash) a
candidate join followed by a re-join to the shingle sets to verify.
They share only the fingerprint, key and score primitives with the
package (each pinned on its own by the property tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.functions.vectors import l2_norm_col
from nursinghome_data_pipeline_spark.operators.dedup import (
    band_key_col,
    jaccard_verify_col,
    minhash_signature_col,
    shingle_hash_col,
    simhash_bucket_keys,
    simhash_col,
)
from nursinghome_data_pipeline_spark.operators.similarity import (
    _cosine_with_norms,
    auto_lsh_planes,
    auto_lsh_tables,
    lsh_bucket_structs_col,
)


def _bucket_pairs(banded, bucket_cols, member_cols, make_pair, keep):
    """Every ordered pair of members within each bucket, pruned by
    ``keep`` and deduplicated across buckets."""
    ms = F.col("ms")
    bucketed = banded.groupBy(*bucket_cols).agg(
        F.collect_list(F.struct(*member_cols)).alias("ms")
    )
    nested = F.filter(
        F.flatten(
            F.transform(ms, lambda x: F.transform(ms, lambda y: make_pair(x, y)))
        ),
        keep,
    )
    return bucketed.select(F.explode(nested).alias("p")).select("p.*").distinct()


def minhash_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Unverified LSH candidates ``(id_a, id_b)``: docs sharing any
    band key, each unordered pair once with ``id_a < id_b``."""
    rows_per_band = n_hashes // bands
    sig = df.select(
        F.col(id_col),
        minhash_signature_col(text_col, n_hashes=n_hashes, shingle_k=shingle_k).alias(
            "sig"
        ),
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key_col(F.col("sig"), b, rows_per_band).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")
    return _bucket_pairs(
        banded,
        ["band", "band_hash"],
        [id_col],
        lambda x, y: F.struct(x[id_col].alias("id_a"), y[id_col].alias("id_b")),
        lambda p: p["id_a"] < p["id_b"],
    )


def minhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidates re-joined to per-doc shingle sets and verified by
    exact Jaccard >= threshold: ``(id_a, id_b, jaccard)``."""
    cands = minhash_candidate_pairs(
        df, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        bands=bands, shingle_k=shingle_k,
    )
    sets = df.select(
        F.col(id_col).alias("_sid"),
        F.array_distinct(shingle_hash_col(text_col, shingle_k)).alias("_sh"),
    )
    sa = sets.select(F.col("_sid").alias("id_a"), F.col("_sh").alias("_sh_a"))
    sb = sets.select(F.col("_sid").alias("id_b"), F.col("_sh").alias("_sh_b"))
    jaccard = jaccard_verify_col(F.col("_sh_a"), F.col("_sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    hash_family: str = "xxhash64",
    n_chunks: int = 4,
    chunks_per_key: int = 1,
) -> DataFrame:
    """Chunk-bucketed SimHash pairs within ``max_hamming`` bits:
    ``(id_a, id_b, hamming)``."""
    sig = df.select(
        F.col(id_col), simhash_col(text_col, hash_family=hash_family).alias("sh")
    )
    keys = simhash_bucket_keys(
        F.col("sh"), n_chunks=n_chunks, chunks_per_key=chunks_per_key
    )
    banded = sig.select(id_col, "sh", F.explode(F.array(*keys)).alias("bucket"))
    return _bucket_pairs(
        banded,
        ["bucket"],
        [id_col, "sh"],
        lambda x, y: F.struct(
            x[id_col].alias("id_a"),
            y[id_col].alias("id_b"),
            F.bit_count(x["sh"].bitwiseXOR(y["sh"])).alias("hamming"),
        ),
        lambda p: (p["id_a"] < p["id_b"]) & (p["hamming"] <= max_hamming),
    )


def embedding_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.95,
    n_planes: int | str = 8,
    n_tables: int | str = 1,
    recall_target: float = 0.9,
    target_bucket_pop: int = 64,
    n_rows: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Sign-projection LSH pairs over ``n_tables`` plane sets, verified
    by exact cosine >= threshold: ``(id_a, id_b, cosine_sim)``."""
    if n_planes == "auto" or n_tables == "auto":
        if n_rows is None:
            n_rows = df.count()
    if n_planes == "auto":
        n_planes = auto_lsh_planes(n_rows, target_bucket_pop=target_bucket_pop)
    n_planes = int(n_planes)
    if n_tables == "auto":
        n_tables = auto_lsh_tables(n_planes, threshold, recall_target=recall_target)
    structs = lsh_bucket_structs_col(
        vec_col, dim=dim, n_planes=n_planes, n_tables=int(n_tables), seed=seed
    )
    bucketed = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm_col(vec_col).alias("__nrm"),
            F.explode(structs).alias("__tb"),
        )
        .withColumn("__tbl", F.col("__tb.tbl"))
        .withColumn("__bucket", F.col("__tb.bucket"))
        .drop("__tb")
    )
    pairs = _bucket_pairs(
        bucketed,
        ["__tbl", "__bucket"],
        [id_col, vec_col, "__nrm"],
        lambda x, y: F.struct(
            x[id_col].alias("id_a"),
            y[id_col].alias("id_b"),
            _cosine_with_norms(x[vec_col], y[vec_col], x["__nrm"], y["__nrm"]).alias(
                "cosine_sim"
            ),
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    return pairs.where(F.col("cosine_sim") >= threshold)
