"""Training-corpus preparation operators (north-star extension).

The reference pipeline stops at analytics; a corpus feeding LLM
training additionally needs (beyond dedup in :mod:`.dedup`):

- **benchmark decontamination**: remove corpus documents that share an
  n-gram with an evaluation/benchmark set, so test data never leaks
  into training (the standard 13-gram protocol, k configurable);
- **sequence packing**: assign documents to fixed token-budget bins
  (context windows) so training batches waste minimal padding.

Both are pure DataFrame compositions — window functions, hash joins,
higher-order functions; no UDFs, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import english_stopword_filter, quality_score_col
from .dedup import connected_components, jaccard_pair_join, shingle_hash_col


def filter_and_dedup_docs(
    docs: DataFrame,
    *,
    min_quality: float,
    jaccard_threshold: float,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus build's selection chain: language heuristic AND
    quality floor → md5 exact dedup (min id per fingerprint) → exact
    Jaccard near-dup pairs → connected components → keep each
    component's canonical (minimum-id) document.

    Returns ``(filtered, exact, kept)`` so a caller can count each
    stage. ``exact`` feeds four consumers (both posting sides of the
    pair join, the component node set, the canonical keep), so it is
    localCheckpoint'ed once instead of re-running the
    filter+fingerprint+semi-join subtree per consumer.
    """
    filtered = docs.where(
        english_stopword_filter("text")
        & (quality_score_col("text") >= min_quality)
    )
    canon = filtered.groupBy(F.md5(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    exact = filtered.join(
        canon.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=False)
    pairs = jaccard_pair_join(exact, threshold=jaccard_threshold)
    comps = connected_components(exact, pairs)
    kept = exact.join(
        comps.where(F.col("doc_id") == F.col("component_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    return filtered, exact, kept


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """Drop corpus docs sharing ANY ``shingle_k``-gram with a benchmark.

    The standard train/test decontamination step (GPT-3 appendix C /
    PaLM-style 13-gram overlap — ``shingle_k`` is the knob; small
    corpora test with 5).

    Plan shape at 100 TB: both sides shingle map-only via
    :func:`..dedup.shingle_hash_col` (64-bit hashes, no shingle
    strings materialized); the benchmark's distinct shingle set is
    tiny (eval sets are MBs, not TBs) so Spark broadcasts it and the
    contamination test is a broadcast LEFT SEMI join of exploded
    corpus postings — no shuffle of the corpus at all. The final
    LEFT ANTI join removes flagged ids. Corpus text never moves; only
    (id, hash) postings do.
    """
    c_post = corpus.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingle_hash_col(text_col, shingle_k))
        ).alias("sh"),
    )
    b_sh = benchmark.select(
        F.explode(
            F.array_distinct(shingle_hash_col(text_col, shingle_k))
        ).alias("sh")
    ).distinct()
    contaminated = (
        c_post.join(F.broadcast(b_sh), "sh", "left_semi").select(id_col).distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def pack_sequences(
    docs: DataFrame,
    *,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n_shards: int = 1,
) -> DataFrame:
    """Greedy sequential packing: documents fill fixed token-budget
    bins in ``id_col`` order, one bin stream per (group, shard).

    A document lands in the bin where its tokens START
    (``floor(exclusive_cumsum / budget)``), so bins are contiguous
    runs of documents and the assignment is a single window cumsum —
    exactly reproducible, and the concat-and-chunk layout LLM loaders
    expect. A document longer than the budget still gets a bin (its
    own); callers chunk oversized docs first
    (registry.chunk_documents_overlap).

    Scale: the window partitions on (group, shard). With the default
    ``n_shards=1`` parallelism is bounded by the number of groups —
    fine for interactive use, a bottleneck at 100 TB; production packs
    with ``n_shards`` ≈ cluster cores, sharding deterministically on
    ``pmod(id, n_shards)`` so results stay reproducible while every
    core packs its own stream. Token counts are whitespace tokens
    (size(split()) — the same definition as token_count_docs).
    """
    tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    shard = F.pmod(F.col(id_col), F.lit(n_shards))
    w = (
        Window.partitionBy(F.col(group_col), shard)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_bin = docs.select(
        F.col(id_col),
        F.col(group_col),
        shard.alias("shard"),
        tok.alias("n_tokens"),
    ).withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(budget_tokens)
        ),
    )
    return with_bin.groupBy(group_col, "shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )
