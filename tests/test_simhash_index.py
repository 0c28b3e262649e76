"""At-rest SimHash index (r8): the batch probe must be BIT-IDENTICAL
to the in-memory simhash_near_duplicate_pairs run over corpus ∪ batch
restricted to cross pairs; it must ride the shared
append/compact/regeometry lifecycle; and the scan must prune at file
level — the same contract battery the minhash index carries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.dedup import (
    simhash_near_duplicate_pairs,
)
from nursinghome_data_pipeline_spark.operators.dedup_index import (
    simhash_batch_against_index,
    simhash_keys_per_doc,
    write_simhash_index,
)
from nursinghome_data_pipeline_spark.operators.similarity import (
    append_to_ann_index,
    compact_ann_index,
    load_ann_meta,
)
from nursinghome_data_pipeline_spark.sources.tpch import load_tables

#: loose enough that the templated synthetic docs yield cross matches
MAX_HAMMING = 20
#: the geometry both sides band with — the probe reads it from the
#: sidecar, the twin takes it explicitly
GEO = dict(n_chunks=5, chunks_per_key=2)


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "text"
    )


def _split(docs):
    return (
        docs.where(F.col("doc_id") % 10 != 9),
        docs.where(F.col("doc_id") % 10 == 9),
    )


def _cross_twin(docs):
    pairs = simhash_near_duplicate_pairs(
        docs, max_hamming=MAX_HAMMING, **GEO
    )
    a_is_batch = F.col("id_a") % 10 == 9
    b_is_batch = F.col("id_b") % 10 == 9
    return pairs.where(a_is_batch != b_is_batch).select(
        F.when(a_is_batch, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("batch_id"),
        F.when(a_is_batch, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("corpus_id"),
        "hamming",
    )


def _pairs(df):
    return {
        (r["batch_id"], r["corpus_id"], r["hamming"]) for r in df.collect()
    }


def test_batch_probe_warns_beyond_pigeonhole_guarantee(spark, tmp_path):
    """The batch probe surfaces the same recall trade as the ingest
    loop: a max_hamming past the geometry's pigeonhole guarantee
    (h <= 3 at 5 chunks x pair keys) warns; within it, silent."""
    import warnings

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    path = str(tmp_path / "sh")
    write_simhash_index(docs, path, n_buckets=16, **GEO)
    with pytest.warns(UserWarning, match="pigeonhole guarantee"):
        simhash_batch_against_index(spark, docs, path, max_hamming=8)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        warnings.filterwarnings("ignore", message=".*pruning crossover.*")
        simhash_batch_against_index(spark, docs, path, max_hamming=3)


def test_probe_equals_in_memory_cross_pairs(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    path = str(tmp_path / "sh_idx")
    write_simhash_index(corpus, path, **GEO)
    got = _pairs(
        simhash_batch_against_index(
            spark, batch, path, max_hamming=MAX_HAMMING
        )
    )
    want = _pairs(_cross_twin(docs))
    assert got == want
    assert got, "cross twin empty — parity proves nothing at this SF"


def test_pairs_from_simhash_rows_equals_in_memory_operator(spark, sf_dir):
    """r9 shared-projection pin (Hamming twin of the minhash test):
    pairing a precomputed ``_simhash_rows`` projection must emit the
    SAME pair set as ``simhash_near_duplicate_pairs`` at the same
    geometry."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        _simhash_rows,
        pairs_from_rows,
    )

    docs = _docs(spark, sf_dir)
    rows = _simhash_rows(
        docs, id_col="doc_id", text_col="text",
        hash_family="xxhash64", n_buckets=32, **GEO,
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in pairs_from_rows(
            rows, {"kind": "simhash", "id_col": "doc_id"}, threshold=MAX_HAMMING
        ).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_duplicate_pairs(
            docs, max_hamming=MAX_HAMMING, **GEO
        ).collect()
    )
    assert got == want
    assert got, "empty pair set proves nothing at this SF"


def test_single_chunk_geometry_also_matches(spark, sf_dir, tmp_path):
    """The in-memory default (4 chunks, single-chunk keys) through the
    same at-rest contract."""
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    path = str(tmp_path / "sh_idx41")
    write_simhash_index(
        corpus, path, n_chunks=4, chunks_per_key=1, n_buckets=32
    )
    got = _pairs(
        simhash_batch_against_index(
            spark, batch, path, max_hamming=MAX_HAMMING
        )
    )
    pairs = simhash_near_duplicate_pairs(
        docs, max_hamming=MAX_HAMMING, n_chunks=4, chunks_per_key=1
    )
    a_is_batch = F.col("id_a") % 10 == 9
    b_is_batch = F.col("id_b") % 10 == 9
    want = _pairs(
        pairs.where(a_is_batch != b_is_batch).select(
            F.when(a_is_batch, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("batch_id"),
            F.when(a_is_batch, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("corpus_id"),
            "hamming",
        )
    )
    assert got == want and got


def test_append_then_probe_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Churn: build on half the corpus, append the rest through the
    shared lifecycle, probe — identical to indexing everything at
    once (sidecar-geometry routing, never recomputed parameters)."""
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    first = corpus.where(F.col("doc_id") % 2 == 0)
    rest = corpus.where(F.col("doc_id") % 2 == 1)
    grown = str(tmp_path / "grown")
    write_simhash_index(first, grown, **GEO)
    append_to_ann_index(rest.select("doc_id", "text"), grown)
    full = str(tmp_path / "full")
    write_simhash_index(corpus, full, **GEO)
    g = _pairs(
        simhash_batch_against_index(
            spark, batch, grown, max_hamming=MAX_HAMMING
        )
    )
    f = _pairs(
        simhash_batch_against_index(
            spark, batch, full, max_hamming=MAX_HAMMING
        )
    )
    assert g == f and g


def test_regeometry_compaction_matches_fresh_rebuild(spark, sf_dir, tmp_path):
    """compact(regeometry=True) re-derives n_buckets from the current
    corpus and recomputes pb from the STORED bucket column — rows,
    sidecar, and probe bit-identical to a fresh auto-geometry build."""
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    grown = str(tmp_path / "regeo")
    write_simhash_index(corpus, grown, n_buckets=256, **GEO)  # outgrown
    fresh = str(tmp_path / "fresh")
    write_simhash_index(corpus, fresh, n_buckets="auto", **GEO)
    assert (
        load_ann_meta(grown)["n_buckets"]
        != load_ann_meta(fresh)["n_buckets"]
    )
    compact_ann_index(spark, grown, regeometry=True)
    assert (
        load_ann_meta(grown)["n_buckets"]
        == load_ann_meta(fresh)["n_buckets"]
    )
    from nursinghome_data_pipeline_spark.operators.similarity import (
        active_data_root,
    )

    rows = lambda p: sorted(  # noqa: E731
        (r["pb"], r["bucket"], r["doc_id"], r["sh"])
        for r in spark.read.parquet(active_data_root(p)).collect()
    )
    assert rows(grown) == rows(fresh)
    g = _pairs(
        simhash_batch_against_index(
            spark, batch, grown, max_hamming=MAX_HAMMING
        )
    )
    f = _pairs(
        simhash_batch_against_index(
            spark, batch, fresh, max_hamming=MAX_HAMMING
        )
    )
    assert g == f


def test_partition_pruning_plan_gate(spark, sf_dir, tmp_path):
    """The batch's pb list must land in PartitionFilters — file-level
    pruning, same gate as the minhash/IVF/LSH probes."""
    from nursinghome_data_pipeline_spark.plans import formatted_plan

    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    path = str(tmp_path / "sh_gate")
    write_simhash_index(corpus, path, **GEO)
    out = simhash_batch_against_index(
        spark, batch.limit(3), path, max_hamming=MAX_HAMMING
    )
    plan = formatted_plan(out)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "pb" in pf[0], plan


def test_auto_geometry_and_guards(spark):
    """auto n_buckets sizes by docs × keys_per_doc; reserved id_col
    and invalid chunk parameters reject before any scan."""
    assert simhash_keys_per_doc(5, 2) == 10
    assert simhash_keys_per_doc(4, 1) == 4
    df = spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    with pytest.raises(ValueError, match="id_col 'bucket'"):
        write_simhash_index(
            df.select(F.col("doc_id").alias("bucket"), "text"),
            "/tmp/never-written",
            id_col="bucket",
        )
    with pytest.raises(ValueError, match="chunks_per_key"):
        write_simhash_index(df, "/tmp/never-written", chunks_per_key=3)
    with pytest.raises(ValueError, match="n_chunks"):
        write_simhash_index(df, "/tmp/never-written", n_chunks=40)


def test_probe_on_empty_match_returns_typed_empty(spark, tmp_path):
    """An all-miss probe (no matched directory) returns an EMPTY frame
    with the contract schema, not an error."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tiny")
    write_simhash_index(corpus, path, n_buckets=4, **GEO)
    # a batch whose buckets hash to missing dirs may still match dirs
    # at n_buckets=4 — force the empty path by deleting data dirs
    import glob
    import os
    import shutil

    for d in glob.glob(os.path.join(path, "pb=*")):
        shutil.rmtree(d)
    batch = spark.createDataFrame(
        [(9, "totally different words entirely unrelated content")],
        "doc_id long, text string",
    )
    out = simhash_batch_against_index(spark, batch, path)
    assert out.columns == ["batch_id", "corpus_id", "hamming"]
    assert out.count() == 0
