"""At-rest near-dup index (operators/dedup_index.py): the batch probe
must be BIT-IDENTICAL to an in-memory near-dup pass run over
corpus ∪ batch restricted to cross pairs; the scan must prune at file
level; and the minhash kind must ride the shared append/compact
lifecycle exactly like the ANN kinds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.dedup import (
    near_duplicate_pairs,
)
from nursinghome_data_pipeline_spark.operators.dedup_index import (
    batch_against_index,
    write_dedup_index,
)
from nursinghome_data_pipeline_spark.operators.similarity import (
    active_data_root,
    append_to_ann_index,
    compact_ann_index,
    load_ann_meta,
)
from nursinghome_data_pipeline_spark.sources.tpch import load_tables

from .near_dup_oracles import minhash_pairs

#: loose threshold so the synthetic corpus yields a non-empty verify —
#: the docs table has templated text with plenty of moderate overlaps
THRESHOLD = 0.35


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "text"
    )


def _split(docs):
    corpus = docs.where(F.col("doc_id") % 10 != 9)
    batch = docs.where(F.col("doc_id") % 10 == 9)
    return corpus, batch


def _cross_twin(docs, threshold):
    """In-memory oracle: the test-side minhash pass over ALL docs, keep
    only (corpus, batch) pairs, normalized to (batch_id, corpus_id)."""
    pairs = minhash_pairs(docs, threshold=threshold)
    a_is_batch = F.col("id_a") % 10 == 9
    b_is_batch = F.col("id_b") % 10 == 9
    return (
        pairs.where(a_is_batch != b_is_batch)
        .select(
            F.when(a_is_batch, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "batch_id"
            ),
            F.when(a_is_batch, F.col("id_b")).otherwise(F.col("id_a")).alias(
                "corpus_id"
            ),
            "jaccard",
        )
    )


def _rows(df):
    return sorted(
        (r["batch_id"], r["corpus_id"], r["jaccard"]) for r in df.collect()
    )


def test_pairs_from_banded_rows_equals_in_memory_operator(spark, sf_dir):
    """r9 shared-projection pin: the ingest loop's in-batch pass reads
    a precomputed ``_banded_rows`` projection instead of re-
    fingerprinting; its pair set (ids AND bit-equal jaccard doubles)
    must be IDENTICAL to the test-side oracle's over the same docs at
    the same geometry — and so must ``near_duplicate_pairs``, which is
    that pass over a one-directory projection."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        _banded_rows,
        pairs_from_rows,
    )

    docs = _docs(spark, sf_dir)
    rows = _banded_rows(
        docs, id_col="doc_id", text_col="text",
        n_hashes=16, bands=4, shingle_k=3, n_buckets=32,
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in pairs_from_rows(
            rows, {"kind": "minhash", "id_col": "doc_id"}, threshold=THRESHOLD
        ).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_pairs(docs, threshold=THRESHOLD).collect()
    )
    assert got == want
    assert got, "empty pair set proves nothing — lower THRESHOLD"
    assert sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in near_duplicate_pairs(docs, threshold=THRESHOLD).collect()
    ) == want


def test_probe_equals_in_memory_cross_pairs(spark, sf_dir, tmp_path):
    """The parity pin: same candidates (shared band keys), same verify
    expression, bit-equal jaccard doubles."""
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    path = str(tmp_path / "dedup_index")
    write_dedup_index(corpus, path)
    got = batch_against_index(spark, batch, path, threshold=THRESHOLD)
    want = _cross_twin(docs, THRESHOLD)
    gr, wr = _rows(got), _rows(want)
    assert gr == wr
    assert gr, "empty verify proves nothing — lower THRESHOLD"


def test_probe_prunes_at_file_level(spark, sf_dir, tmp_path):
    """The batch's pb list must land in PartitionFilters and the
    executed scan must touch only matched buckets' directories."""
    import re

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        _banded_rows,
    )
    from nursinghome_data_pipeline_spark.plans import formatted_plan

    docs = _docs(spark, sf_dir)
    corpus, _ = _split(docs)
    # one tiny batch -> few pb values -> real pruning headroom (an
    # explicit geometry: the auto one is a single directory per band)
    batch = docs.where(F.col("doc_id") == 9)
    path = str(tmp_path / "dedup_index")
    write_dedup_index(corpus, path, n_buckets=16)
    out = batch_against_index(spark, batch, path, threshold=0.0)
    plan = formatted_plan(out)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "pb" in pf[0], plan
    meta = load_ann_meta(path)
    pbs = {
        r["pb"]
        for r in _banded_rows(
            batch,
            id_col=meta["id_col"],
            text_col=meta["text_col"],
            n_hashes=meta["n_hashes"],
            bands=meta["bands"],
            shingle_k=meta["shingle_k"],
            n_buckets=meta["n_buckets"],
        )
        .select("pb")
        .distinct()
        .collect()
    }
    total_dirs = meta["bands"] * meta["n_buckets"]
    assert len(pbs) <= meta["bands"]  # one doc -> at most `bands` keys
    touched = {
        int(re.search(r"pb=(\d+)", r[0]).group(1))
        for r in spark.read.parquet(active_data_root(path))
        .where(F.col("pb").isin(list(pbs)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert touched <= pbs and len(touched) < total_dirs


def test_append_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Half-then-append must probe bit-identically to a full build —
    the sidecar-routed geometry keeps old and new rows agreeing."""
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    first = corpus.where(F.col("doc_id") % 3 != 0)
    second = corpus.where(F.col("doc_id") % 3 == 0)
    inc = str(tmp_path / "incremental")
    full = str(tmp_path / "full")
    write_dedup_index(first, inc)
    append_to_ann_index(second, inc)
    write_dedup_index(corpus, full)
    got = _rows(batch_against_index(spark, batch, inc, threshold=THRESHOLD))
    want = _rows(batch_against_index(spark, batch, full, threshold=THRESHOLD))
    assert got == want and got


def test_append_is_one_delta_file_and_compact_folds_it(
    spark, sf_dir, tmp_path
):
    """r9 LSM layout pin: an append writes exactly ONE parquet file,
    all in the pb=-1 delta directory (cost ∝ batch, not ∝ geometry);
    a plain compact (regeometry=False) folds every delta row into its
    derived bucket so the layout is row-identical to a fresh rebuild
    of the same docs."""
    import glob
    import os

    docs = _docs(spark, sf_dir)
    corpus, _ = _split(docs)
    first = corpus.where(F.col("doc_id") % 3 != 0)
    second = corpus.where(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "lsm_idx")
    write_dedup_index(first, path)
    files_before = set(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    append_to_ann_index(second, path)
    new_files = (
        set(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        - files_before
    )
    assert len(new_files) == 1
    assert all(os.sep + "pb=-1" + os.sep in f for f in new_files)
    # delta rows carry real routing columns, only pb is the sentinel
    delta = spark.read.parquet(active_data_root(path)).where(F.col("pb") == -1)
    assert delta.count() > 0

    compact_ann_index(spark, path)
    nb = load_ann_meta(path)["n_buckets"]
    rows = spark.read.parquet(active_data_root(path)).collect()
    assert all(r["pb"] >= 0 for r in rows)
    assert all(r["pb"] == r["band"] * nb + r["bkey"] % nb for r in rows)
    full = str(tmp_path / "full_idx")
    write_dedup_index(corpus, full, n_buckets=nb)
    key = lambda r: (r["pb"], r["band"], r["bkey"], r["doc_id"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(
        map(key, spark.read.parquet(active_data_root(full)).collect())
    )


def test_compact_preserves_probe_and_sidecar(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    path = str(tmp_path / "dedup_index")
    write_dedup_index(corpus, path)
    append_to_ann_index(batch.limit(0), path)  # no-op append is legal
    before = _rows(
        batch_against_index(spark, batch, path, threshold=THRESHOLD)
    )
    meta_before = load_ann_meta(path)
    n_files = compact_ann_index(spark, path, files_per_partition=1)
    assert n_files > 0
    assert load_ann_meta(path) == meta_before
    after = _rows(
        batch_against_index(spark, batch, path, threshold=THRESHOLD)
    )
    assert before == after and before


def test_reprobe_of_indexed_doc_emits_no_self_pair(spark, sf_dir, tmp_path):
    """A batch doc whose id already lives in the index must not match
    its own postings — the in-memory twin (id_a < id_b) can never emit
    a self-pair, so neither may the probe."""
    docs = _docs(spark, sf_dir)
    corpus, _ = _split(docs)
    path = str(tmp_path / "dedup_index")
    write_dedup_index(corpus, path)
    reprobe = corpus.limit(5)
    pairs = batch_against_index(spark, reprobe, path, threshold=0.99)
    assert all(r["batch_id"] != r["corpus_id"] for r in pairs.collect())


def test_auto_bucket_sizing_pinned_and_equals_explicit(spark, sf_dir, tmp_path):
    """auto_dedup_buckets is pure driver arithmetic (pin it), and
    n_buckets='auto' must build the byte-identical index the explicit
    call at the resolved count builds — via n_docs and via the
    internal count."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        auto_dedup_buckets,
    )

    assert auto_dedup_buckets(0) == 1
    assert auto_dedup_buckets(4096) == 1  # one directory per group
    assert auto_dedup_buckets(4097) == 2
    assert auto_dedup_buckets(100_000) == 32  # ceil(24.4) -> 25 -> 32
    assert auto_dedup_buckets(1_000_000) == 256  # 245 -> 256
    assert auto_dedup_buckets(10**9) == 4096  # hi clamp
    assert auto_dedup_buckets(10**9, target_docs_per_dir=10**6) == 1024
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    n = corpus.count()
    p_auto = str(tmp_path / "auto")
    p_docs = str(tmp_path / "ndocs")
    p_expl = str(tmp_path / "explicit")
    write_dedup_index(corpus, p_auto)
    write_dedup_index(corpus, p_docs, n_docs=n)
    write_dedup_index(corpus, p_expl, n_buckets=auto_dedup_buckets(n))
    assert load_ann_meta(p_auto) == load_ann_meta(p_expl) == load_ann_meta(p_docs)
    want = _rows(batch_against_index(spark, batch, p_expl, threshold=THRESHOLD))
    assert want
    for p in (p_auto, p_docs):
        assert _rows(batch_against_index(spark, batch, p, threshold=THRESHOLD)) == want


@pytest.mark.parametrize("kind", ["minhash", "simhash", "srp"])
def test_small_auto_index_is_one_directory_per_group(spark, sf_dir, tmp_path, kind):
    """A 100-doc corpus is far under one directory's payload, so the
    auto geometry is ONE directory per fan-out group (``bands`` of
    them for minhash), and its probe pairs equal an explicit
    16-bucket build's: the bucket is a function of the routing key.
    Its probe reads every directory by design, so it warns nothing."""
    import os
    import warnings

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        family,
        write_simhash_index,
    )
    from nursinghome_data_pipeline_spark.operators.embedding_index import (
        write_srp_index,
    )

    if kind == "srp":
        rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        def write(df, p, n_buckets):
            write_srp_index(
                df, p, id_col="doc_id", dim=64, design_threshold=0.3,
                n_planes=4, n_tables=4, n_buckets=n_buckets,
            )
        threshold = 0.3
    elif kind == "simhash":
        rows, write, threshold = _docs(spark, sf_dir), write_simhash_index, 3
    else:
        rows, write, threshold = _docs(spark, sf_dir), write_dedup_index, THRESHOLD
    corpus = rows.where((F.col("doc_id") < 125) & (F.col("doc_id") % 5 != 4))
    batch = rows.where(F.col("doc_id") % 5 == 4)
    auto, wide = str(tmp_path / "auto"), str(tmp_path / "wide")
    write(corpus, auto, n_buckets="auto")
    write(corpus, wide, n_buckets=16)
    meta = load_ann_meta(auto)
    assert meta["n_buckets"] == 1
    dirs = [e for e in os.listdir(active_data_root(auto)) if e.startswith("pb=")]
    assert len(dirs) == family(meta).dirs(meta) + meta.get("n_vec_buckets", 0)
    if kind == "minhash":
        assert len(dirs) == meta["bands"]

    def pairs(p):
        return sorted(
            tuple(r) for r in batch_against_index(
                spark, batch, p, threshold=threshold
            ).collect()
        )

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = pairs(auto)
    assert got, "empty probe proves nothing — lower the threshold"
    assert got == pairs(wide)


def test_probe_kind_mismatch_names_the_right_probe(spark, sf_dir, tmp_path):
    from nursinghome_data_pipeline_spark.operators.similarity import (
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, fixed_ivf_seeds(emb, n_seeds=4))
    docs = _docs(spark, sf_dir)
    with pytest.raises(ValueError, match="kind='ivf'.*'minhash'"):
        batch_against_index(spark, docs.limit(1), path, threshold=0.8)


def test_reserved_id_col_rejected(spark):
    """ADVICE r7: an id_col named like an internal projection column
    (pb/band/bkey/sh/sig) or a probe output alias (batch_id/corpus_id)
    would silently collide or misbind — rejected up front, before the
    auto-sizing corpus count."""
    df = spark.range(3).select(
        F.col("id").alias("band"), F.lit("a b c d").alias("text")
    )
    for bad in ("band", "pb", "bkey", "sh", "sig", "batch_id", "corpus_id"):
        bad_df = df.select(F.col("band").alias(bad), "text")
        with pytest.raises(ValueError, match=f"id_col '{bad}'"):
            write_dedup_index(bad_df, "/tmp/never-written", id_col=bad)


def test_bucket_stats_surface_planted_boilerplate(spark, sf_dir, tmp_path):
    """r9 hot-bucket debug stat: 200 trivially-varied copies of one
    document (distinct ids and texts, so EXACT dedup keeps them all)
    share band keys, so the hottest key's population must track the
    copy count while a clean corpus sits near the mean — the probe-
    poisoning signature the stat exists to surface."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        dedup_index_bucket_stats,
    )

    docs = _docs(spark, sf_dir)
    clean_path = str(tmp_path / "clean_idx")
    write_dedup_index(docs, clean_path)
    clean = dedup_index_bucket_stats(spark, clean_path)
    assert clean["kind"] == "minhash"
    assert clean["n_postings"] == docs.count() * 4  # bands rows per doc
    # boilerplate: one doc copied 200x with a one-token tail variation
    # (exact fingerprints all differ; minhash signatures mostly agree)
    base = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    boiler = spark.createDataFrame(
        [(1 << 50 | i, f"{base} variant{i}") for i in range(200)],
        "doc_id long, text string",
    )
    hot_path = str(tmp_path / "hot_idx")
    write_dedup_index(docs.unionByName(boiler), hot_path)
    hot = dedup_index_bucket_stats(spark, hot_path)
    assert hot["max_postings_per_key"] >= 150  # ~all copies on one key
    assert hot["max_postings_per_key"] > 20 * hot["mean_postings_per_key"]
    assert hot["top"][0][2] == hot["max_postings_per_key"]
    # the clean corpus shows no such spike
    assert clean["max_postings_per_key"] < 20 * clean[
        "mean_postings_per_key"
    ]


def test_bucket_stats_simhash_and_kind_gate(spark, sf_dir, tmp_path):
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        dedup_index_bucket_stats,
        simhash_keys_per_doc,
        write_simhash_index,
    )

    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "sh_idx")
    write_simhash_index(docs, path, n_buckets=16)
    stats = dedup_index_bucket_stats(spark, path)
    assert stats["kind"] == "simhash"
    assert stats["n_postings"] == docs.count() * simhash_keys_per_doc(5, 2)
    assert all(band == -1 for band, _, _ in stats["top"])
    # vector indexes have no posting keys — named rejection
    from nursinghome_data_pipeline_spark.operators.similarity import (
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, ivf, fixed_ivf_seeds(emb, n_seeds=4))
    with pytest.raises(ValueError, match="not supported"):
        dedup_index_bucket_stats(spark, ivf)


def test_regeometry_compaction_matches_fresh_rebuild(spark, sf_dir, tmp_path):
    """r7 verdict ask #2: an index grown far past its build-time
    geometry re-derives n_buckets on compact(regeometry=True) — and
    the result (rows, sidecar, probe) is bit-identical to a fresh
    rebuild at the auto geometry. Re-routing uses the STORED
    band/bkey columns; no re-shingling."""
    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    small = corpus.where(F.col("doc_id") % 7 == 0)
    rest = corpus.where(F.col("doc_id") % 7 != 0)
    grown = str(tmp_path / "grown")
    # deliberately outgrown geometry: 64 buckets where auto for the
    # full corpus resolves to one directory per band at this SF
    write_dedup_index(small, grown, n_buckets=64)
    append_to_ann_index(rest.select("doc_id", "text"), grown)
    fresh = str(tmp_path / "fresh")
    write_dedup_index(corpus, fresh, n_buckets="auto")
    assert load_ann_meta(grown)["n_buckets"] != load_ann_meta(fresh)["n_buckets"]

    compact_ann_index(spark, grown, regeometry=True)
    m_g, m_f = load_ann_meta(grown), load_ann_meta(fresh)
    assert m_g["n_buckets"] == m_f["n_buckets"]
    assert m_g["kind"] == "minhash" and m_g["bands"] == m_f["bands"]

    key = lambda r: (r["pb"], r["band"], r["bkey"], r["doc_id"])  # noqa: E731
    rows_g = sorted(
        [(r["pb"], r["band"], r["bkey"], r["doc_id"], tuple(r["sh"]))
         for r in spark.read.parquet(active_data_root(grown)).collect()]
    )
    rows_f = sorted(
        [(r["pb"], r["band"], r["bkey"], r["doc_id"], tuple(r["sh"]))
         for r in spark.read.parquet(active_data_root(fresh)).collect()]
    )
    assert rows_g == rows_f

    pk = lambda r: (r["batch_id"], r["corpus_id"], r["jaccard"])  # noqa: E731
    got = sorted(
        batch_against_index(
            spark, batch, grown, threshold=THRESHOLD
        ).collect(),
        key=pk,
    )
    want = sorted(
        batch_against_index(
            spark, batch, fresh, threshold=THRESHOLD
        ).collect(),
        key=pk,
    )
    assert [pk(r) for r in got] == [pk(r) for r in want]
    assert got, "probe unexpectedly empty — the pin proves nothing"


def test_regeometry_rejected_for_non_minhash(spark, sf_dir, tmp_path):
    """IVF/LSH geometry defines routing semantics — regeometry must
    reject, not silently no-op."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        write_lsh_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "lsh")
    write_lsh_index(emb, path, dim=64, n_planes=4)
    with pytest.raises(ValueError, match="regeometry=True only applies"):
        compact_ann_index(spark, path, regeometry=True)


def test_flat_read_crossover_both_sides(spark, sf_dir, tmp_path):
    """r10 (verdict #3): a batch matching > half the bands×n_buckets
    directories must skip the matched-dirs listing (flat root read,
    warned); a small batch must stay on the pruned path (no warning).
    Results are pinned identical across the switch."""
    import warnings

    docs = _docs(spark, sf_dir)
    corpus, batch = _split(docs)
    path = str(tmp_path / "idx")
    # tiny geometry: 4 bands x 2 buckets = 8 dirs, so any real batch
    # saturates the directories and crosses over
    write_dedup_index(corpus, path, n_buckets=2)
    with pytest.warns(UserWarning, match="pruning crossover"):
        flat = _rows(
            batch_against_index(spark, batch, path, threshold=THRESHOLD)
        )
    assert flat == _rows(_cross_twin(docs, THRESHOLD))
    # big geometry: same corpus, 4 x 4096 dirs — a one-doc batch
    # matches ~4 dirs, far under the crossover: pruned path, silent
    wide = str(tmp_path / "wide")
    write_dedup_index(corpus, wide, n_buckets=4096)
    one = batch.orderBy("doc_id").limit(1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        batch_against_index(
            spark, one, wide, threshold=THRESHOLD
        ).collect()


def test_read_matched_partitions_flat_switch_unit(spark, tmp_path):
    """Unit pin of the crossover arithmetic: len(values) vs
    total_partitions decides the path; the flat path returns the same
    rows and None still means 'nothing on disk'."""
    import warnings

    from nursinghome_data_pipeline_spark.operators.similarity import (
        read_matched_partitions,
    )

    df = spark.range(100).select(
        (F.col("id") % 8).cast("int").alias("pb"), F.col("id").alias("v")
    )
    path = str(tmp_path / "t")
    df.write.partitionBy("pb").parquet(path)
    want = sorted((r["pb"], r["v"]) for r in df.collect())

    def got(values, total):
        rel = read_matched_partitions(spark, path, "pb", values, total_partitions=total)
        rel = rel.where(F.col("pb").isin(list(values)))
        return sorted((r["pb"], r["v"]) for r in rel.select("pb", "v").collect())

    all_pbs = list(range(8))
    with pytest.warns(UserWarning, match="reading the index flat"):
        assert got(all_pbs, 8) == want
    # at or under half: pruned path, silent, same rows for the subset
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sub = got([0, 1, 2, 3], 8)
    assert sub == [p for p in want if p[0] in (0, 1, 2, 3)]
    # nothing on disk -> None on both paths
    empty = str(tmp_path / "empty")
    import os

    os.makedirs(empty)
    assert read_matched_partitions(spark, empty, "pb", [1], total_partitions=2) is None
    assert read_matched_partitions(spark, empty, "pb", [1]) is None


def test_read_many_dirs_concurrent_conf_restore(spark, tmp_path):
    """r13 (r12 verdict #8): the sequential-listing construct scopes
    the parallel-discovery threshold via save/restore on session conf;
    concurrent constructions must serialize that window (module lock)
    so interleaved save/restore can never leave the session threshold
    permanently raised. Post-condition pinned across a thread race."""
    import threading

    from nursinghome_data_pipeline_spark.operators.similarity import (
        _read_many_dirs,
    )

    base = str(tmp_path / "many")
    df = spark.range(40).selectExpr("id", "CAST(id AS INT) AS pb")
    df.write.partitionBy("pb").mode("overwrite").parquet(base)
    dirs = [f"{base}/pb={i}" for i in range(40)]
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    errs: list[Exception] = []

    def construct():
        try:
            rel = _read_many_dirs(spark, base, dirs)
            assert rel.count() == 40
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=construct) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert spark.conf.get(key) == before


def test_flat_read_lists_on_the_driver(spark, tmp_path, run_in_job_group):
    """Past the crossover the flat root read over more than 32
    partition directories launches no listing job: its one job is the
    single-footer schema read, and the discovery threshold is back at
    its prior value afterwards."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        read_matched_partitions,
    )

    path = str(tmp_path / "wide")
    df = spark.range(200).select(
        (F.col("id") % 40).cast("int").alias("pb"), F.col("id").alias("v")
    )
    df.write.partitionBy("pb").parquet(path)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    with pytest.warns(UserWarning, match="reading the index flat"):
        rel, launched, _ = run_in_job_group(
            lambda: read_matched_partitions(
                spark, path, "pb", range(40), total_partitions=40
            )
        )
    assert launched == 1
    assert spark.conf.get(key) == before
    assert sorted(tuple(r) for r in rel.select("pb", "v").collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_empty_batch_probe_returns_typed_empty_frame(spark, tmp_path):
    """An empty batch has no bucket to probe: no index read, and the
    result is the typed empty frame."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_buckets=4)
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = batch_against_index(spark, empty, path, threshold=0.5)
    assert out.schema.simpleString() == (
        "struct<batch_id:bigint,corpus_id:bigint,jaccard:double>"
    )
    assert out.collect() == []
