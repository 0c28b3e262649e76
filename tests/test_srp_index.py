"""At-rest SRP embedding near-dup index (r9): the batch probe must be
identical, as a set, to an in-memory cosine pair pass run over
corpus ∪ batch restricted
to cross pairs; it must ride the shared append/compact/regeometry
lifecycle (LSM delta appends included); and the scan must prune at
file level — the same contract battery the minhash/simhash indexes
carry. Testdata embeddings are near-random (max pairwise cosine
≈0.5), so near-dups are PLANTED with exactly-controlled cosines, the
same construction as ``tests/test_embedding_recall.py``."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.dedup_index import (
    batch_against_index,
    pairs_from_rows,
)
from nursinghome_data_pipeline_spark.operators.embedding_index import (
    write_srp_index,
)
from nursinghome_data_pipeline_spark.operators.similarity import (
    active_data_root,
    append_to_ann_index,
    auto_lsh_tables,
    compact_ann_index,
    embedding_near_duplicate_pairs,
    load_ann_meta,
)

from .near_dup_oracles import embedding_pairs

_DIM = 64
#: small explicit geometry both sides band with — the probe reads it
#: from the sidecar, the twin takes it explicitly
GEO = dict(n_planes=4, n_tables=4, seed=42)
THR = 0.9
#: batch ids live in a disjoint range so cross pairs are recognizable
_BATCH_BASE = 1 << 20


def _corpus_and_batch(spark, sf_dir):
    """Corpus = testdata embeddings (unit-normalized); batch = one
    planted cosine-0.97 partner for every 4th corpus vector (a true
    near-dup above THR) + one cosine-0.5 partner for every 4th+2
    vector (below THR — must NOT match) + the partners' ids offset
    into a disjoint range."""
    base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .limit(200)
        .toPandas()
    )
    ids = base["vec_id"].to_numpy()
    vecs = np.array(
        [np.array(v, dtype=np.float64) for v in base["embedding"]]
    )
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    rng = np.random.default_rng(20260816)

    def partner(v, c):
        g = rng.standard_normal(_DIM)
        u = g - (g @ v) * v
        u = u / np.linalg.norm(u)
        return c * v + np.sqrt(1.0 - c * c) * u

    brows = []
    for i in range(len(ids)):
        if i % 4 == 0:
            brows.append((int(ids[i]) + _BATCH_BASE, partner(vecs[i], 0.97)))
        elif i % 4 == 2:
            brows.append((int(ids[i]) + _BATCH_BASE, partner(vecs[i], 0.5)))
    corpus = spark.createDataFrame(
        [
            (int(i), [float(x) for x in np.asarray(v, dtype=np.float32)])
            for i, v in zip(ids, vecs)
        ],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [
            (i, [float(x) for x in np.asarray(v, dtype=np.float32)])
            for i, v in brows
        ],
        "vec_id long, embedding array<float>",
    )
    return corpus, batch


def _cross_twin(corpus, batch, threshold=THR, **geo):
    geo = geo or GEO  # default to the geometry the indexes band with
    pairs = embedding_pairs(
        corpus.unionByName(batch), dim=_DIM, threshold=threshold, **geo
    )
    a_is_batch = F.col("id_a") >= _BATCH_BASE
    b_is_batch = F.col("id_b") >= _BATCH_BASE
    return pairs.where(a_is_batch != b_is_batch).select(
        F.when(a_is_batch, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("batch_id"),
        F.when(a_is_batch, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("corpus_id"),
        "cosine_sim",
    )


def _pairs(df):
    return {
        (r["batch_id"], r["corpus_id"], r["cosine_sim"])
        for r in df.collect()
    }


def test_probe_equals_in_memory_cross_pairs(spark, sf_dir, tmp_path):
    corpus, batch = _corpus_and_batch(spark, sf_dir)
    path = str(tmp_path / "srp_idx")
    write_srp_index(
        corpus, path, dim=_DIM, design_threshold=THR, n_buckets=32, **GEO
    )
    got = _pairs(
        batch_against_index(spark, batch, path, threshold=THR)
    )
    want = _pairs(_cross_twin(corpus, batch))
    assert got == want
    # the planted 0.97 partners must be found and the 0.5 ones must not
    assert len(got) >= 25, "planted partners missing — parity is vacuous"
    assert all(c >= THR for _, _, c in got)


def test_pairs_from_srp_rows_equals_in_memory_operator(spark, sf_dir):
    """Shared-projection pin (cosine twin of the minhash/simhash
    tests): pairing a precomputed ``_srp_rows`` projection must emit
    the SAME pair set as the test-side oracle at the same geometry —
    and so must ``embedding_near_duplicate_pairs``, which is that pass
    over a one-directory projection."""
    from nursinghome_data_pipeline_spark.operators.embedding_index import (
        _srp_rows,
    )

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    both = corpus.unionByName(batch)
    rows = _srp_rows(
        both, id_col="vec_id", vec_col="embedding", dim=_DIM,
        n_buckets=32, **GEO,
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in pairs_from_rows(
            rows, {"kind": "srp", "id_col": "vec_id", "vec_col": "embedding"},
            threshold=THR,
        ).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in embedding_pairs(both, dim=_DIM, threshold=THR, **GEO).collect()
    )
    assert got == want
    assert got, "empty pair set proves nothing"
    assert sorted(
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in embedding_near_duplicate_pairs(
            both, dim=_DIM, threshold=THR, **GEO
        ).collect()
    ) == want


def test_append_then_probe_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Churn: build on half the corpus, append the rest (landing as a
    pb=-1 LSM delta the probe must also read), probe — identical to
    indexing everything at once."""
    corpus, batch = _corpus_and_batch(spark, sf_dir)
    first = corpus.where(F.col("vec_id") % 2 == 0)
    rest = corpus.where(F.col("vec_id") % 2 == 1)
    grown = str(tmp_path / "grown")
    write_srp_index(
        first, grown, dim=_DIM, design_threshold=THR, n_buckets=32, **GEO
    )
    append_to_ann_index(rest, grown)
    import os

    assert os.path.isdir(os.path.join(active_data_root(grown), "pb=-1")), (
        "srp append should land as an LSM delta"
    )
    full = str(tmp_path / "full")
    write_srp_index(
        corpus, full, dim=_DIM, design_threshold=THR, n_buckets=32, **GEO
    )
    g = _pairs(
        batch_against_index(spark, batch, grown, threshold=THR)
    )
    f = _pairs(
        batch_against_index(spark, batch, full, threshold=THR)
    )
    assert g == f and g
    # compaction folds the delta; probe unchanged
    compact_ann_index(spark, grown)
    assert not os.path.isdir(os.path.join(active_data_root(grown), "pb=-1"))
    assert (
        _pairs(
            batch_against_index(
                spark, batch, grown, threshold=THR
            )
        )
        == g
    )


def test_regeometry_compaction_matches_fresh_rebuild(
    spark, sf_dir, tmp_path
):
    """compact(regeometry=True) re-derives n_buckets from the current
    corpus and recomputes pb from the STORED (tbl, bucket) columns —
    rows, sidecar, and probe identical to a fresh auto-geometry
    build."""
    corpus, batch = _corpus_and_batch(spark, sf_dir)
    grown = str(tmp_path / "regeo")
    write_srp_index(
        corpus, grown, dim=_DIM, design_threshold=THR, n_buckets=256,
        **GEO,  # deliberately outgrown geometry
    )
    fresh = str(tmp_path / "fresh")
    write_srp_index(
        corpus, fresh, dim=_DIM, design_threshold=THR, n_buckets="auto",
        **GEO,
    )
    assert (
        load_ann_meta(grown)["n_buckets"]
        != load_ann_meta(fresh)["n_buckets"]
    )
    compact_ann_index(spark, grown, regeometry=True)
    assert (
        load_ann_meta(grown)["n_buckets"]
        == load_ann_meta(fresh)["n_buckets"]
    )
    rows = lambda p: sorted(  # noqa: E731
        # vector rows of the normalized layout carry NULL tbl/bucket —
        # map to -1 so mixed-role tuples stay sortable
        (
            r["pb"],
            -1 if r["tbl"] is None else r["tbl"],
            -1 if r["bucket"] is None else r["bucket"],
            r["vec_id"],
            r["nrm"],
        )
        for r in spark.read.parquet(active_data_root(p)).collect()
    )
    assert rows(grown) == rows(fresh)
    g = _pairs(
        batch_against_index(spark, batch, grown, threshold=THR)
    )
    f = _pairs(
        batch_against_index(spark, batch, fresh, threshold=THR)
    )
    assert g == f


def test_partition_pruning_plan_gate(spark, sf_dir, tmp_path):
    """Both reads of a small probe must prune at file level: the
    POSTING scan's pb list lands in PartitionFilters on the candidate
    plan (r12: the candidate-driven fetch pins that join behind a
    lazy localCheckpoint, so it is gated via the ``plan_probe`` seam —
    the final plan no longer contains it), and the VECTOR fetch's
    vec-pb list lands in PartitionFilters on the final plan."""
    from nursinghome_data_pipeline_spark.plans import formatted_plan

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    path = str(tmp_path / "srp_gate")
    write_srp_index(
        corpus, path, dim=_DIM, design_threshold=THR, n_buckets=32, **GEO
    )
    seam: dict = {}
    out = batch_against_index(
        spark, batch.limit(3), path, threshold=THR, plan_probe=seam
    )
    cand_plan = formatted_plan(seam["candidates"])
    pf = [l for l in cand_plan.splitlines() if "PartitionFilters" in l]
    assert pf and "pb" in pf[0], cand_plan
    plan = formatted_plan(out)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "pb" in pf[0], plan
    # the candidate join is a (tbl, bucket) equi-join — never all-pairs
    assert "CartesianProduct" not in cand_plan and (
        "CartesianProduct" not in plan
    ), plan


def test_probe_on_empty_match_returns_typed_empty(spark, tmp_path):
    """An all-miss probe (no matched directory) returns an EMPTY frame
    with the contract schema, not an error."""
    import glob
    import shutil

    corpus = spark.createDataFrame(
        [(1, [float(i) for i in range(_DIM)])],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "tiny")
    write_srp_index(
        corpus, path, dim=_DIM, design_threshold=THR, n_buckets=4, **GEO
    )
    for d in glob.glob(f"{active_data_root(path)}/pb=*"):
        shutil.rmtree(d)
    out = batch_against_index(spark, corpus, path, threshold=THR)
    assert out.columns == ["batch_id", "corpus_id", "cosine_sim"]
    assert out.count() == 0


def test_guards_and_design_threshold_warning(spark, sf_dir, tmp_path):
    """Reserved column names and invalid design thresholds reject
    before any scan; probing looser than the design threshold warns
    (and probing at/above it does not)."""
    import warnings

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    with pytest.raises(ValueError, match="id_col 'bucket'"):
        write_srp_index(
            corpus.select(F.col("vec_id").alias("bucket"), "embedding"),
            "/tmp/never-written",
            id_col="bucket",
            dim=_DIM,
        )
    with pytest.raises(ValueError, match="vec_col 'nrm'"):
        write_srp_index(
            corpus.select("vec_id", F.col("embedding").alias("nrm")),
            "/tmp/never-written",
            vec_col="nrm",
            dim=_DIM,
        )
    with pytest.raises(ValueError, match="design_threshold"):
        write_srp_index(
            corpus, "/tmp/never-written", dim=_DIM, design_threshold=1.5
        )
    with pytest.raises(ValueError, match="must be >= 1"):
        # n_tables=0 would silently explode an empty key array
        write_srp_index(
            corpus, "/tmp/never-written", dim=_DIM, n_planes=4, n_tables=0
        )
    with pytest.raises(ValueError, match="backtick"):
        # the bucket expression embeds vec_col in SQL text
        write_srp_index(
            corpus.select("vec_id", F.col("embedding").alias("e`x")),
            "/tmp/never-written", vec_col="e`x", dim=_DIM, n_buckets=4,
            **GEO,
        )
    with pytest.raises(ValueError, match="n_tables must be >= 1"):
        # the in-memory operator names it too (the empty plane literal
        # used to surface as a raw AnalysisException)
        embedding_near_duplicate_pairs(corpus, dim=_DIM, n_planes=4, n_tables=0)
    path = str(tmp_path / "warn")
    write_srp_index(
        corpus, path, dim=_DIM, design_threshold=0.95, n_buckets=16, **GEO
    )
    with pytest.warns(UserWarning, match="looser than the index's"):
        batch_against_index(spark, batch, path, threshold=0.5)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # the tiny 4x16 test geometry legitimately trips the r10
        # flat-read crossover warning — not the subject of this test
        warnings.filterwarnings("ignore", message=".*pruning crossover.*")
        # at the design threshold (the None default) and above: silent
        batch_against_index(spark, batch, path, threshold=None)
        batch_against_index(spark, batch, path, threshold=0.99)


def test_auto_geometry_matches_formulas(spark, sf_dir, tmp_path):
    """The auto sizing must be exactly the in-memory operator's
    formulas (pin the sidecar against driver arithmetic)."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        auto_dedup_buckets,
    )
    from nursinghome_data_pipeline_spark.operators.similarity import (
        auto_lsh_planes,
    )

    corpus, _ = _corpus_and_batch(spark, sf_dir)
    n = corpus.count()
    path = str(tmp_path / "auto")
    write_srp_index(corpus, path, dim=_DIM, design_threshold=0.95)
    meta = load_ann_meta(path)
    p = auto_lsh_planes(n)
    t = auto_lsh_tables(p, 0.95, recall_target=0.9)
    assert meta["n_planes"] == p
    assert meta["n_tables"] == t
    # per-TABLE payload: n_buckets sizes n_rows alone (pb carries the
    # table index, like the minhash index's per-band sizing)
    assert meta["n_buckets"] == auto_dedup_buckets(n)
    assert meta["design_threshold"] == 0.95


def test_bucket_stats_on_srp_index(spark, sf_dir, tmp_path):
    """dedup_index_bucket_stats covers the srp kind: totals add up and
    a planted mass-duplicate lights up max_postings_per_key."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        dedup_index_bucket_stats,
    )

    corpus, _ = _corpus_and_batch(spark, sf_dir)
    # 50 exact copies of one vector (distinct ids) — they share every
    # table's bucket, so one key per table holds >= 50 postings
    hot = corpus.limit(1).crossJoin(
        spark.range(50).select((F.col("id") + (1 << 30)).alias("__i"))
    ).select(F.col("__i").alias("vec_id"), "embedding")
    path = str(tmp_path / "stats")
    write_srp_index(
        corpus.unionByName(hot), path, dim=_DIM, design_threshold=THR,
        n_buckets=16, **GEO,
    )
    stats = dedup_index_bucket_stats(spark, path)
    assert stats["kind"] == "srp"
    idx = spark.read.parquet(active_data_root(path))
    # r10 normalized layout: only POSTING rows (tbl non-null) feed the
    # hot-key stat; vector rows are storage, one per distinct id
    n_postings = idx.where(F.col("tbl").isNotNull()).count()
    assert stats["n_postings"] == n_postings
    n_vec_rows = idx.where(F.col("tbl").isNull()).count()
    assert n_vec_rows == idx.select("vec_id").distinct().count()
    assert stats["max_postings_per_key"] >= 50
    assert stats["top"][0][2] == stats["max_postings_per_key"]


def test_probe_missing_batch_columns_named_error(spark, sf_dir, tmp_path):
    """r10 (ADVICE): a batch lacking the sidecar's id/payload columns
    must fail with the columns NAMED (the same guard as append
    routing), not a raw AnalysisException from the projection — for
    every near-dup kind, since all three probes share one body."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_dedup_index,
        write_simhash_index,
    )

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    path = str(tmp_path / "idx")
    write_srp_index(
        corpus, path, dim=_DIM, design_threshold=THR, n_buckets=16, **GEO
    )
    bad = batch.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")
    )
    with pytest.raises(ValueError, match=r"lacks column\(s\).*vec_id"):
        batch_against_index(spark, bad, path, threshold=None)
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    no_text = docs.select("doc_id", F.col("text").alias("body"))
    for write, threshold in ((write_dedup_index, 0.8), (write_simhash_index, 8)):
        p = str(tmp_path / write.__name__)
        write(docs, p, n_buckets=16)
        with pytest.raises(ValueError, match=r"lacks column\(s\).*'text'"):
            batch_against_index(spark, no_text, p, threshold=threshold)


def test_probe_without_design_threshold_named_error(spark, sf_dir, tmp_path):
    """r10 (ADVICE): threshold=None against a sidecar missing
    'design_threshold' (hand-edited/foreign) must raise a descriptive
    ValueError, not a KeyError; an explicit threshold still works."""
    import json
    import os

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    path = str(tmp_path / "idx")
    write_srp_index(
        corpus, path, dim=_DIM, design_threshold=THR, n_buckets=16, **GEO
    )
    meta_path = os.path.join(active_data_root(path), "_ann_meta.json")
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    expected = {
        tuple(r)
        for r in batch_against_index(spark, batch, path, threshold=None)
        .select("batch_id", "corpus_id")
        .collect()
    }
    del meta["design_threshold"]
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="design_threshold"):
        batch_against_index(spark, batch, path, threshold=None)
    got = {
        tuple(r)
        for r in batch_against_index(
            spark, batch, path, threshold=THR
        )
        .select("batch_id", "corpus_id")
        .collect()
    }
    assert got == expected


def test_layoutless_sidecar_named_error(spark, sf_dir, tmp_path):
    """The normalized layout is the only srp layout: a sidecar without
    ``layout`` (hand-edited/foreign) fails probe and compaction with
    the expected layout named, instead of being read as payload-
    carrying postings."""
    import json
    import os

    corpus, _ = _corpus_and_batch(spark, sf_dir)
    small = corpus.orderBy("vec_id").limit(8)
    path = str(tmp_path / "idx")
    write_srp_index(
        small, path, dim=_DIM, design_threshold=THR, n_buckets=16, **GEO
    )
    meta_path = os.path.join(active_data_root(path), "_ann_meta.json")
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    del meta["layout"]
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="layout='normalized'"):
        batch_against_index(spark, small, path, threshold=None)
    with pytest.raises(ValueError, match="layout='normalized'"):
        compact_ann_index(spark, path)


def test_normalized_layout_pins(spark, sf_dir, tmp_path):
    """r10 layout switch (verdict #2): posting rows carry NO vector
    payload; vector rows live once per id under reserved negative pb
    directories; a delta append carries payload inline and compaction
    splits it into the two roles. Measured motivation in SCALE.md:
    7.9x smaller at rest, compact 2.8x faster, probe +16% at 1M."""
    import os

    from nursinghome_data_pipeline_spark.operators.embedding_index import (
        VEC_PB_BASE,
        _vec_pb_col,
    )

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    first = corpus.where(F.col("vec_id") % 2 == 0)
    rest = corpus.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "norm")
    write_srp_index(
        first, path, dim=_DIM, design_threshold=THR, n_buckets=16, **GEO
    )
    meta = load_ann_meta(path)
    assert meta["layout"] == "normalized"
    idx = spark.read.parquet(active_data_root(path))
    postings = idx.where(F.col("tbl").isNotNull())
    vec_rows = idx.where(F.col("tbl").isNull())
    # postings: payload stripped, pb >= 0, n_tables per vector
    assert postings.where(F.col("embedding").isNotNull()).count() == 0
    assert postings.where(F.col("pb") < 0).count() == 0
    n_first = first.count()
    assert postings.count() == n_first * GEO["n_tables"]
    # vector rows: exactly once per id, at the derived negative pb
    assert vec_rows.count() == n_first
    assert (
        vec_rows.where(F.col("embedding").isNull()).count() == 0
        and vec_rows.where(F.col("pb") > VEC_PB_BASE).count() == 0
    )
    bad_pb = vec_rows.where(
        F.col("pb") != _vec_pb_col("vec_id", int(meta["n_vec_buckets"]))
    )
    assert bad_pb.count() == 0
    # delta append: payload inline (single atomic file), probe sees it
    append_to_ann_index(rest, path)
    droot = active_data_root(path)
    delta = spark.read.option("basePath", droot).parquet(
        os.path.join(droot, "pb=-1")
    )
    assert delta.where(F.col("embedding").isNull()).count() == 0
    want = _pairs(
        batch_against_index(spark, batch, path, threshold=THR)
    )
    # compaction splits the delta: postings lose the payload, every
    # appended id gains exactly one vector row, probe unchanged
    # (post-compaction the data lives in the active generation — r12)
    compact_ann_index(spark, path)
    idx = spark.read.parquet(active_data_root(path))
    assert idx.where(
        F.col("tbl").isNotNull() & F.col("embedding").isNotNull()
    ).count() == 0
    assert (
        idx.where(F.col("tbl").isNull()).count() == corpus.count()
    )
    got = _pairs(
        batch_against_index(spark, batch, path, threshold=THR)
    )
    assert got == want and got


def test_fetch_regimes_emit_identical_pairs(spark, sf_dir, tmp_path):
    """r11 (verdict #3): past the flat-read crossover the probe
    fetches vectors straight from the flat relation; below it, from
    the vb-pruned vector directories. Force EACH regime over the same
    index and batch (via the crossover constant) — the pair sets,
    cosines included, must be identical, and the natural reading must
    match both."""
    from nursinghome_data_pipeline_spark.operators import similarity

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    path = str(tmp_path / "regimes")
    write_srp_index(
        corpus, path, dim=_DIM, design_threshold=THR, n_buckets=16, **GEO
    )

    def pairs():
        return _pairs(
            batch_against_index(spark, batch, path, threshold=THR)
        )

    natural = pairs()
    saved = similarity.FLAT_READ_CROSSOVER
    try:
        # crossover 2.0: no batch can match >200% of dirs — forces the
        # matched-dirs listing AND the vb-pruned vector fetch
        similarity.FLAT_READ_CROSSOVER = 2.0
        pruned = pairs()
        # crossover 0.0 (any match trips it): forces the flat root
        # read AND the flat-relation vector fetch
        similarity.FLAT_READ_CROSSOVER = 0.0
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", UserWarning)
            flat = pairs()
    finally:
        similarity.FLAT_READ_CROSSOVER = saved
    assert pruned == flat == natural
    assert natural, "empty pair set proves nothing"
