"""Dedup + similarity operator tests: planted exact/near duplicates and
ANN recall sanity on the embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_fingerprints,
    near_duplicate_pairs,
)
from nursinghome_data_pipeline_spark.operators.similarity import (
    active_data_root,
    knn_brute_force,
    knn_lsh,
)

from .near_dup_oracles import minhash_candidate_pairs


def _cc_labels(algorithm, nodes, edges, **kw):
    """(doc_id, component_id) from the named connected-components
    function: min-label propagation or the large-star/small-star one."""
    from nursinghome_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    if algorithm == "star":
        return connected_components_star(nodes, edges, **kw)[0]
    return connected_components(nodes, edges, **kw)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("garden", "meadow")),  # near duplicate of 0
        (3, "completely different content about spark query engines and "
            "distributed columnar execution at terabyte scale"),
        (4, "yet another unrelated document mentioning neither foxes nor "
            "dogs but plenty of parquet files and shuffle partitions"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    assert exact_dedup(docs, ["text"]).count() == 4
    fps = exact_dedup_fingerprints(docs)
    assert fps.count() == 4
    dup = fps.where(F.col("n_copies") == 2).first()
    assert dup.doc_id == 0  # deterministic: MIN(doc_id) is canonical


def test_lsh_candidates_and_verify(docs):
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs).collect()
    }
    assert (0, 1) in cands  # exact dup always collides
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_duplicate_pairs(docs, threshold=0.5).collect()
    }
    assert verified[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in verified  # near dup survives the jaccard gate
    assert all(3 not in pair and 4 not in pair for pair in verified)


def test_exact_jaccard_pair_join(docs):
    from nursinghome_data_pipeline_spark.operators.dedup import (
        jaccard_pair_join,
        near_duplicate_pairs,
    )

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pair_join(docs, threshold=0.5).collect()
    }
    assert exact[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in exact and (1, 2) in exact
    assert all(3 not in p and 4 not in p for p in exact)
    # LSH is a lossy candidate filter: its verified output must be a
    # subset of the exact join, with identical jaccard values
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_duplicate_pairs(docs, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert exact[pair] == pytest.approx(j)


def test_jaccard_threshold_outside_unit_interval_rejected(docs):
    """Every pair satisfies J ≥ 0 and none J > 1, so a threshold outside
    (0, 1] is a caller error, not an empty or partial answer."""
    from nursinghome_data_pipeline_spark.operators.dedup import (
        jaccard_pair_join,
    )

    for threshold in (0, -0.1, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            jaccard_pair_join(docs, threshold=threshold)
    # the upper bound itself is valid: only the exact duplicate clears it
    exact = jaccard_pair_join(docs, threshold=1.0).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in exact] == [(0, 1, 1.0)]


def test_connected_components_transitive_chain(spark):
    from nursinghome_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    # chain 0-1-2 plus pair 5-6: transitivity must group {0,1,2} even
    # though (0,2) is not an edge; 3,4 stay singletons
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    comp = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5}


def test_connected_components_nonconvergence_raises(spark):
    """A graph whose diameter exceeds max_iter must raise, not return
    silently-partial labels (mid-chain nodes would still carry a
    non-minimum component id)."""
    from nursinghome_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="connected_components_star"):
        connected_components(nodes, chain, max_iter=3)
    # the star variant labels the same chain in O(log n) alternations
    labels, rounds = connected_components_star(nodes, chain, max_iter=10)
    assert rounds <= 6
    assert {r.component_id for r in labels.collect()} == {0}
    # ... and raises too when its own round budget runs out: a 20-chain
    # with one round, and the chain 1-2-3 with none, used to return
    # wrong labels (node 3 → 1, node 3 → 2) without error
    n20 = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    chain20 = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(n20, chain20, max_iter=1)
    n3 = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    chain3 = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    for algorithm in ("label_propagation", "star"):
        with pytest.raises(RuntimeError, match="did not converge"):
            _cc_labels(algorithm, n3, chain3, max_iter=0)


def test_connected_components_edge_only_nodes_both_algorithms(spark):
    """Ids appearing only in the edge list are part of a component —
    they must be labeled and returned, not dropped, by BOTH algorithms.

    The node set {0, 8} with edges {(8,0), (8,4)} is also the
    regression case for the sum-only convergence test: round 1 drops
    8's label by 8 while adding edge-only node 4 at label 8, so
    sum(labels) is unchanged (8) even though labels moved — a
    sum-equality check without the node-count guard would stop a round
    early and leave 4 in component 8 instead of 0."""
    from nursinghome_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    nodes = spark.createDataFrame([(0,), (8,)], "doc_id long")
    edges = spark.createDataFrame([(8, 0), (8, 4)], "id_a long, id_b long")
    expect = {0: 0, 8: 0, 4: 0}
    lp = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    assert lp == expect
    star, _ = connected_components_star(nodes, edges)
    assert {r.doc_id: r.component_id for r in star.collect()} == expect
    # an edge-only node that IS its component's minimum
    nodes2 = spark.createDataFrame([(5,)], "doc_id long")
    edges2 = spark.createDataFrame([(5, 3)], "id_a long, id_b long")
    expect2 = {3: 3, 5: 3}
    lp2 = {
        r.doc_id: r.component_id
        for r in connected_components(nodes2, edges2).collect()
    }
    assert lp2 == expect2
    star2, _ = connected_components_star(nodes2, edges2)
    assert {r.doc_id: r.component_id for r in star2.collect()} == expect2


@pytest.mark.parametrize("algorithm", ["label_propagation", "star"])
@pytest.mark.parametrize(
    "node_ids, edge_list, want",
    [
        ([], [], {}),
        ([1, 2], [], {1: 1, 2: 2}),
        ([1], [], {1: 1}),
        ([1], [(1, 1)], {1: 1}),
        ([2], [(2, 2), (2, 1)], {1: 1, 2: 1}),
    ],
    ids=["empty_graph", "no_edges", "single_node", "self_loop", "self_loop_and_edge"],
)
def test_connected_components_edge_inputs(spark, algorithm, node_ids, edge_list, want):
    """Edge inputs pinned for both algorithms: an empty graph, isolated
    nodes, and self-loops, which add no neighbor."""
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    got = {
        r.doc_id: r.component_id
        for r in _cc_labels(algorithm, nodes, edges).collect()
    }
    assert got == want


def test_knn_brute_force_self_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("query_embedding")
    )
    top = knn_brute_force(emb, query, k=5, extra_cols=("label",)).collect()
    assert top[0].vec_id == 7  # the query itself ranks first…
    assert top[0].cosine_sim == pytest.approx(1.0)  # …at similarity 1
    sims = [r.cosine_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_knn_lsh_matches_bucketed_subset(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("query_embedding")
    )
    approx = knn_lsh(emb, query, k=5, dim=64, n_planes=4).collect()
    assert 1 <= len(approx) <= 5
    assert approx[0].vec_id == 7  # query shares its own bucket
    assert approx[0].cosine_sim == pytest.approx(1.0)


def test_lsh_probe_zero_flip_matches_engine_bucket(spark, sf_dir):
    # the single-probe bucket pick is driver-side; it must equal the
    # engine's bucket column for the same vector bit-for-bit, or the
    # probe scans the wrong bucket entirely
    from nursinghome_data_pipeline_spark.operators.similarity import (
        lsh_probe_buckets,
        random_projection_buckets,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = random_projection_buckets(
        emb.orderBy("vec_id").limit(20), dim=64, n_planes=8
    ).select("embedding", "bucket").collect()
    for r in rows:
        (probe,) = lsh_probe_buckets(
            r["embedding"], dim=64, n_planes=8, n_probe_buckets=1
        )
        assert probe == r["bucket"]


def test_lsh_multi_probe_recall_monotone(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("query_embedding")
    )
    exact = {r.vec_id for r in knn_brute_force(emb, query, k=10).collect()}

    def recall(nb: int) -> float:
        got = {
            r.vec_id
            for r in knn_lsh(
                emb, query, k=10, dim=64, n_planes=6, n_probe_buckets=nb
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4, r_all = recall(1), recall(4), recall(1 << 6)
    assert r1 <= r4 <= r_all
    assert r_all == 1.0  # probing every bucket IS brute force


def test_lsh_partitioned_index_matches_in_memory_plan(spark, sf_dir, tmp_path):
    """write_lsh_index + knn_index_probe must return exactly the
    in-memory knn_lsh results for the same planes/probes — routing,
    probe picks, and re-rank are shared code; only the filter's
    placement moves."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        knn_index_probe,
        write_lsh_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("query_embedding")
    )
    qvec = query.first()["query_embedding"]
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, path, dim=64, n_planes=5)
    for nb in (1, 3):
        mem = knn_lsh(
            emb, query, k=6, dim=64, n_planes=5, n_probe_buckets=nb
        ).collect()
        disk = knn_index_probe(spark, path, qvec, k=6, n_probe=nb).collect()
        assert [(r.vec_id, r.cosine_sim) for r in disk] == [
            (r.vec_id, r.cosine_sim) for r in mem
        ]


def test_lsh_partitioned_index_prunes_at_file_level(spark, sf_dir, tmp_path):
    import re

    from nursinghome_data_pipeline_spark.operators.similarity import (
        knn_index_probe,
        lsh_probe_buckets,
        write_lsh_index,
    )
    from nursinghome_data_pipeline_spark.plans import formatted_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.where(F.col("vec_id") == 7).first()["embedding"]
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, path, dim=64, n_planes=5)
    topk = knn_index_probe(spark, path, qvec, k=6, n_probe=2)
    plan = formatted_plan(topk)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "bucket" in pf[0], plan
    probes = set(
        lsh_probe_buckets(qvec, dim=64, n_planes=5, n_probe_buckets=2)
    )
    touched = {
        int(re.search(r"bucket=(\d+)", r[0]).group(1))
        for r in spark.read.parquet(active_data_root(path))
        .where(F.col("bucket").isin(list(probes)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert touched and touched <= probes, (touched, probes)


def test_knn_lsh_default_path_is_fully_lazy(spark, sf_dir, monkeypatch):
    """The r4 bench regression: knn_lsh ran an eager query.first() job
    at DataFrame-CONSTRUCTION time, paid on every invocation even at
    the default single probe. Pin the fix: with a DataFrame query and
    n_probe_buckets=1, building the plan must trigger no action at
    all (first/collect/take forbidden), and the result must still be
    the query's own bucket, exactly."""
    from pyspark.sql import DataFrame

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("query_embedding")
    )

    def _boom(self, *a, **kw):  # pragma: no cover - failure path
        raise AssertionError("eager action during knn_lsh plan construction")

    monkeypatch.setattr(DataFrame, "first", _boom)
    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "take", _boom)
    lazy = knn_lsh(emb, query, k=5, dim=64, n_planes=4)
    monkeypatch.undo()
    rows = lazy.collect()
    assert rows[0].vec_id == 7
    assert rows[0].cosine_sim == pytest.approx(1.0)


def test_knn_lsh_literal_query_matches_dataframe_query(spark, sf_dir):
    """Literal-vector and DataFrame overloads must return identical
    rows AND identical doubles at single- and multi-probe — the three
    internal paths (lazy join, literal IN, collect-once delegate)
    share routing and bit-equal cosine folds."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("query_embedding")
    )
    qvec = [float(v) for v in query.first()["query_embedding"]]
    for nb in (1, 3):
        via_df = knn_lsh(
            emb, query, k=6, dim=64, n_planes=5, n_probe_buckets=nb
        ).collect()
        via_lit = knn_lsh(
            emb, qvec, k=6, dim=64, n_planes=5, n_probe_buckets=nb
        ).collect()
        assert [(r.vec_id, r.cosine_sim) for r in via_lit] == [
            (r.vec_id, r.cosine_sim) for r in via_df
        ]


def test_ivf_probe_cells_zero_norm_seed_sorts_last():
    """Engine cosine yields NULL for a zero-norm side; the driver twin
    must not ZeroDivisionError — a zero-norm seed (or query) scores
    -inf and loses every probe slot it doesn't get by default."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        ivf_probe_cells,
    )

    seeds = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    assert ivf_probe_cells(seeds, [1.0, 1.0], n_probe=2) == [2, 3]
    # zero-norm QUERY: every seed scores -inf; ties break to small ids
    assert ivf_probe_cells(seeds, [0.0, 0.0], n_probe=2) == [1, 2]


def test_lsh_probe_all_buckets_equals_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_embedding")
    )
    exact = knn_brute_force(emb, query, k=7).collect()
    full = knn_lsh(
        emb, query, k=7, dim=64, n_planes=4, n_probe_buckets=1 << 4
    ).collect()
    assert [(r.vec_id, r.cosine_sim) for r in full] == [
        (r.vec_id, r.cosine_sim) for r in exact
    ]


def test_passage_dedup_drops_cross_doc_boilerplate(spark):
    from nursinghome_data_pipeline_spark.operators.dedup import passage_dedup

    boiler = "x" * 100  # exactly one window of repeated boilerplate
    rows = [
        (0, boiler + "unique-zero-" + "a" * 88),
        (1, boiler + "unique-one-" + "b" * 89),
        (2, "entirely distinct content " + "c" * 74),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in passage_dedup(df, window_chars=100).collect()}
    # doc 0 keeps both passages (first occurrence of the boilerplate)
    assert out[0].n_kept == 2 and out[0].chars_dropped == 0
    # doc 1 loses exactly the 100-char boilerplate window
    assert out[1].n_kept == 1 and out[1].chars_dropped == 100
    assert out[2].n_kept == out[2].n_passages
    # totals conserved
    assert out[1].chars_total == len(rows[1][1])


def test_passage_dedup_winner_is_offset_deterministic(spark):
    from nursinghome_data_pipeline_spark.operators.dedup import passage_dedup

    # same passage twice WITHIN one doc: first offset wins, second drops
    text = ("y" * 100) * 2
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    r = passage_dedup(df, window_chars=100).collect()[0]
    assert r.n_passages == 2 and r.n_kept == 1 and r.chars_dropped == 100


def test_star_cc_long_chain_bounded_rounds(spark):
    # adversarial long chain: min-label propagation moves the label one
    # hop per round (O(diameter) = 127 rounds here); the alternating
    # large-star/small-star variant must solve it in O(log n) rounds
    # (r2 verdict item #7).
    from nursinghome_data_pipeline_spark.operators.dedup import (
        connected_components_star,
    )

    n = 128
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels, rounds = connected_components_star(nodes, edges)
    got = {r.doc_id: r.component_id for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12, f"star CC took {rounds} rounds on a 128-chain"


def test_star_cc_matches_label_propagation_on_clusters(spark):
    # mixed small clusters + singletons: both algorithms must agree
    from nursinghome_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (4, 7), (7, 9), (5, 6)],
        "id_a long, id_b long",
    )
    lp = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    star, _ = connected_components_star(nodes, edges)
    assert {r.doc_id: r.component_id for r in star.collect()} == lp


def test_lsh_bands_must_divide_n_hashes(spark):
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_dedup_index,
    )

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide n_hashes"):
        near_duplicate_pairs(docs, n_hashes=16, bands=5)
    # a non-positive band count is named, not a ZeroDivisionError from
    # the divisibility check
    for bands in (0, -4):
        with pytest.raises(ValueError, match="bands must be >= 1"):
            near_duplicate_pairs(docs, n_hashes=16, bands=bands)
        with pytest.raises(ValueError, match="bands must be >= 1"):
            write_dedup_index(docs, "/tmp/never-written", bands=bands)


def test_zero_norm_embedding_scores_null_not_nan(spark):
    # an all-zero embedding must score NULL (sorted last, fails any
    # >= threshold filter) — unguarded 0/0 is NaN, which Spark orders
    # ABOVE every real number and would win every top-k
    from nursinghome_data_pipeline_spark.operators.similarity import (
        embedding_near_duplicate_pairs,
        knn_brute_force,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "query_embedding array<float>")
    rows = knn_brute_force(df, q, k=3).collect()
    assert [r.vec_id for r in rows] == [2, 3, 1]
    assert rows[-1].cosine_sim is None
    pairs = embedding_near_duplicate_pairs(
        df, dim=2, threshold=0.5, n_planes=2
    ).collect()
    assert all(1 not in (r.id_a, r.id_b) for r in pairs)


def test_connected_components_survives_lost_observation(spark, monkeypatch):
    """Observed metrics ride the async SQL listener bus, which can drop
    SQLExecutionEnd events under load — ``Observation.get`` then blocks
    forever. The bounded-wait fallback must degrade to one explicit
    aggregate job (correct labels, no hang) when metrics never arrive,
    for both algorithms (both run their rounds through
    ``functions/obs.observed_checkpoint``)."""
    import pyspark.sql

    from nursinghome_data_pipeline_spark.functions import obs

    class _DeafObservation(pyspark.sql.Observation):
        @property
        def get(self):  # simulate a dropped listener event: never returns
            import time

            time.sleep(3600)

    monkeypatch.setattr(obs, "DEFAULT_TIMEOUT_S", 0.25)
    monkeypatch.setattr(obs, "Observation", _DeafObservation)
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    for algorithm in ("label_propagation", "star"):
        comp = {
            r.doc_id: r.component_id
            for r in _cc_labels(algorithm, nodes, edges).collect()
        }
        assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}, algorithm


def test_append_to_ann_index_routes_with_sidecar_geometry(spark, sf_dir, tmp_path):
    """Incremental ingest: vectors appended later must route with the
    INDEX's own geometry (sidecar planes/seeds, never recomputed) so
    probes see old+new as one corpus. LSH: appended index must equal a
    full rebuild exactly (planes are seed-deterministic). IVF: an
    appended vector identical to the query must come back rank-1."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        append_to_ann_index,
        fixed_ivf_seeds,
        knn_index_probe,
        write_ivf_index,
        write_lsh_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]

    lsh_inc = str(tmp_path / "lsh_inc")
    write_lsh_index(old, lsh_inc, dim=64, n_planes=5)
    append_to_ann_index(new, lsh_inc)
    lsh_full = str(tmp_path / "lsh_full")
    write_lsh_index(emb, lsh_full, dim=64, n_planes=5)
    got = knn_index_probe(spark, lsh_inc, qvec, k=6, n_probe=3).collect()
    want = knn_index_probe(spark, lsh_full, qvec, k=6, n_probe=3).collect()
    assert [(r.vec_id, r.cosine_sim) for r in got] == [
        (r.vec_id, r.cosine_sim) for r in want
    ]
    # vec_id 7 is odd — it arrived via append and must rank first
    assert got[0].vec_id == 7 and got[0].cosine_sim == pytest.approx(1.0)

    ivf_inc = str(tmp_path / "ivf_inc")
    seeds = fixed_ivf_seeds(old, n_seeds=4)
    write_ivf_index(old, ivf_inc, seeds)
    append_to_ann_index(new, ivf_inc)
    top = knn_index_probe(spark, ivf_inc, qvec, k=5, n_probe=4).collect()
    assert top[0].vec_id == 7 and top[0].cosine_sim == pytest.approx(1.0)
    # count integrity: append added rows, replaced nothing
    assert spark.read.parquet(active_data_root(ivf_inc)).count() == emb.count()


def test_compact_ann_index_bounds_files_preserving_results(spark, sf_dir, tmp_path):
    """Lifecycle close-out: append batches fragment the probed
    directories; compaction rewrites them bounded, preserving rows,
    sidecar, and probe results exactly (committed as the next
    generation, like every build)."""
    import glob as _glob
    import os as _os

    from nursinghome_data_pipeline_spark.operators.similarity import (
        append_to_ann_index,
        compact_ann_index,
        knn_index_probe,
        load_ann_meta,
        write_lsh_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "lsh_lifecycle")
    write_lsh_index(emb.where(F.col("vec_id") % 3 == 0), path, dim=64, n_planes=4)
    append_to_ann_index(emb.where(F.col("vec_id") % 3 == 1), path)
    append_to_ann_index(emb.where(F.col("vec_id") % 3 == 2), path)
    meta_before = load_ann_meta(path)
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    before = knn_index_probe(spark, path, qvec, k=6, n_probe=3).collect()
    frag = max(
        len([f for f in _os.listdir(d) if f.endswith(".parquet")])
        for d in _glob.glob(_os.path.join(active_data_root(path), "bucket=*"))
    )
    assert frag >= 2  # the appends really fragmented some directory
    gen1 = active_data_root(path)
    n_files = compact_ann_index(spark, path, files_per_partition=1)
    assert n_files <= 1 << 4
    droot = active_data_root(path)  # the committed generation (r12)
    assert droot != gen1
    for d in _glob.glob(_os.path.join(droot, "bucket=*")):
        files = [f for f in _os.listdir(d) if f.endswith(".parquet")]
        assert len(files) <= 1, (d, files)
    assert load_ann_meta(path) == meta_before  # sidecar survives the flip
    after = knn_index_probe(spark, path, qvec, k=6, n_probe=3).collect()
    assert [(r.vec_id, r.cosine_sim) for r in after] == [
        (r.vec_id, r.cosine_sim) for r in before
    ]
    assert spark.read.parquet(droot).count() == emb.count()


def test_knn_lsh_dataframe_query_contract_lazy_path(spark, sf_dir):
    """One-row contract on the lazy path: extra query rows are ignored
    (limit(1), same unordered-first semantics as multi-probe), a query
    also carrying the candidate vec_col name doesn't collide, and an
    empty query yields an empty top-k (no job exists to raise from)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # multi-row query: must score against exactly ONE query vector,
    # so the self-match at similarity 1.0 appears exactly once
    multi = emb.where(F.col("vec_id") < 3).select(
        F.col("embedding").alias("query_embedding")
    )
    rows = knn_lsh(emb, multi, k=8, dim=64, n_planes=3).collect()
    assert len([r for r in rows if r.cosine_sim > 0.999999]) == 1
    assert len({r.vec_id for r in rows}) == len(rows)  # no blended dups
    # query carrying BOTH names: select-then-alias must not collide
    clashing = emb.where(F.col("vec_id") == 7).select(
        "embedding", F.col("embedding").alias("query_embedding")
    )
    top = knn_lsh(emb, clashing, k=3, dim=64, n_planes=3).collect()
    assert top[0].vec_id == 7
    # empty query: empty result, not a crash
    empty = emb.where(F.col("vec_id") < 0).select(
        F.col("embedding").alias("query_embedding")
    )
    assert knn_lsh(emb, empty, k=3, dim=64, n_planes=3).count() == 0


def test_lsh_bucket_structs_col_backtick_rejected_and_zero_planes_literal(spark):
    """r10 (ADVICE): the bucket expression embeds vec_col in SQL text,
    so backticked names must reject (injection/corruption guard), and
    n_planes=0 must return a literal 0 bucket instead of an unparseable
    empty plane literal."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        lsh_bucket_structs_col,
        random_projection_buckets,
    )

    with pytest.raises(ValueError, match="backtick"):
        lsh_bucket_structs_col("emb`x", dim=4, n_planes=2, n_tables=1)
    df = random_projection_buckets(
        spark.createDataFrame(
            [(1, [1.0, -2.0]), (2, [0.5, 3.0])], "id long, emb array<double>"
        ),
        vec_col="emb",
        dim=2,
        n_planes=0,
    )
    rows = df.select("id", "bucket").collect()
    assert {(r["id"], r["bucket"]) for r in rows} == {(1, 0), (2, 0)}
    assert dict(df.dtypes)["bucket"] == "bigint"
