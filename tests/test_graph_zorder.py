"""Triangle counting (operators/graph.py) and Morton keys
(functions/zorder.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.functions.zorder import (
    morton2_col,
    oracle_morton2,
)
from nursinghome_data_pipeline_spark.operators.graph import (
    cooccurrence_edges,
    triangle_stats,
)


def morton2_py(x: int, y: int, *, bits: int = 16) -> int:
    """Oracle: bit-interleaved Morton key, one bit at a time."""
    x %= 1 << bits
    y %= 1 << bits
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def _stats(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "u long, v long")
    return triangle_stats(edges).collect()[0]


def test_triangle_known_graph(spark):
    # K4 (complete graph on 4 nodes): 4 triangles, 12 wedges
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = _stats(spark, k4)
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (4, 6, 4, 12)
    assert r.clustering == 1.0


def test_triangle_with_hub(spark):
    # star (hub 0 to 1..5) has no triangle; adding edge (1,2) closes one
    star = [(0, i) for i in range(1, 6)]
    assert _stats(spark, star).n_triangles == 0
    r = _stats(spark, star + [(1, 2)])
    assert r.n_triangles == 1
    # wedge count: hub degree 5 -> C(5,2)=10, nodes 1,2 degree 2 -> 1 each
    assert r.n_wedges == 12


def test_triangle_free_graph_null_clustering(spark):
    # a single edge and an edge-free graph: no wedge at all (the
    # edge-free graph's n_wedges is 0, not NULL, like the oracle's)
    for edge_list in ([(0, 1)], []):
        r = _stats(spark, edge_list)
        assert r.n_edges == len(edge_list)
        assert r.n_triangles == 0 and r.n_wedges == 0
        assert r.clustering is None


def test_triangle_large_path_matches_small_and_releases_caches(spark, monkeypatch):
    """r13: above TRIANGLE_CACHE_MIN_EDGES the operator switches to
    join-key-partitioned caches (deg + oriented list). The two paths
    must agree bit-for-bit on the same graph, and the large path must
    unpersist both caches before returning (long-lived sessions run
    this per batch — a leaked cache entry per call would accumulate)."""
    import numpy as np

    from nursinghome_data_pipeline_spark.operators import graph

    rng = np.random.default_rng(13)
    edge_list = list(
        {
            (int(a), int(b)) if a < b else (int(b), int(a))
            for a, b in rng.integers(0, 60, size=(300, 2))
            if a != b
        }
    )
    small = _stats(spark, edge_list)  # default threshold: checkpoint path
    # the SQL CacheManager tracks df.persist() entries (NOT checkpoint
    # RDDs, which are the materialized results' own storage)
    cm = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cm.isEmpty()
    monkeypatch.setattr(graph, "TRIANGLE_CACHE_MIN_EDGES", 1)
    large = _stats(spark, edge_list)  # forced cache path
    assert tuple(small) == tuple(large)
    if was_empty:
        assert cm.isEmpty(), (
            "triangle_stats leaked df caches on the large path"
        )


@pytest.mark.parametrize("max_iter", [0, 4])
def test_pagerank_releases_caches(spark, max_iter):
    """r13: pagerank persists vertices/out_deg per call and must
    release them before returning (the result is eagerly checkpointed,
    so the unpersist can never expose a recompute) — on every path,
    ``max_iter=0`` included: its uniform ranks used to be a lazy
    relation over the released caches."""

    from nursinghome_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3), (1, 3)], "u long, v long"
    )
    tracker = spark.sparkContext.statusTracker()

    def _collect(df) -> tuple[list, int]:
        # max job id, not len(): the tracker evicts old ids late in a
        # long session (see tests/test_pagerank.py)
        before = max(tracker.getJobIdsForGroup(None) or [-1])
        rows = df.collect()
        return rows, max(tracker.getJobIdsForGroup(None) or [-1]) - before

    cm = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cm.isEmpty()
    ranks = pagerank(edges, max_iter=max_iter)
    if was_empty:
        assert cm.isEmpty(), "pagerank leaked df caches"
    # the returned relation is materialized — collect works post-release
    # and re-reads the checkpoint: no more jobs than the max_iter=4
    # result costs (a lazy relation re-runs the vertex aggregate)
    rows, jobs = _collect(ranks)
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9
    if max_iter == 0:
        assert all(r["rank"] == pytest.approx(0.25, abs=1e-15) for r in rows)
    assert jobs <= _collect(pagerank(edges, max_iter=4))[1]


@pytest.mark.parametrize(
    "edge_list, directed, want",
    [
        ([], False, {}),
        ([(1, 1)], False, {1: 1.0}),
        ([(1, 1)], True, {1: 1.0}),
    ],
    ids=["empty_graph", "self_loop", "self_loop_directed"],
)
def test_pagerank_edge_inputs(spark, edge_list, directed, want):
    from nursinghome_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(edge_list, "u long, v long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iter=3, directed=directed).collect()
    }
    assert got == pytest.approx(want, abs=1e-15)


def test_cooccurrence_edges_dedup_and_order(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (3, "a"), (3, "b"), (4, "b"), (None, "a")],
        "node long, b string",
    )
    got = sorted(
        (r.u, r.v)
        for r in cooccurrence_edges(df, node_col="node", bucket_cols=["b"]).collect()
    )
    assert got == [(1, 2), (1, 3), (2, 3), (3, 4)]


def test_morton_differential_vs_python(spark):
    vals = [(x, y) for x in [0, 1, 2, 3, 7, 255, 65535, 65536, -1] for y in [0, 1, 5, 1024, -7]]
    df = spark.createDataFrame(vals, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", morton2_col("x", "y").alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == morton2_py(x, y), (x, y, z)


def test_morton_duckdb_matches_spark(spark):
    import duckdb

    vals = [(x, y) for x in [0, 3, 9, 100, 65535, -4] for y in [0, 2, 77, 9999, -1]]
    df = spark.createDataFrame(vals, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", morton2_col("x", "y").alias("z")).collect()
    }
    con = duckdb.connect()
    sql = f"SELECT x, y, {oracle_morton2('x', 'y')} AS z FROM t"
    con.sql("CREATE TABLE t (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", vals)
    for x, y, z in con.sql(sql).fetchall():
        assert got[(x, y)] == z, (x, y)


def test_morton_locality(spark):
    """Points adjacent in both dims land in the same 4x4 z-block:
    the prefix of the key is a spatial bucket (the pruning property)."""
    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select("x", "y", (morton2_col("x", "y") / 16).cast("long").alias("blk")).collect()
    blocks = {(r.x, r.y): r.blk for r in rows}
    # all 16 points of each aligned 4x4 tile share one block id
    for bx in range(0, 8, 4):
        for by in range(0, 8, 4):
            tile = {blocks[(x, y)] for x in range(bx, bx + 4) for y in range(by, by + 4)}
            assert len(tile) == 1
