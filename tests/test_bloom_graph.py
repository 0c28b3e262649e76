"""Unit + plan tests for the round-2 widening operators: Bloom
semi-join reduction, bounded BFS, and the skyline/reservoir window
shapes (their value parity is covered by test_oracle_parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark import registry
from nursinghome_data_pipeline_spark.operators.bloom import (
    bloom_prefilter,
    bloom_semi_join,
    build_bloom,
)
from nursinghome_data_pipeline_spark.operators.graph import bfs_hops
from nursinghome_data_pipeline_spark.plans import formatted_plan


def test_bloom_no_false_negatives(spark):
    members = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = build_bloom(members, "k", n_bits=1 << 12, n_hashes=4)
    probe = spark.range(0, 500).select(F.col("id").alias("k"))
    kept = bloom_prefilter(probe, "k", bloom, n_bits=1 << 12, n_hashes=4)
    # every true member must survive the prefilter — bloom guarantees
    # zero false negatives
    assert kept.count() == 500


def test_bloom_prunes_most_non_members(spark):
    members = spark.range(0, 100).select(F.col("id").alias("k"))
    bloom = build_bloom(members, "k", n_bits=1 << 14, n_hashes=4)
    probe = spark.range(10_000, 20_000).select(F.col("id").alias("k"))
    kept = bloom_prefilter(probe, "k", bloom, n_bits=1 << 14, n_hashes=4)
    # 100 keys in 2^14 bits, k=4 → fpp well under 1%; allow 5% slack
    assert kept.count() < 500


def test_bloom_semi_join_is_exact(spark):
    big = spark.range(0, 2000).select((F.col("id") % 700).alias("k"), "id")
    small = spark.range(0, 300).select((F.col("id") * 2).alias("k"))
    got = bloom_semi_join(big, "k", small, "k", n_bits=1 << 12)
    exp = big.join(small.distinct(), on="k", how="left_semi")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_bloom_membership_is_retry_deterministic(spark):
    """Recomputing the bitmap reproduces identical words/masks — the
    bit_or aggregate is a pure function of the data (no
    monotonically_increasing_id / rand anywhere)."""
    members = spark.range(0, 256).select(F.col("id").alias("k"))
    a = build_bloom(members, "k", n_bits=1 << 12).orderBy("word").collect()
    b = build_bloom(members, "k", n_bits=1 << 12).orderBy("word").collect()
    assert a == b


def test_bfs_hops_path_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["u", "v"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_min_hops_over_multiple_paths(spark):
    # diamond: 1-2-4 and 1-3-4 plus shortcut 1-4: node 4 is 1 hop away
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4), (1, 4)], ["u", "v"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 1}


@pytest.mark.parametrize(
    "edge_list, seed_ids, max_hops, want",
    [
        ([], [1], 3, {1: 0}),
        ([(2, 3)], [1], 3, {1: 0}),
        ([(1, 1)], [1], 3, {1: 0}),
        ([(1, 1), (1, 2)], [1], 3, {1: 0, 2: 1}),
        ([(1, 2)], [1], 0, {1: 0}),
        ([(1, 2)], [], 3, {}),
    ],
    ids=[
        "empty_graph",
        "seed_without_edges",
        "self_loop",
        "self_loop_and_edge",
        "max_hops_0",
        "no_seeds",
    ],
)
def test_bfs_hops_edge_inputs(spark, edge_list, seed_ids, max_hops, want):
    """An empty graph or a seed with no edges gives an empty first
    frontier: the seed alone, at hop 0, whatever max_hops is."""
    edges = spark.createDataFrame(edge_list, "u long, v long")
    seeds = spark.createDataFrame([(i,) for i in seed_ids], "node long")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=max_hops).collect()
    }
    assert got == want


def test_reservoir_plan_uses_window_group_limit(spark, sf_dir):
    plan = formatted_plan(
        registry.queries()["reservoir_sample_orders"](spark, sf_dir)
    )
    # rank-filter must prune inside the shuffle, not sort whole groups
    assert plan.count("WindowGroupLimit") >= 2


def test_bloom_query_broadcasts_bitmap(spark, sf_dir):
    plan = formatted_plan(
        registry.queries()["bloom_semi_join_orders"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pareto_frontier_is_undominated(spark, sf_dir):
    rows = registry.queries()["pareto_frontier_orders"](spark, sf_dir).collect()
    by_prio: dict[str, list] = {}
    for r in rows:
        by_prio.setdefault(r["o_orderpriority"], []).append(r)
    for grp in by_prio.values():
        for a in grp:
            for b in grp:
                if a["o_orderkey"] == b["o_orderkey"]:
                    continue
                dominated = (
                    b["o_totalprice"] <= a["o_totalprice"]
                    and b["o_orderdate"] <= a["o_orderdate"]
                    and (
                        b["o_totalprice"] < a["o_totalprice"]
                        or b["o_orderdate"] < a["o_orderdate"]
                    )
                )
                assert not dominated, f"{a} dominated by {b}"
