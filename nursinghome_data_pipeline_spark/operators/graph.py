"""Graph analytics over DataFrame edge lists.

Dedup resolution already ships the first graph operator (connected
components, ``operators/dedup.py:connected_components``). This module
adds the counting side: co-occurrence graph construction and exact
triangle counting / global clustering coefficient — the standard
structure metrics for interaction graphs (user-user co-activity here;
citation/link graphs in corpus curation).

Scale design — triangle counting is join-order sensitive:

- Edges are ORIENTED by a total order on (degree, id): every edge
  points from its lower-degree endpoint to its higher-degree one.
  Each triangle {a,b,c} then materializes exactly once — as the wedge
  at its lowest-ranked vertex plus one closing-edge lookup — and,
  more importantly, wedge fan-out per vertex is bounded by its
  OUT-degree under the orientation, which degree-ordering caps at
  O(sqrt(|E|)) for any graph (arboricity bound). A hub with degree d
  contributes O(d) oriented wedges instead of O(d²) — the difference
  between feasible and not on power-law graphs at 100 TB.
- All arithmetic is exact integers (counts, degree keys), so the
  DuckDB oracle mirrors the computation term-for-term; the clustering
  coefficient is one final division of exact integers.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import both_directions


def cooccurrence_edges(
    df: DataFrame, *, node_col: str, bucket_cols: list[str]
) -> DataFrame:
    """Distinct undirected edges (u < v) between nodes sharing a bucket.

    The self-join shuffles on the bucket key, so the pair blow-up is
    sum over buckets of C(n_b, 2) — bounded when buckets are fine-
    grained (callers pick bucket columns accordingly; the registry
    query buckets by (event_type, k, hour) — max ~6 users per bucket
    on the test corpus). Node/bucket NULLs are dropped; (node, bucket)
    memberships dedup BEFORE the join so a node appearing many times
    in one bucket costs one posting, same shape as the dedup inverted
    index.
    """
    n = df.select(F.col(node_col).alias("node"), *bucket_cols).where(
        F.col(node_col).isNotNull()
    )
    for c in bucket_cols:
        n = n.where(F.col(c).isNotNull())
    n = n.dropDuplicates(["node", *bucket_cols])
    right = n.select(F.col("node").alias("node_b"), *bucket_cols)
    return (
        n.join(right, on=bucket_cols)
        .where(F.col("node") < F.col("node_b"))
        .select(F.col("node").alias("u"), F.col("node_b").alias("v"))
        .distinct()
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, *, max_hops: int) -> DataFrame:
    """Min-hop distance from a seed set, bounded frontier expansion.

    ``edges``: undirected (u, v) pairs, each once. ``seeds``: (node)
    rows, distance 0. Returns (node, hops) for every node reachable in
    ≤ ``max_hops`` — the iterative-join primitive under k-hop feature
    extraction and neighborhood sampling.

    Scale design: one unrolled plan, no per-hop barrier. Level k is
    ``distinct(level_{k-1} ⋈ bidir).dst`` — every node at the end of a
    walk of length exactly k — and the answer is ``min(hops)`` over the
    union of levels 0..max_hops. The minimum over walks of length ≤ k
    IS the BFS distance, so no anti-join against a visited set is
    needed, and all arithmetic is exact integers (the DuckDB
    recursive-CTE oracle matches bit-for-bit). The LOGICAL plan grows
    O(max_hops²) (level k embeds levels 0..k-1), but EXECUTION is
    O(max_hops): each level's distinct exchange is one shuffle stage
    that every later level and the union share through exchange reuse.
    The join uses the bidirectional edge list, so undirected adjacency
    needs no second join.

    Measured (``bfs_reachability_events`` at the nhbench corpus
    geometry, 10k events, max_hops=3, warm, shared 4-core host,
    pyspark 4.1.2; result hash identical): this form 17 jobs, 1.29 s.
    At sf0.1 (1,500 nodes reached, ``local[4]``, 3 interleaved process
    pairs × 3 warm runs) it is 17 jobs / 17 tasks against 27 / 33 and
    2.56 s median against 3.74 s: on this undirected graph level k
    holds level k-2 again (walk out and back), so levels are balls
    rather than shells, and the removed barriers still outweigh the
    larger levels. Rejected: the former per-hop shape — anti-join
    against the visited set plus a lazy ``localCheckpoint`` per hop —
    26 jobs, 1.65 s; BFS on observed checkpoints with a frontier-count
    early stop, 26 jobs, ~1.95 s; one Spark 4.1 ``WITH RECURSIVE``
    query with ``SELECT DISTINCT`` per hop, 33 jobs, 1.7 s.
    """
    # materialize the adjacency ONCE: every level joins against it, so
    # without this the upstream edge-construction subtree re-executes
    # per level. Symmetrization is a map-side explode — one pass over
    # the (expensive — cooccurrence join) edge subtree instead of a
    # union that references it twice inside the checkpoint job.
    #
    # r13 measured rejection (§2.4 / CC's repartition+persist pattern):
    # the adjacency is deliberately NOT cached-partitioned here. The
    # executed plans show every level's frontier join is a
    # BroadcastHashJoin (the frontier side is small and AQE broadcasts
    # it), so the adjacency is STREAMED per level, never shuffled —
    # there is no e-side exchange to elide, unlike
    # connected_components, whose label side is |V|-sized and joins e
    # via a shuffle. A repartition("src")+persist variant was built and
    # measured: it ADDED one full shuffle of the adjacency plus a
    # per-level columnar-cache decompression where the checkpoint
    # streams raw blocks — interleaved probe at 900k edges: wall
    # 5.2/5.8 s (checkpoint) vs 8.9/9.3 s (cache).
    bidir = both_directions(edges, "u", "v").localCheckpoint(eager=True)
    level = seeds.select(F.col("node").cast("long").alias("src")).distinct()
    levels = [level.select(F.col("src").alias("node"), F.lit(0).alias("hops"))]
    for hop in range(1, max_hops + 1):
        # joined by NAME: every level after the first carries bidir in
        # its own lineage, so a bidir["src"] reference would be an
        # ambiguous self-join
        level = level.join(bidir, "src").select(F.col("dst").alias("src")).distinct()
        levels.append(level.select(F.col("src").alias("node"), F.lit(hop).alias("hops")))
    return functools.reduce(DataFrame.unionAll, levels).groupBy("node").agg(
        F.min("hops").cast("int").alias("hops")
    )


#: triangle_stats switches from checkpoint-and-rescan to partitioned
#: caches at this edge count. Below it the wedge join is broadcast-
#: sized and fixed costs dominate: interleaved A/B at the 14k-edge
#: bench graph read the cached shape ~10% SLOWER in every pair (cache
#: build + eager barriers buying nothing — AQE already broadcasts).
#: Above it the cached shape removes two of the three degree passes and
#: both wedge-side exchanges of the oriented list (−58% shuffle bytes
#: at 900k edges), the term that grows with |E| while the overhead
#: stays constant. Same size-driven crossover discipline as
#: similarity.crossover_flat_read.
TRIANGLE_CACHE_MIN_EDGES = 500_000


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient.

    ``edges``: one row per undirected edge, columns (u, v), u != v,
    each pair once. Returns one row: n_nodes, n_edges, n_wedges,
    n_triangles, clustering (= 3*triangles / wedges, NULL when the
    graph has no wedge).
    """
    # the edge list feeds degree counting, orientation, and the edge
    # count — materialize once instead of re-running its (possibly
    # expensive) construction subtree three times. LAZY checkpoint +
    # explicit count(): the count both materializes the checkpoint
    # (the same single job an eager checkpoint runs internally) and
    # yields |E| for the size crossover — no extra job.
    edges = edges.localCheckpoint(eager=False)
    large = edges.count() >= TRIANGLE_CACHE_MIN_EDGES
    # r13: deg is referenced THREE times (the u-side and v-side
    # orientation joins plus the wedge-count aggregate); uncached, each
    # reference re-ran the explode + groupBy over the full edge list
    # (3 passes, 3 shuffles). One cached |V|-row relation instead —
    # when the graph is big enough for the passes to outweigh the
    # cache build.
    deg = (
        edges.select(
            F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    if large:
        deg = deg.persist()
    # degree-dominant total order as a (d, node) STRUCT — lexicographic
    # comparison, valid for ANY 64-bit node id (a deg*2^31+node pack
    # overflows bigint or leaks id bits into the degree field for
    # hash/snowflake ids ≥ 2^31, silently breaking the orientation)
    okey = deg.select(
        "node", F.struct(F.col("d"), F.col("node").alias("n")).alias("ok")
    )
    # orient every edge from lower (degree, id) to higher; carry the
    # destination's order key so wedges enumerate each unordered
    # {dst1, dst2} pair exactly once
    e = (
        edges.join(
            okey.select(F.col("node").alias("u"), F.col("ok").alias("ku")), "u"
        )
        .join(
            okey.select(F.col("node").alias("v"), F.col("ok").alias("kv")), "v"
        )
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
            F.greatest("ku", "kv").alias("dst_k"),
        )
    )
    # the oriented list drives both sides of the wedge join plus the
    # closing-edge probe — three references, one materialization.
    # r13 (§2.4), large graphs: repartition(src) + persist instead of
    # localCheckpoint — the cached plan keeps hashpartitioning(src),
    # which satisfies the wedge self-join's clustering on BOTH sides
    # (its equi-key is src), so the two wedge-side exchanges of the
    # oriented list are elided (plan-verified: SortMergeJoin 4 → 2,
    # Sort 8 → 4, Exchange 10 → 8 at 900k edges); a checkpoint's
    # LogicalRDD forgot the partitioning and re-shuffled both. The
    # single-row result is eagerly checkpointed so both caches can be
    # released before returning. Small graphs keep the r12 checkpoint
    # shape (see TRIANGLE_CACHE_MIN_EDGES).
    e = e.repartition("src").persist() if large else e.localCheckpoint(
        eager=True
    )
    try:
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        tri_count = (
            e1.join(
                e2,
                (F.col("e1.src") == F.col("e2.src"))
                & (F.col("e1.dst_k") < F.col("e2.dst_k")),
            )
            .join(
                e3,
                (F.col("e3.src") == F.col("e1.dst"))
                & (F.col("e3.dst") == F.col("e2.dst")),
            )
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        counts = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            # an edge-free graph has no degree rows: 0 wedges, not NULL
            F.coalesce(
                (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2)).cast("bigint"),
                F.lit(0),
            ).alias("n_wedges"),
        )
        n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
        result = (
            counts.crossJoin(n_edges)
            .crossJoin(tri_count)
            .select(
                "n_nodes",
                "n_edges",
                "n_wedges",
                "n_triangles",
                (
                    (F.col("n_triangles") * F.lit(3)).cast("double")
                    / F.nullif(F.col("n_wedges"), F.lit(0)).cast("double")
                ).alias("clustering"),
            )
        )
        if large:
            # materialize before the finally-unpersist: a lazy result
            # would silently re-run the wedge join cache-less per
            # downstream action
            result = result.localCheckpoint(eager=True)
        return result
    finally:
        if large:
            e.unpersist(blocking=False)
            deg.unpersist(blocking=False)


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 10,
    directed: bool = False,
) -> DataFrame:
    """PageRank over a DataFrame edge list — (node, rank), Σrank = 1.

    ``edges``: (u, v) pairs, each once; with ``directed=False``
    (co-activity graphs here) each edge contributes both directions.
    Standard power iteration with uniform teleport:

        rank' = (1−d)/N + d·(Σ incoming rank/out_deg + dangling/N)

    Dangling vertices (no out-edges — only possible when directed)
    redistribute their mass uniformly, so total rank stays exactly 1
    per iteration and the result is a probability distribution, not a
    relative score.

    Scale design, the same discipline as :func:`bfs_hops` /
    ``dedup.connected_components``:

    - the adjacency and each vertex's out-degree materialize ONCE —
      adj as a raw eager checkpoint (its per-iteration join broadcasts
      the rank vector and streams adj, so adj is never shuffled; a
      partitioned cache would only add decompression — measured, see
      in-code note), while the two |V|-sized relations the iterations
      DO shuffle-join (vertices, out_deg) are persisted so their
      aggregate hashpartitioning(node) survives and their per-
      iteration exchanges are elided (r13). The final rank vector is
      eagerly checkpointed so the caches release before returning;
    - one shuffle per iteration: the ranks⋈adjacency join keys on the
      source vertex and the contribution sum groups by destination —
      with AQE both land on the same hash partitioning, and the rank
      vector (|V| rows, two columns) is the only thing that moves;
    - per-iteration lazy ``localCheckpoint`` on the new rank vector
      truncates lineage (O(max_iter) plan depth, not exponential);
    - the dangling-mass term is a scalar ``first()`` on a one-row
      aggregate — a bounded driver action per iteration, same class
      as the CC convergence counter. With ``directed=False`` every
      vertex has out-edges, the dangling sum is provably zero, and
      the per-iteration ACTION is skipped. (Honest precision, r8:
      under AQE the lazy per-iteration checkpoint still materializes
      that iteration's shuffle stages at construction time — work
      each iteration runs exactly once anyway, just earlier than the
      terminal action, with per-iteration job counts that jitter
      under AQE re-planning. The pinned invariant, tested with AQE
      off where construction is deterministic: ZERO loop actions on
      this path, exactly one dangling ``first()`` per directed
      iteration; see tests/test_pagerank.py. Skewed 10× hub-graph
      exponent 0.511, SCALE.md r8.)

    Fixed ``max_iter`` (no tolerance test) keeps the iteration count —
    and the plan — deterministic; callers wanting convergence detection
    can compare successive outputs themselves.
    """
    if directed:
        adj = edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    else:
        adj = both_directions(edges, "u", "v")
    # r13 (§2.4): the adjacency KEEPS the raw eager checkpoint — the
    # executed per-iteration plans show the ranks⋈adj join broadcasts
    # the |V|-sized rank vector and STREAMS adj (one BroadcastHashJoin
    # per iteration, adj never shuffled), so a join-key cache of adj
    # elides nothing and only swaps raw block scans for a per-iteration
    # columnar-cache decompression (measured slower — the same finding
    # as bfs_hops above). The two |V|-sized relations the iterations DO
    # shuffle-join every round — vertices and out_deg — are persisted
    # instead of checkpointed: their aggregate output partitioning
    # (hashpartitioning(node)) survives the cache, so their per-
    # iteration SMJ-side exchanges are elided.
    adj = adj.localCheckpoint(eager=True)
    vertices = (
        adj.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        )
        .distinct()
        .persist()
    )
    out_deg = (
        adj.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .persist()
    )
    try:
        n = vertices.count()
        if n == 0:
            return vertices.withColumn("rank", F.lit(0.0)).localCheckpoint(
                eager=True
            )
        ranks = vertices.withColumn("rank", F.lit(1.0 / n))
        teleport = (1.0 - damping) / n
        for _ in range(max_iter):
            src_rank = ranks.join(out_deg, "node", "left")
            dangling = 0.0
            if directed:
                row = (
                    src_rank.where(F.col("out_deg").isNull())
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("s"))
                    .first()
                )
                dangling = float(row["s"])
            contribs = (
                src_rank.join(adj, src_rank["node"] == adj["src"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("in_sum"))
            )
            ranks = (
                vertices.join(contribs, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(teleport)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("in_sum"), F.lit(0.0))
                            + F.lit(dangling / n)
                        )
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
        # EAGER on every path, max_iter=0 included: materializes the
        # whole cascade so the finally-unpersist below never exposes
        # the returned relation to a cache-less recompute
        return ranks.localCheckpoint(eager=True)
    finally:
        vertices.unpersist(blocking=False)
        out_deg.unpersist(blocking=False)
