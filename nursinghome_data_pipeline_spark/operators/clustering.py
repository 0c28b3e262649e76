"""Distributed k-means (Lloyd) over embedding columns.

The iterative-refinement sibling of the one-shot IVF training in
``operators/similarity.py`` (which k-means a bounded driver-side
sample): here BOTH steps are distributed DataFrame ops, the shape that
holds when the corpus no longer fits a sample —

- **assign**: candidates cross-join the k broadcast centroids
  (k rows), squared-L2 via the bit-stable sequential dot product
  (``functions/vectors.py``), argmin with a deterministic tie-break
  (smallest centroid id) via one per-vector window.
- **update**: posexplode to (vector, dim, value), group by
  (centroid, dim) with QUANTIZED means (``functions/exprs.q_avg``) —
  bit-equal across engines and partition layouts, which is what makes
  a k-means run hash-checkable against a SQL oracle at all — then
  rebuild each centroid array sorted by dim.
- each iteration COLLECTS the k·dim quantized means (a model
  constant, never data-sized) and builds the next round's plan from
  literals, so lineage never grows and a round is exactly one
  map-side-combined job.

Convergence is NOT tested by the oracle (fixed iteration count,
unrolled in the oracle SQL); ``tol`` adds the movement-delta stop
condition production runs use at scale — centroids are already on the
driver every round, so the check is free and the per-iteration plan
is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from ..functions.exprs import q_avg
from ..functions.vectors import array_literal, dot_product_col


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Bounded driver materialization (k·dim doubles by the k-means
    contract — k is a model constant, never data-sized)."""
    return sorted(
        (int(r["cid"]), [float(v) for v in r["clist"]])
        for r in centroids.collect()
    )


def centroid_argmin_col(
    centroid_rows: list[tuple[int, list[float]]], vec_col: str
) -> F.Column:
    """Nearest-centroid id as ONE map-only column expression.

    Distance is squared L2 expanded as dot(x,x) - 2*dot(x,c) +
    dot(c,c), in exactly that operation order (mirrored by the oracle
    SQL); ``array_min`` over (dist, cid) structs reproduces the
    argmin-with-smallest-cid tie-break bit-for-bit. This replaces the
    former crossJoin + id-partitioned window, which SHUFFLED k× the
    input per Lloyd iteration — assignment is now whole-stage-codegen
    with no exchange, the property that matters at 10^9 vectors.

    The k centroids are ONE folded literal
    (:func:`~..functions.vectors.array_literal`) of ``(cid, c, cc)``
    structs, walked by one ``transform`` with dot(x,x) bound once
    (:func:`~.dedup._bind`). dot(c,c) is precomputed with the same
    sequential left-to-right fold as ``dot_product_col`` — bit-equal,
    and a literal instead of a per-row fold Catalyst may not
    constant-fold."""
    from .dedup import _bind

    def one(cid: int, clist: list[float]) -> dict:
        cc = 0.0
        for v in clist:
            cc = cc + v * v
        return {"cid": int(cid), "c": [float(v) for v in clist], "cc": cc}

    cents = F.expr(
        array_literal(
            [one(cid, c) for cid, c in centroid_rows],
            "array<struct<cid:bigint,c:array<double>,cc:double>>",
        )
    )

    def nearest(xx: F.Column) -> F.Column:
        return F.array_min(
            F.transform(
                cents,
                lambda k: F.struct(
                    (xx - F.lit(2.0) * dot_product_col(vec_col, k["c"]) + k["cc"]).alias("d"),
                    k["cid"].alias("cid"),
                ),
            )
        )["cid"]

    return _bind(dot_product_col(vec_col, vec_col), nearest)


def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid) — nearest centroid per vector, ties to smallest cid.

    ``centroids``: (cid: long, clist: array<double>); collected
    driver-side (bounded k·dim) and evaluated map-only — see
    :func:`centroid_argmin_col` for why there is no join here."""
    rows = _collect_centroids(centroids)
    return df.select(
        id_col, centroid_argmin_col(rows, vec_col).alias("cid")
    )


def update_centroids(
    df: DataFrame,
    assignment: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, clist) — per-dim quantized means of each cluster."""
    dims = df.join(assignment, on=id_col).select(
        "cid", F.posexplode(vec_col).alias("dim", "val")
    )
    per_dim = dims.groupBy("cid", "dim").agg(
        q_avg(F.col("val").cast("double"), "mv")
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mv"))),
            lambda s: s["mv"],
        ).alias("clist")
    )


def kmeans_lloyd(
    df: DataFrame,
    init_centroids: DataFrame,
    *,
    iterations: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float | None = None,
) -> DataFrame:
    """Run ``iterations`` Lloyd steps (or fewer: ``tol`` stops early
    on centroid movement ≤ tol, see :func:`lloyd_train`); return
    (cid, dim, c_val, n_assigned) — the final centroids exploded to
    scalar rows (driver-hashable) plus each cluster's final
    population."""
    rows, last_rows, _ = lloyd_train(
        df, init_centroids, iterations=iterations, vec_col=vec_col, tol=tol
    )
    import pandas as pd

    # pandas → Arrow → JVM LocalTableScan: a Python-list relation is
    # backed by a pickled RDD whose scan pays a Python-worker round
    # trip on EVERY downstream action — and this frame is the build
    # side of the output join (measured 1.5 s vs 0.2 s for a small
    # literal table)
    centroids = df.sparkSession.createDataFrame(
        pd.DataFrame(
            [(c, list(cl)) for c, cl in rows], columns=["cid", "clist"]
        ),
        "cid long, clist array<double>",
    )
    # final-iteration assignment (vs the PRE-update centroids of the
    # last round — the same rows the last update aggregated)
    counts = (
        df.select(centroid_argmin_col(last_rows, vec_col).alias("cid"))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )
    return (
        centroids.select(
            "cid", F.posexplode("clist").alias("dim", "c_val")
        )
        .join(counts, on="cid")
        .select("cid", "dim", "c_val", "n_assigned")
    )


def max_centroid_movement(
    before: list[tuple[int, list[float]]],
    after: list[tuple[int, list[float]]],
) -> float:
    """L∞ distance between two centroid snapshots (driver-side, k·dim).

    Returns ``inf`` when the centroid id sets differ (a cluster lost
    every member and was dropped) — that round is never "converged".
    """
    b, a = dict(before), dict(after)
    if set(b) != set(a):
        return float("inf")
    return max(
        (abs(x - y) for c in b for x, y in zip(b[c], a[c])),
        default=0.0,
    )


def lloyd_train(
    df: DataFrame,
    init_centroids: DataFrame,
    *,
    iterations: int,
    vec_col: str = "embedding",
    tol: float | None = None,
) -> tuple[list, list, int]:
    """``iterations`` fused Lloyd steps → (cid, clist) centroid literals.

    Per iteration: ONE map-side-combined aggregation and ONE job — the
    assignment column is computed inline (:func:`centroid_argmin_col`,
    no shuffle), posexplode feeds the (cid, dim) quantized means
    directly (no re-join of the assignment against the input — the
    former update path shuffled the input TWICE per round: once for
    the assignment window, once for the join), and the k·dim result
    rows are COLLECTED straight off that aggregation. The next round's
    plan is built from those Python literals, so there is nothing for
    lineage to grow on — no checkpoint, and the former second
    ``groupBy(cid).collect_list`` shuffle is replaced by a driver-side
    sort of k·dim rows (a model constant, never data-sized). Quantized
    means keep the result bit-identical to the join formulation and to
    the oracle's unrolled CTEs; assembling ``clist`` dim-sorted on the
    driver is the same array ``array_sort(collect_list)`` produced.

    ``tol`` (production stop condition): when set, training stops
    after the first round whose centroid movement
    (:func:`max_centroid_movement`, L∞ over the collected k·dim
    literals — free, no extra job) is ≤ ``tol``, with ``iterations``
    as the round CAP. The oracle-checked registry entries pass
    ``tol=None`` so their round count stays exactly the unrolled CTE
    depth.

    Returns ``(rows, last_rows, rounds_run)``: the final sorted
    ``(cid, clist)`` literals, the final round's PRE-update literals
    (for callers that need the matching assignment — population
    counts), and the number of rounds run.
    """
    rows = _collect_centroids(init_centroids)
    last_rows = rows
    rounds_run = 0
    # not fixpoint(): driver-literal state has nothing to cache, checkpoint or release
    for _ in range(iterations):
        # two steps: a generator (posexplode) and the argmin struct
        # access cannot share one select — the Generate analysis path
        # drops the struct field names (FIELD_NOT_FOUND col1/col2)
        cid = centroid_argmin_col(rows, vec_col)
        per_dim = (
            df.withColumn("cid", cid)
            .select("cid", F.posexplode(vec_col).alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(q_avg(F.col("val").cast("double"), "mv"))
        ).collect()
        by_cid: dict[int, list[tuple[int, float]]] = {}
        for r in per_dim:
            by_cid.setdefault(int(r["cid"]), []).append(
                (int(r["dim"]), float(r["mv"]))
            )
        last_rows = rows
        rows = sorted(
            (c, [v for _, v in sorted(dims)]) for c, dims in by_cid.items()
        )
        rounds_run += 1
        if tol is not None and max_centroid_movement(last_rows, rows) <= tol:
            break
    return rows, last_rows, rounds_run
