"""Shared pieces of the iterative graph loops: the one-pass
symmetrization (connected components, BFS, PageRank) and the
observed-checkpoint fixpoint loop (both connected-components
algorithms; BFS and PageRank run fixed rounds)."""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.obs import observed_checkpoint


def both_directions(edges: DataFrame, a: str, b: str) -> DataFrame:
    """(src, dst) rows for both directions of every (``a``, ``b``) edge,
    duplicates kept."""
    # map-side explode: one pass over the (possibly expensive — LSH /
    # Jaccard / co-occurrence join) edge subtree, where a union of two
    # references would run it twice
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
    name: str,
    aggs: dict[str, Column],
    done: Callable[[DataFrame, DataFrame, dict[str, Any], dict[str, Any]], bool],
) -> tuple[DataFrame, int]:
    """Apply ``step`` from ``seed`` until ``done(prev, new, prev_metrics,
    new_metrics)`` holds; return ``(new, rounds_run)``.

    Each state is an :func:`observed_checkpoint` carrying the ``aggs``
    metrics. Raises ``RuntimeError`` after ``max_rounds`` rounds.
    """
    # one job per round materializes the state and truncates its
    # lineage — without it the plan doubles per round and planning time
    # explodes by round 10
    state, metrics = observed_checkpoint(seed, f"{name}_seed", **aggs)
    for rnd in range(max_rounds):
        new, new_metrics = observed_checkpoint(
            step(state), f"{name}_round_{rnd}", **aggs
        )
        if done(state, new, metrics, new_metrics):
            return new, rnd + 1
        state, metrics = new, new_metrics
    # Partial labels are silently WRONG (nodes mid-chain still carry a
    # non-minimum label) — never return them. A graph that needs more
    # than max_iter label-propagation rounds has a component diameter of
    # that order, which is the exact case the O(log n) star variant
    # exists for.
    raise RuntimeError(
        f"{name} did not converge in {max_rounds} rounds (component "
        "diameter exceeds the round budget); raise max_iter, or use "
        "connected_components_star for long-chain graphs"
    )
