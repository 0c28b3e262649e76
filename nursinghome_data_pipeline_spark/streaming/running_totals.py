"""Per-key running totals as a stateful streaming aggregation.

The online-feature-store shape: maintain PER-USER cumulative totals
across micro-batches and emit the updated row for every user touched by
a batch ("events and spend per user so far", updated as data arrives).

:func:`running_totals_stream_agg` is a Catalyst-native streaming
aggregation (``groupBy().agg()`` in update mode). THIS particular fold
(count + quantized sum) is expressible as built-in aggregates, so the
JVM state-store path needs no Python worker at all — the plan of the
oracle-checked registry query ``streaming_stateful_user_totals`` since
r13 (guide §4: the GroupState path ran 8 Python state tasks per
micro-batch for arithmetic the state store does natively). The
``applyInPandasWithState`` (GroupState) fold it replaced is the test
oracle in ``tests/test_running_totals.py``, emission-identical row for
row; the GroupState API stays exercised in the package by the
sessionizer (streaming/sessionize.py).

Determinism at 100 TB: state carries the event count and the QUANTIZED
value sum (``floor(value * 2^Q_BITS)`` summed as exact integers —
``functions/exprs.py``), so totals are independent of row order, batch
boundaries, partitioning, and retries; the final unscaled double is
bit-equal to the batch aggregate (the registry oracle checks exactly
that). State per key is two longs — 100M users ≈ a few GB in a cluster
state backend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import Q_BITS, q_sum_term


def running_totals_stream_agg(
    events: DataFrame, *, key_col: str = "user_id"
) -> DataFrame:
    """Catalyst-native restatement of the running-totals fold: a
    streaming ``groupBy().agg()`` in update output mode.

    Emission-identical to the GroupState fold (one CUMULATIVE
    row per touched key per micro-batch — update mode emits exactly the
    keys the batch touched, with totals folded into JVM state-store
    state), but with ZERO Python boundary: no Python worker processes,
    no Arrow transposes, no per-task GroupState protocol. The plan is
    ``StateStoreRestore → partial agg → StateStoreSave`` with map-side
    partial aggregation per micro-batch (guide §2.3/§4) instead of
    ``FlatMapGroupsInPandasWithState`` shipping every row to Python.

    Bit-exactness with the GroupState fold: ``value_q`` sums
    ``floor(value * 2^Q_BITS)`` as exact integers via the engine-wide
    :func:`~..functions.exprs.q_sum_term`, with non-finite values
    masked out FIRST — the fold drops them with ``isfinite``,
    and Spark's non-ANSI ``floor(±inf)`` does NOT null out, it clamps
    to ±Long.MAX (measured; the differential non-finite test pins this
    seam), so the mask is what keeps the two plans bit-equal. NULL
    values fall out of the SUM on both paths while ``count(1)`` still
    counts their rows, and ``coalesce(…, 0)`` pins the
    all-values-non-finite key to 0, matching the Python fold's integer
    state. The final cast to long is exact for any total below 2^63.
    Differential-pinned row-for-row by ``tests/test_running_totals.py``,
    which keeps the GroupState fold as its oracle.
    """
    v = F.col("value")
    finite = (
        ~F.isnan(v) & (v != F.lit(float("inf"))) & (v != F.lit(float("-inf")))
    )
    return (
        events.where(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                F.sum(F.when(finite, q_sum_term(v))), F.lit(0)
            )
            .cast("long")
            .alias("value_q"),
        )
    )


def finalize_totals(emitted: DataFrame) -> DataFrame:
    """Reduce per-batch cumulative emissions to final per-user totals.

    ``n_events`` grows with every emission for a key, so the row with
    the maximum count is the last one; ``max_by`` picks its value sum
    without assuming the value column itself is monotone (values may be
    negative).
    """
    q = float(1 << Q_BITS)
    return (
        emitted.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("value_q", "n_events").alias("_vq"),
        )
        .select(
            "user_id",
            "n_events",
            (F.col("_vq").cast("double") / F.lit(q)).alias("total_value"),
        )
    )
