"""Per-key running totals as an arbitrary stateful streaming operator.

The online-feature-store shape: maintain PER-USER cumulative totals
across micro-batches and emit the updated row for every user touched by
a batch ("events and spend per user so far", updated as data arrives).

Two implementations of the same fold:

- :func:`running_totals_stream_agg` — a Catalyst-native streaming
  aggregation (``groupBy().agg()`` in update mode). THIS particular
  fold (count + quantized sum) is expressible as built-in aggregates,
  so the JVM state-store path needs no Python worker at all — the
  default for the oracle-checked registry query
  ``streaming_stateful_user_totals`` since r13 (guide §4: the
  GroupState path ran 8 Python state tasks per micro-batch for
  arithmetic the state store does natively; emissions are row-for-row
  identical, pinned by ``tests/test_running_totals.py``).
- :func:`running_totals_stream` — ``applyInPandasWithState`` (the
  GroupState API, Spark 3.4+): the ARBITRARY-stateful shape for folds
  that are not expressible as built-in aggregates. No extra Python
  dependencies; differential-tested against the native twin.

Determinism at 100 TB: state carries the event count and the QUANTIZED
value sum (``floor(value * 2^Q_BITS)`` summed as exact integers —
``functions/exprs.py``), so totals are independent of row order, batch
boundaries, partitioning, and retries; the final unscaled double is
bit-equal to the batch aggregate (the registry oracle checks exactly
that). State per key is two longs — 100M users ≈ a few GB in a cluster
state backend.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.exprs import Q_BITS, q_sum_term

_STATE_SCHEMA = "n long, vq long"
#: cumulative totals per key; value_q is the exact quantized integer sum
OUTPUT_SCHEMA = "user_id long, n_events long, value_q long"


def _fold_batch(n: int, vq: int, pdf: pd.DataFrame) -> tuple[int, int]:
    """Fold one pandas chunk into (count, quantized sum) — exact
    integers, mirroring the engine-wide q_sum term bit-for-bit.

    Vectorized: ``v * 2^Q`` is an exponent shift (exact in float64 for
    every finite v), ``np.floor`` of an exact product equals
    ``math.floor`` per element, and the cast to int64 is exact because
    any float64 with magnitude ≥ 2^53 is already integral. Summing as
    int64 keeps the fold associative/exact, so the vector path is
    bit-identical to the scalar loop it replaced — at a batch of a
    million rows this is the difference between Arrow-speed and a
    Python interpreter loop inside the state operator.
    """
    q = float(1 << Q_BITS)
    n += len(pdf)
    vals = np.asarray(pdf["value"], dtype=np.float64)
    # isfinite, not just not-NaN: floor(±inf * 2^Q) cast to int64 is
    # undefined (INT64_MIN in practice) and would silently corrupt the
    # running total. (Spark's own non-ANSI floor(±inf) does not null
    # out either — it CLAMPS to ±Long.MAX, measured r13 — so the
    # native-agg twin masks non-finite values explicitly to match this
    # guard; the differential non-finite test pins both paths.)
    finite = np.isfinite(vals)
    if finite.any():
        vq += int(np.floor(vals[finite] * q).astype(np.int64).sum())
    return n, vq


def running_totals_stream_agg(
    events: DataFrame, *, key_col: str = "user_id"
) -> DataFrame:
    """Catalyst-native restatement of the running-totals fold: a
    streaming ``groupBy().agg()`` in update output mode.

    Emission-identical to :func:`running_totals_stream` (one CUMULATIVE
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
    masked out FIRST — ``_fold_batch`` drops them with ``isfinite``,
    and Spark's non-ANSI ``floor(±inf)`` does NOT null out, it clamps
    to ±Long.MAX (measured; the differential non-finite test pins this
    seam), so the mask is what keeps the two plans bit-equal. NULL
    values fall out of the SUM on both paths while ``count(1)`` still
    counts their rows, and ``coalesce(…, 0)`` pins the
    all-values-non-finite key to 0, matching the Python fold's integer
    state. The final cast to long is exact for any total below 2^63.
    Differential-pinned row-for-row by ``tests/test_running_totals.py``.

    Use :func:`running_totals_stream` when the per-key fold is NOT
    expressible as built-in aggregates (model state, ordered history,
    custom eviction) — that is what the GroupState API is for.
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


def running_totals_stream(events: DataFrame, *, key_col: str = "user_id") -> DataFrame:
    """Stateful running totals via ``applyInPandasWithState``.

    Emits one row per (touched key, micro-batch) carrying the CUMULATIVE
    totals; ``n_events`` strictly increases per key, so the latest row
    per key (``max_by``) is the final answer on bounded input. No
    timeout: totals never expire (bounded keys). For TTL'd variants see
    the sessionizer (streaming/sessionize.py), which evicts on gap.
    """

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, vq = state.get if state.exists else (0, 0)
        n, vq = int(n), int(vq)
        for pdf in pdfs:
            n, vq = _fold_batch(n, vq, pdf)
        state.update((n, vq))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_q": [vq]}
        )

    return (
        events.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .applyInPandasWithState(
            fold,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
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
