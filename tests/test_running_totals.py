"""Stateful running totals across micro-batches
(streaming/running_totals.py), checked against the GroupState fold
(``applyInPandasWithState``) kept here as the oracle."""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nursinghome_data_pipeline_spark.functions.exprs import Q_BITS
from nursinghome_data_pipeline_spark.streaming.ingest_stream import (
    run_stream_to_memory,
)
from nursinghome_data_pipeline_spark.streaming.running_totals import (
    finalize_totals,
    running_totals_stream_agg,
)


def _fold_batch(n: int, vq: int, pdf: pd.DataFrame) -> tuple[int, int]:
    """Fold one pandas chunk into (count, quantized sum) — exact
    integers, mirroring the engine-wide q_sum term bit-for-bit.

    ``v * 2^Q`` is an exponent shift (exact in float64 for every finite
    v), ``np.floor`` of an exact product equals ``math.floor`` per
    element, and the cast to int64 is exact because any float64 with
    magnitude ≥ 2^53 is already integral. ``isfinite``, not just
    not-NaN: ``floor(±inf * 2^Q)`` cast to int64 is undefined.
    """
    n += len(pdf)
    vals = np.asarray(pdf["value"], dtype=np.float64)
    finite = np.isfinite(vals)
    if finite.any():
        vq += int(np.floor(vals[finite] * float(1 << Q_BITS)).astype(np.int64).sum())
    return n, vq


def running_totals_stream(events: DataFrame, *, key_col: str = "user_id") -> DataFrame:
    """Oracle: the running-totals fold via ``applyInPandasWithState``.

    Emits one row per (touched key, micro-batch) carrying the CUMULATIVE
    totals, with no timeout (totals never expire)."""

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
            outputStructType="user_id long, n_events long, value_q long",
            stateStructType="n long, vq long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@pytest.fixture()
def staged_batches(spark, tmp_path):
    """Three single-file 'micro-batches'; user 1 appears in all three,
    user 2 in the first two, user 3 only in the last."""
    batches = [
        [(1, 1.5), (1, 2.25), (2, 10.0)],
        [(1, 4.0), (2, -3.5)],
        [(1, 0.25), (3, 7.0)],
    ]
    d = os.path.join(tmp_path, "batches")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.mode("append").parquet(d)
    return d


def _run(spark, staged, name, op=running_totals_stream_agg):
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    run_stream_to_memory(op(stream), name, output_mode="update")
    return spark.table(name)


def test_state_accumulates_across_batches(spark, staged_batches):
    emitted = _run(spark, staged_batches, "rt_accum")
    rows = sorted(
        ((r.user_id, r.n_events, r.value_q) for r in emitted.collect())
    )
    q = 1 << Q_BITS
    # user 1: cumulative counts must be strictly increasing across its
    # three emissions — state survived the batch boundaries.
    u1 = [(n, vq) for (u, n, vq) in rows if u == 1]
    assert [n for n, _ in u1] == sorted({n for n, _ in u1})
    assert len(u1) == 3
    assert u1[-1] == (4, int(1.5 * q) + int(2.25 * q) + int(4.0 * q) + int(0.25 * q))
    # user 2 emitted twice (batches 1-2), user 3 once (batch 3)
    assert len([1 for (u, _, _) in rows if u == 2]) == 2
    assert len([1 for (u, _, _) in rows if u == 3]) == 1


def test_finalize_matches_batch_aggregate(spark, staged_batches):
    emitted = _run(spark, staged_batches, "rt_final")
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in finalize_totals(emitted).collect()
    }
    batch = spark.read.parquet(staged_batches)
    expected = {
        r.user_id: (r.n, r.s)
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(
                    F.floor(F.col("value") * F.lit(float(1 << Q_BITS))).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(float(1 << Q_BITS))
            ).alias("s"),
        )
        .collect()
    }
    assert final == expected  # negative values included: max_by, not max


def test_native_agg_twin_emission_identical(spark, staged_batches):
    """The r13 Catalyst-native restatement (streaming groupBy().agg()
    in update mode — the registry query's plan since r13) must emit
    EXACTLY the rows the GroupState fold emits: one cumulative row per
    touched key per micro-batch, bit-equal value_q. Multiset equality
    over the full emission history is the strongest observable pin —
    it proves per-batch update semantics, not just the final fold."""
    by_fold = _run(
        spark, staged_batches, "rt_diff_fold", op=running_totals_stream
    )
    by_agg = _run(spark, staged_batches, "rt_diff_agg")
    rows_fold = sorted(map(tuple, by_fold.collect()))
    rows_agg = sorted(map(tuple, by_agg.collect()))
    assert rows_fold == rows_agg


def test_native_agg_twin_nonfinite_values(spark, tmp_path):
    """Non-finite values: the GroupState fold drops them from the sum
    (``isfinite`` guard) while counting the rows; the native twin gets
    the same semantics from q_sum_term's coerce-to-null decimal cast
    plus coalesce-to-0 (a key whose every value is non-finite must
    report value_q = 0, not NULL). Pin both paths agree per emission."""
    d = os.path.join(tmp_path, "nf_batches")
    batches = [
        [(1, float("inf")), (2, 1.5)],
        [(1, float("nan")), (1, 2.0), (2, float("-inf"))],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.mode("append").parquet(d)
    by_fold = _run(spark, d, "rt_nf_fold", op=running_totals_stream)
    by_agg = _run(spark, d, "rt_nf_agg")
    rows_fold = sorted(map(tuple, by_fold.collect()))
    rows_agg = sorted(map(tuple, by_agg.collect()))
    assert rows_fold == rows_agg
    q = 1 << Q_BITS
    # user 1 saw only non-finite values in batch 1 → value_q pinned 0;
    # batch 2 adds one finite 2.0 (count still includes non-finite rows)
    assert [(u, n, vq) for (u, n, vq) in rows_agg if u == 1] == [
        (1, 1, 0),
        (1, 3, 2 * q),
    ]
