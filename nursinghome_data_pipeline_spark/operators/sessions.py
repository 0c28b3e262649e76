"""Skew-safe batch sessionization (100 TB design, SURVEY §2.8 ext).

The standard gap-sessionize (registry ``user_sessions``; the batch twin
of ``streaming/sessionize.py``) is ONE window partitioned by user — the
minimal-shuffle plan, and the right one while every user's history fits
a task. The r7 skewed sf-curve (SCALE.md) measured why that caveat
matters: a planted hot key holding 5% of all events serializes its
entire timeline into a single task. At the probe's 10× that is 50 000
rows and 0.8 s; at 100 TB a bot/service account with 10⁸ events is one
executor sorting for hours while the cluster idles.

``sessionize_bucketed`` removes the per-key ceiling with the classic
split-and-stitch decomposition:

1. **Bucket** each row into a coarse time bucket (``bucket_minutes``).
2. **Local pass** — window over ``(user, bucket)``: the usual
   LAG-gap flag + prefix-sum produces per-bucket session numbers. Max
   task size is now ``rate × bucket_minutes``, not the user's lifetime;
   ``bucket_minutes`` may be ARBITRARILY smaller than the gap — even
   1 minute — because stitching below follows merge chains across any
   number of consecutive buckets.
3. **Stitch** — per ``(user, bucket)`` stats (first/last event micros,
   local session count) feed a per-user window over BUCKETS — rows
   ∝ distinct buckets per user (timeline ÷ bucket width), never
   ∝ events — computing whether each bucket's first local session
   continues the previous bucket's last chain (cross-bucket gap ≤ the
   threshold) and the cumulative session-id offset
   ``Σ (n_localᵦ − mergeᵦ)`` over earlier buckets.
4. **Rejoin** offsets on ``(user, bucket)`` and renumber:
   ``session_id = offset + local_id − merge`` — exactly the prefix sum
   the single-window form computes, so the result is pinned
   BIT-IDENTICAL to the twin (``tests/test_sessions.py`` differentials,
   including bucket ≪ gap, degenerate one-bucket, null ts / null user,
   and equal-timestamp tie rows).

Null semantics mirror the window twin exactly: a null-``ts`` row always
opens a new session (LAG(ts) IS NULL fires the flag), and the row after
it does too. Null-ts rows bucket together ahead of all real buckets
(coalesced bucket −2⁶²; Spark sorts null ts first within a user the
same way), and a null previous-bucket ``last`` forces merge = 0.

Shuffle ledger vs the twin: the twin pays 1 exchange on ``user``; this
plan pays exchanges on ``(user, bucket)`` (local window), ``user``
(bucket stats — rows ∝ buckets, tiny), the stats join (AQE broadcasts
the small side), and the final group-by — more shuffles, each bounded.
That trade is the point: use the twin until one key dominates a TASK,
then this. The remaining floor is rows sharing one (user, bucket) —
lower ``bucket_minutes`` to split a burst; equal-timestamp floods are
the only unsplittable residue (they are one session by definition, but
must be counted somewhere; the same residue — duplicated
(value, tiebreak) pairs — bounds ``skew.bucketed_global_order``'s
range partitioning).

Reference parity note: the reference pipeline (678-line pandas core)
has no sessionization; this extends the engine-native §2.8 window
family alongside the streaming sessionizer it twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: bucket id for rows whose ts is NULL — sorts before every real
#: bucket (unix_micros ≈ ±2^50 ≪ 2^62) so stitch order matches the
#: twin's nulls-first sort.
_NULL_BUCKET = -(1 << 62)


def sessionize_bucketed(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    bucket_minutes: int = 24 * 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Gap-sessionize ``events``; per-task work bounded by bucket width.

    Returns ``(user_col, session_id, n_events, session_start)`` —
    bit-identical to the single-window twin with total order
    ``(ts_col, *tiebreak_cols)``. ``session_id`` numbers sessions 1..n
    per user in time order.
    """
    gap_us = int(gap_minutes) * 60_000_000
    bucket_us = int(bucket_minutes) * 60_000_000
    if bucket_us <= 0:
        raise ValueError("bucket_minutes must be positive")

    # timestamp_ltz mirrors the registry twin: under the UTC session
    # timezone unix_micros reads the same wall-clock instant DuckDB's
    # epoch_us sees on a naive timestamp.
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    # INTEGER division (`div`), not `/`: Spark's `/` casts to double,
    # and a timestamp with |unix_micros| > 2^53 (e.g. a 9999-12-31
    # sentinel) loses µs converting — two near-boundary events could
    # bucket out of time order, breaking the stitch's monotonicity.
    # `div` truncates toward zero (vs floor), which only makes the
    # epoch-straddling bucket twice as wide — the stitch needs the
    # us→bucket map to be MONOTONE, not any particular origin.
    df = events.withColumn("__us", us).withColumn(
        "__bkt",
        F.coalesce(F.expr(f"__us div {bucket_us}"), F.lit(_NULL_BUCKET)),
    )

    order = [F.col(ts_col), *(F.col(c) for c in tiebreak_cols)]
    w_loc = Window.partitionBy(user_col, "__bkt").orderBy(*order)
    # twin flag semantics: new session when no previous row IN ORDER
    # or its ts is null (LAG(ts) IS NULL covers both) or the gap
    # exceeds the threshold
    flagged = df.withColumn(
        "__flag",
        F.when(
            F.lag(ts_col).over(w_loc).isNull()
            | ((F.col("__us") - F.lag("__us").over(w_loc)) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn(
        "__local",
        F.sum("__flag").over(
            w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # flagged feeds BOTH the stats aggregation and the renumbering
    # join below, so the (user, bucket) sort + LAG + prefix-sum window
    # executes twice (Spark reuses the exchange but not the window
    # compute above it). That recompute is DELIBERATE: pinning flagged
    # with localCheckpoint materializes every input row through the
    # block manager, measured 3× slower than the second window pass on
    # the 20M-row hot-session probe (17.4 s vs 5.5 s) — recomputation
    # from the shared shuffle is the cheaper branch at every scale
    # where this operator matters.

    # per-(user, bucket) stats: rows ∝ active buckets, not events.
    # min/max ignore nulls, so an all-null-ts bucket reports null
    # first/last — which forces merge = 0 below, matching the twin's
    # "row after a null-ts row opens a new session".
    stats = flagged.groupBy(user_col, "__bkt").agg(
        F.min("__us").alias("__first_us"),
        F.max("__us").alias("__last_us"),
        F.max("__local").alias("__n_local"),
    )
    w_ub = Window.partitionBy(user_col).orderBy("__bkt")
    cross_gap = F.col("__first_us") - F.lag("__last_us").over(w_ub)
    merged = stats.withColumn(
        "__merge",
        F.when(
            F.lag("__bkt").over(w_ub).isNotNull() & (cross_gap <= gap_us), 1
        ).otherwise(0),
    )
    offsets = merged.withColumn(
        "__offset",
        F.coalesce(
            F.sum(F.col("__n_local") - F.col("__merge")).over(
                w_ub.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(
        F.col(user_col).alias("__u"),
        F.col("__bkt").alias("__b"),
        "__merge",
        "__offset",
    )

    # join keyed (user, bucket): the events side already carries that
    # partitioning from the local window; AQE broadcasts the stats side
    # when it is small enough. Null-safe on user — a null user is a
    # real partition in the twin, and a plain equi-join would drop it.
    renumbered = flagged.join(
        offsets,
        F.col(user_col).eqNullSafe(F.col("__u"))
        & (F.col("__bkt") == F.col("__b")),
    ).withColumn(
        "session_id",
        (F.col("__offset") + F.col("__local") - F.col("__merge")).cast("long"),
    )
    return renumbered.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
    )
