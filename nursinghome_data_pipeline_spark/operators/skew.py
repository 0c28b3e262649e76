"""Skew mitigation & co-located joins (100 TB design, SURVEY §7.3).

The reference never meets skew (11k-row inputs), but its join/agg
shapes (J1 composite-key join, A1/A3 group-bys) hit it immediately at
corpus scale: one hot facility/state/null key can pin a whole executor.
Three standard remedies, engine-native:

- **AQE skew-join splitting** is already on in ``session.build_session``
  (``spark.sql.adaptive.skewJoin.enabled``) — runtime splitting of
  oversized partitions, zero code change.
- **Salted two-phase aggregation** (here): spread a hot group key over
  ``n_salts`` sub-keys, partially aggregate, then re-aggregate. Works
  for any algebraic aggregate (sum/count/min/max — avg as sum+count).
- **Salted replicated join** (here): explode the small side once per
  salt so the large side's hot key scatters over ``n_salts`` reducers.
- **Bucketed co-located join**: pre-bucket both tables on the join
  key at write time (``DataFrameWriter.bucketBy(n, key).sortBy(key)
  .saveAsTable``); Spark's bucketing-aware scan joins them with NO
  Exchange at all — the shuffle is paid once at ingest, then every
  downstream join of the bucketed tables is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import array_literal

_SALT = "__salt"


def _salt_col(df: DataFrame, salt_cols: list[str] | None, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts) from REAL row columns.

    Never ``monotonically_increasing_id()`` / ``rand()``: both are
    recompute-nondeterministic — if a shuffle-map task is retried
    (executor loss, stage retry) after some reducers already fetched its
    output, rows land in different salt buckets on the re-run and the
    two-phase aggregate can double-count or drop them (the classic
    SPARK-23207 repartition-nondeterminism hazard). Hashing actual row
    values reproduces the same bucket on every recomputation.

    Defaults to hashing ALL columns; pass ``salt_cols`` (e.g. a unique
    id) to pin the distribution source explicitly. Fully duplicate rows
    share a salt — irrelevant for spreading a hot KEY, whose rows differ
    off-key; a corpus of byte-identical rows should be exact-deduped
    first anyway.
    """
    cols = salt_cols if salt_cols else df.columns
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts))


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    *,
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column -> (combine_fn_name, partial_expr) where
    ``combine_fn_name`` is one of sum/count/min/max; the partial runs
    per (keys, salt), then partials combine per keys (count combines
    with sum). Result is identical to a direct groupBy — only the
    shuffle layout changes: the first exchange hashes (keys, salt), so
    a hot key occupies ``n_salts`` reducers instead of one; the second
    exchange moves only ``n_salts`` pre-aggregated rows per group.
    The salt is a deterministic row-value hash (see :func:`_salt_col`).
    """
    salted = df.withColumn(_SALT, _salt_col(df, salt_cols, n_salts))
    partial = salted.groupBy(*keys, _SALT).agg(
        *[
            getattr(F, fn)(expr).alias(out)
            for out, (fn, expr) in aggs.items()
        ]
    )
    combine = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    return partial.groupBy(*keys).agg(
        *[
            getattr(F, combine[fn])(out).alias(out)
            for out, (fn, _) in aggs.items()
        ]
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    n_salts: int = 16,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-safe equi-join: salt the large side, replicate the small.

    The large side gets a deterministic row-value-hash salt in
    [0, n_salts) (see :func:`_salt_col` for why never
    ``monotonically_increasing_id``); the small side is exploded
    ``n_salts``× so every (key, salt) bucket finds its match. Shuffle
    volume for the small side grows n_salts×, but the large side's hot
    key now spreads over ``n_salts`` reducers. Use when AQE's runtime
    skew splitting isn't available (e.g. the join feeds a
    co-partitioned downstream op).

    Only joins that PRESERVE the large side are expressible with a
    replicated small side: an unmatched small-side key has all
    ``n_salts`` replicas unmatched, so right/full outer would emit its
    null-extended row ``n_salts`` times — silent row multiplication.
    Those ``how`` values are rejected; salt the other side instead.
    """
    if how.replace("outer", "").strip("_") in ("right", "full", ""):
        raise ValueError(
            f"salted_join(how={how!r}): right/full outer joins would "
            f"emit every unmatched small-side row n_salts times; swap "
            f"the inputs (salt the preserved side) instead"
        )
    keyed = large.withColumn(_SALT, _salt_col(large, salt_cols, n_salts))
    replicated = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = keyed.join(replicated, on=[*on, _SALT], how=how)
    return out.drop(_SALT)


def write_time_partitioned(
    df: DataFrame,
    path: str,
    *,
    ts_col: str,
    granularity: str = "month",
) -> None:
    """Persist partitioned by a derived coarse time key (the 100 TB
    layout for the fact tables — see SCALE.md "Scan layer").

    Queries filtering on ``ts_col`` prune whole partitions: Catalyst
    rewrites the filter against the derived ``p_<granularity>`` column
    when it appears in the predicate, and min/max row-group stats
    handle the rest. Partition count stays bounded (one per period),
    so no small-file explosion.
    """
    part = F.date_trunc(granularity, F.col(ts_col)).cast("date").alias(
        f"p_{granularity}"
    )
    (
        df.withColumn(f"p_{granularity}", part)
        .write.mode("overwrite")
        .partitionBy(f"p_{granularity}")
        .parquet(path)
    )


def bucketed_global_order(
    df: DataFrame,
    *,
    value_col: str,
    tiebreak_col: str,
    q: int = 1 << 20,
    descending: bool = False,
) -> DataFrame:
    """Global rank + running quantized sum WITHOUT a global window.

    ``Window.orderBy`` with no partition moves the entire input to ONE
    reducer — fine for a |weeks|-row rollup, a scale-stopper over
    per-customer aggregates (the WindowExec "No Partition Defined"
    warning). This computes the identical result with one sort plus
    per-partition offsets:

    1. range-partition on the FULL sort key — (value [DESC if
       ``descending``], tiebreak ASC) — into the session's
       ``spark.sql.shuffle.partitions`` ranges, tag each row with its
       range index ``__pid`` and pin that layout with one eager
       ``localCheckpoint`` (the range bounds come from a sample, so
       the layout must be materialized once for the offsets and the
       window to agree; it also keeps the passes below from replaying
       ``df``'s subtree);
    2. collect count and ``sum(floor(value*q))`` per ``__pid`` (at
       most one row per range) and take exclusive prefix sums on the
       driver in exact integers (counts are long, sums DECIMAL(38,0));
    3. run the rank/running-sum window PARTITIONED BY ``__pid`` and add
       the range's offsets: ``i = cnt_off + row_number``, ``cum_q =
       sum_off + running sum``.

    Output = input columns + ``i`` (global row_number ordered by
    (value [DESC], tiebreak ASC)), ``n`` (total row count), ``cum_q`` /
    ``total_q`` (inclusive running / grand total of ``floor(value*q)``
    as DECIMAL(38,0) — exact integers, so downstream double casts match
    a single-window plan bit-for-bit).

    Skew bound: the range partitioner splits on the whole key, so a
    point mass of one value (or sub-quantization jitter, or a string
    tiebreak) spreads over many ranges; the only irreducible residue
    is a heavy run of duplicated (value, tiebreak) pairs, as in any
    sort. The window re-shuffles by hash of ``__pid``, so one window
    task may hold a few ranges: the largest task read 0.13 of a 90 %
    point mass at 16 ranges and 0.016 at 200. ``value_col`` must be
    non-null and ``|value*q|`` must fit a long.

    Cost: that hash exchange is a second full shuffle. Measured warm
    on 4 cores against the former bucket-refinement design (600k
    rows, default session): a 90 % point mass 4.4–6.3 s / 30 jobs →
    1.6–2.1 s / 7 jobs; uniform values 1.9–2.4 s / 8 jobs → 2.0–2.7 s
    / 7 jobs — no gain there, the second shuffle costs about what the
    min/max and stats passes did.
    """
    from decimal import Decimal

    from pyspark.sql.window import Window

    out_cols = {"__pid", "i", "n", "cum_q", "total_q"}
    clash = out_cols & set(df.columns)
    if clash:
        raise ValueError(
            "bucketed_global_order reserves column names "
            f"{sorted(out_cols)}; input already has "
            f"{sorted(clash)} — rename them first"
        )
    n_ranges = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    vorder = F.desc(value_col) if descending else F.asc(value_col)
    order = [vorder, F.asc(tiebreak_col)]
    ranged = (
        df.repartitionByRange(n_ranges, *order)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )

    qv = F.floor(F.col(value_col) * q).cast("decimal(38,0)")
    stats = {
        r["__pid"]: (r["cnt"], int(r["qsum"]))
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(qv).alias("qsum"))
        .collect()
    }
    cnt_off, sum_off = [], []
    n_total = q_total = 0
    for pid in range(max(stats, default=-1) + 1):
        cnt_off.append(n_total)
        sum_off.append(q_total)
        cnt, qsum = stats.get(pid, (0, 0))
        n_total += cnt
        q_total += qsum

    def at_pid(values: list[int], dtype: str) -> Column:
        arr = F.expr(array_literal(values, f"array<{dtype}>"))
        return F.element_at(arr, F.col("__pid") + 1)

    within = Window.partitionBy("__pid").orderBy(*order)
    running = within.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ranged.select(
        *df.columns,
        (at_pid(cnt_off, "bigint") + F.row_number().over(within)).alias("i"),
        F.lit(n_total).cast("bigint").alias("n"),
        (at_pid(sum_off, "decimal(38,0)") + F.sum(qv).over(running))
        .cast("decimal(38,0)")
        .alias("cum_q"),
        F.lit(Decimal(q_total)).cast("decimal(38,0)").alias("total_q"),
    )
