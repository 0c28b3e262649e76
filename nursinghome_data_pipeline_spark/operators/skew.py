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
    bucket_width: int | None = None,
    n_buckets: int = 4096,
    descending: bool = False,
    debug_stats: dict | None = None,
) -> DataFrame:
    """Global rank + running quantized sum WITHOUT a global window.

    ``Window.orderBy`` with no partition moves the entire input to ONE
    reducer — fine for a |weeks|-row rollup, a scale-stopper over
    per-customer aggregates (the WindowExec "No Partition Defined"
    warning). This computes the identical result with the two-phase
    bucket-offset pattern, fully deterministic (no sampled range
    boundaries, so stage retries reproduce the same layout —
    the same reasoning as :func:`_salt_col`):

    1. bucket each row by its quantized value (``floor(value*q) //
       bucket_width`` — a pure function of the row, monotone in the
       sort order);
    2. aggregate per-bucket counts and quantized sums (one narrow
       shuffle) and COLLECT them — ``domain/bucket_width`` rows, a
       constant independent of data size — then exclusive-prefix-sum
       the offsets driver-side in exact integer arithmetic (counts
       are long, sums DECIMAL(38,0); no window, no extra job, no
       single-partition exchange anywhere in the plan);
    3. broadcast the literal offsets back and run the rank/running-sum
       window PARTITIONED BY bucket: ``i = bucket_count_offset +
       row_number-within-bucket``, ``cum_q = bucket_sum_offset +
       running-sum-within-bucket``.

    Output = input columns + ``i`` (global row_number ordered by
    (value [DESC if ``descending``], tiebreak ASC)), ``n`` (total row
    count), ``cum_q`` / ``total_q`` (inclusive running / grand total of
    ``floor(value*q)`` as DECIMAL(38,0) — exact integers, so downstream
    double casts match a single-window plan bit-for-bit).

    Skew bound — ITERATIVE REFINEMENT (adversarial inputs only; ≤
    ``MAX_REFINE_ROUNDS`` extra rounds, one bounded collect each):
    after the level-0 bucketing, a per-group stats pass (count + exact
    min/max of value/quantized value/tiebreak — exact aggregates, so
    deterministic under stage retry) finds groups over 4× the mean
    population, and each is split by whichever key still has room,
    order-preservingly:

    - multiple quantized values → finer VALUE split (64 sub-ranges of
      the group's own qv span — the "narrow the width" move, applied
      only where needed so the offset table stays ~``n_buckets``);
    - one quantized value but multiple raw values → 64-way split of
      the group's OWN raw span (adaptive — monotone, so order-safe;
      shrinks the span ~64× per round down to double ulps);
    - one raw value (a true point mass) → TIEBREAK range split, valid
      exactly because the sort key ``(value, tiebreak)`` degenerates to
      the tiebreak inside a single-value group; requires an integral
      ``tiebreak_col``.

    A point mass needs one tiebreak round after however many VALUE
    rounds it takes to isolate it: each mode-1 round divides the
    group's qv span by 64, so the cascade depth is
    ``log64(bucket_qv_span / neighbor_qv_spacing)`` — typically 1, but
    a wide domain can put a neighboring quantized value inside the
    first split's sub-bucket and require a second value round before
    the tiebreak round (observed at the 4M-row skew probe; a fixed
    2-round cap left the 90% mass UNSPLIT there, which is exactly why
    the cap is now the loop's safety net rather than its schedule —
    the loop exits when no heavy group is splittable, and
    ``MAX_REFINE_ROUNDS`` only bounds adversarial nesting). Uniform
    data exits after the first stats pass, which doubles as the
    offsets aggregate — the well-behaved path costs exactly what the
    unrefined operator did.
    Residual irreducible skew: a heavy group of duplicated
    (value, tiebreak) pairs — like any sort — or a non-integral
    tiebreak over a point mass.
    ``value_col`` must be non-null and ``|value*q|`` must fit a long.
    Pass ``debug_stats={}`` to receive {"rounds", "refined_groups"}.

    ``bucket_width`` defaults to DOMAIN-ADAPTIVE: one exact min/max
    pass sizes the width so occupied buckets ≈ ``n_buckets`` whatever
    the value range — a fixed width would make the offset-table size
    (and its broadcast) depend on the data's domain, exploding on
    wide-spread values and collapsing to one bucket on narrow ones.
    min/max is exact aggregation, not sampling, so the layout is
    deterministic under stage retry like everything else here.

    The operator makes 2-3 passes over ``df`` (width min/max, stats,
    the final window; +1 per refinement round), so it localCheckpoints
    ``df`` once and every pass re-reads that materialization instead
    of replaying ``df``'s subtree — in the rank-the-aggregate shape
    (a group-by of a much larger fact table) the replay would re-run
    the group-by per pass.
    """
    from pyspark.sql.window import Window

    reserved = {
        "__bkt", "__cnt", "__sum", "__cnt_off", "__sum_off",
        "__sub", "__vmin", "__vmax", "__qmin", "__qmax",
        "__tmin", "__tmax", "__mode", "__base", "__w",
    }
    out_cols = {"i", "n", "cum_q", "total_q"}
    clash = (reserved | out_cols) & set(df.columns)
    if clash:
        raise ValueError(
            "bucketed_global_order reserves column names "
            f"{sorted(reserved | out_cols)}; input already has "
            f"{sorted(clash)} — rename them first"
        )
    df = df.localCheckpoint(eager=True)

    qv_long = F.floor(F.col(value_col) * q).cast("long")
    qv_dec = F.floor(F.col(value_col) * q).cast("decimal(38,0)")
    if bucket_width is None:
        row = df.agg(
            F.min(qv_long).alias("lo"), F.max(qv_long).alias("hi")
        ).first()
        if row["lo"] is None:  # empty input: any width works
            bucket_width = 1
        else:
            bucket_width = max(1, (row["hi"] - row["lo"]) // n_buckets + 1)
    bucket = F.floor(qv_long / F.lit(bucket_width)).cast("long")
    rows = df.withColumn("__bkt", bucket).withColumn(
        "__sub", F.lit(0).cast("long")
    )

    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    tb_integral = isinstance(
        df.schema[tiebreak_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    qtb = F.col(tiebreak_col).cast("long") if tb_integral else F.lit(None)

    # Iterative refinement (see docstring). Each round's stats pass is
    # the same narrow map-side-combined aggregate the offsets need, so
    # the final round's stats ARE the offsets input and the no-skew
    # path costs one stats pass total. Groups bounded by the mean-4x
    # threshold (≤ occupied/4 heavy groups, collected with an explicit
    # deterministic cap); locals are hierarchically encoded so one
    # round's split nests inside the previous order.
    N_SUB = 64
    BASE = N_SUB + 2  # locals occupy [0, N_SUB+1]: 0 = null tiebreak
    sign = -1.0 if descending else 1.0
    stats_aggs = [
        F.count(F.lit(1)).alias("__cnt"),
        F.sum(qv_dec).alias("__sum"),
        F.min(value_col).alias("__vmin"),
        F.max(value_col).alias("__vmax"),
        F.min(qv_long).alias("__qmin"),
        F.max(qv_long).alias("__qmax"),
        F.min(qtb).alias("__tmin"),
        F.max(qtb).alias("__tmax"),
    ]
    spark = df.sparkSession
    per_key_rows = None
    rounds = 0
    refined_groups = 0
    # Safety net, not a schedule: the loop exits as soon as no heavy
    # group is splittable (uniform data: after ONE stats pass). Each
    # mode-1 round divides a heavy group's qv span by 64, so the cap
    # only binds on adversarially nested inputs; 8 levels cover span
    # ratios of 64^8 ≈ 2.8e14 — wider than any long-valued qv domain
    # the operator accepts. A fixed cap of 2 was measurably wrong: at
    # the 4M-row probe the first value split left a neighboring
    # quantized value inside the mass's sub-bucket, the second (last)
    # round re-split by value, and the tiebreak round never ran —
    # max window partition stayed at 90% while rounds/groups looked
    # healthy. (Caught by measuring realized populations, ADVICE r4.)
    MAX_REFINE_ROUNDS = 8
    for round_i in range(MAX_REFINE_ROUNDS + 1):
        # ONE bounded collect per round: the group-stats table is
        # ≤ occupied-buckets rows (~n_buckets; ≤ heavy×(N_SUB+2) more
        # per refinement round) — small enough that the heavy-group
        # scan, the mean, AND the exclusive prefix sums the offsets
        # need are all driver-side Python over exact values (counts
        # are long, sums DECIMAL(38,0), min/max exact), replacing the
        # former per-round localCheckpoint + two auxiliary jobs + a
        # single-partition offsets window with zero extra jobs.
        stats_rows = rows.groupBy("__bkt", "__sub").agg(*stats_aggs).collect()
        rounds += 1
        mean_cnt = sum(r["__cnt"] for r in stats_rows) / max(
            len(stats_rows), 1
        )
        heavy = (
            sorted(
                (r for r in stats_rows if r["__cnt"] > 4.0 * mean_cnt),
                key=lambda r: (-r["__cnt"], r["__bkt"], r["__sub"]),
            )[:1024]  # deterministic cap on the broadcast plan
            if round_i < MAX_REFINE_ROUNDS
            else []
        )
        plans = []
        for r in heavy:
            # mode 1: finer value split over the group's own qv span;
            # mode 2: single qv, multiple raw values → split the
            #   group's OWN raw span 64 ways (adaptive, like mode 1 —
            #   a FIXED extra resolution was measurably wrong: jitter
            #   below its grid left the mass unsplit while burning
            #   rounds with zero progress; splitting the observed span
            #   guarantees ~64× shrink per round down to double ulps);
            # mode 3: true point mass → tiebreak range split.
            if r["__qmin"] < r["__qmax"]:
                base = float(r["__qmax"] if descending else r["__qmin"])
                w = (r["__qmax"] - r["__qmin"]) // N_SUB + 1
                plans.append((r["__bkt"], r["__sub"], 1, base, float(w)))
            elif r["__vmin"] < r["__vmax"]:
                base = float(r["__vmax"] if descending else r["__vmin"])
                w = (float(r["__vmax"]) - float(r["__vmin"])) / N_SUB
                if w > 0.0:  # underflows to 0 only within ~64 ulps
                    plans.append((r["__bkt"], r["__sub"], 2, base, w))
            elif (
                tb_integral
                and r["__tmax"] is not None
                and r["__tmin"] is not None
                and r["__tmax"] > r["__tmin"]
            ):
                w = (r["__tmax"] - r["__tmin"]) // N_SUB + 1
                plans.append(
                    (r["__bkt"], r["__sub"], 3, float(r["__tmin"]), float(w))
                )
            # else: duplicated (value, tiebreak) pairs — irreducible
        if not plans:
            per_key_rows = stats_rows
            break
        refined_groups += len(plans)
        import pandas as pd

        # pandas → Arrow → JVM LocalTableScan (see the offsets note:
        # a list-backed relation would re-pay a Python-worker round
        # trip on every downstream action that replays this lineage)
        plan_df = spark.createDataFrame(
            pd.DataFrame(
                plans, columns=["__bkt", "__sub", "__mode", "__base", "__w"]
            ),
            "__bkt long, __sub long, __mode int, __base double, __w double",
        )
        # order-preserving local index per mode; +1 shifts null-tiebreak
        # rows to 0 so they sort first, matching asc-nulls-first
        local = (
            F.when(
                F.col("__mode") == 1,
                F.floor(
                    (qv_long.cast("double") - F.col("__base"))
                    * F.lit(sign)
                    / F.col("__w")
                ),
            )
            .when(
                F.col("__mode") == 2,
                F.floor(
                    (F.col(value_col) - F.col("__base"))
                    * F.lit(sign)
                    / F.col("__w")
                ),
            )
            .when(
                F.col("__mode") == 3,
                F.floor(
                    (qtb.cast("double") - F.col("__base")) / F.col("__w")
                ),
            )
        )
        rows = (
            rows.join(F.broadcast(plan_df), ["__bkt", "__sub"], "left")
            .withColumn(
                "__sub",
                F.col("__sub") * BASE
                + F.when(F.col("__mode").isNull(), F.lit(0)).otherwise(
                    F.coalesce(local + 1, F.lit(0)).cast("long")
                ),
            )
            .drop("__mode", "__base", "__w")
        )
    if debug_stats is not None:
        debug_stats["rounds"] = rounds
        debug_stats["refined_groups"] = refined_groups
        # REALIZED window-partition bound, measured from the final
        # round's per-(__bkt,__sub) populations — not a derived
        # even-split assumption (ADVICE r4): this is exactly the row
        # count of the largest partition WindowExec will sort.
        debug_stats["max_partition_rows"] = max(
            (r["__cnt"] for r in per_key_rows), default=0
        )
        debug_stats["total_rows"] = sum(r["__cnt"] for r in per_key_rows)

    keys = ["__bkt", "__sub"]
    # exclusive prefix sums over the bucket order (__bkt DESC if
    # descending else ASC; __sub always ASC — locals are direction-
    # encoded) computed driver-side: exact integer arithmetic over the
    # bounded collected stats, then shipped back as a literal relation
    # for the broadcast join — no window, no extra job, and stage
    # retries replay the same literals by construction.
    from decimal import Decimal

    ordered = sorted(
        per_key_rows,
        key=lambda r: (-r["__bkt"] if descending else r["__bkt"], r["__sub"]),
    )
    n_total = sum(r["__cnt"] for r in ordered)
    q_total = sum(int(r["__sum"]) for r in ordered)
    off_rows = []
    cnt_off, sum_off = 0, 0
    for r in ordered:
        off_rows.append(
            (
                r["__bkt"],
                r["__sub"],
                cnt_off,
                Decimal(sum_off),
                n_total,
                Decimal(q_total),
            )
        )
        cnt_off += r["__cnt"]
        sum_off += int(r["__sum"])
    off_schema = (
        "__bkt long, __sub long, __cnt_off long, "
        "__sum_off decimal(38,0), n long, total_q decimal(38,0)"
    )
    if off_rows:
        import pandas as pd

        # via pandas: Arrow conversion yields a JVM LocalTableScan;
        # a plain Python list backs the relation with a pickled RDD
        # whose every evaluation pays a Python-worker round trip
        # (measured 1.5 s vs 0.2 s on a 2.4k-row offsets table)
        offsets = spark.createDataFrame(
            pd.DataFrame(
                off_rows,
                columns=[
                    "__bkt", "__sub", "__cnt_off", "__sum_off",
                    "n", "total_q",
                ],
            ),
            off_schema,
        )
    else:  # empty input
        offsets = spark.createDataFrame([], off_schema)

    vorder = F.desc(value_col) if descending else F.asc(value_col)
    within = Window.partitionBy(*keys).orderBy(vorder, F.asc(tiebreak_col))
    running = within.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        rows.join(F.broadcast(offsets), keys)
        .select(
            *df.columns,
            (F.col("__cnt_off") + F.row_number().over(within)).alias("i"),
            "n",
            (F.col("__sum_off") + F.sum(qv_dec).over(running))
            .cast("decimal(38,0)")
            .alias("cum_q"),
            "total_q",
        )
    )

