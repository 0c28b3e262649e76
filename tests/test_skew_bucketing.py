"""Skew-mitigation and bucketing operators: results must be identical
to the unsalted/unbucketed plans; bucketed joins must be shuffle-free."""

from __future__ import annotations

from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.skew import (
    salted_aggregate,
    salted_join,
)
from nursinghome_data_pipeline_spark.plans import executed_plan


def _skewed_df(spark):
    # 90% of rows share one hot key
    return spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, "HOT").otherwise(F.concat(F.lit("k"), F.col("id"))).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_aggregate_matches_plain(spark):
    df = _skewed_df(spark)
    plain = df.groupBy("k").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"), F.max("v").alias("m")
    )
    salted = salted_aggregate(
        df,
        ["k"],
        {
            "s": ("sum", F.col("v")),
            "n": ("count", F.lit(1)),
            "m": ("max", F.col("v")),
        },
        n_salts=8,
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_salt_is_deterministic_under_recomputation(spark):
    """The salt must reproduce identical bucket assignments when the
    plan is recomputed from scratch (task retry / stage retry model) —
    a monotonically_increasing_id- or rand-derived salt would not."""
    from nursinghome_data_pipeline_spark.operators.skew import _SALT, _salt_col

    df = _skewed_df(spark)
    a = df.withColumn(_SALT, _salt_col(df, None, 8)).collect()
    # force an independent end-to-end recomputation with different
    # upstream partitioning — deterministic salts must not care
    b = (
        df.repartition(13)
        .withColumn(_SALT, _salt_col(df, None, 8))
        .collect()
    )
    key = lambda r: (r["k"], r["v"], r[_SALT])
    assert sorted(a, key=key) == sorted(b, key=key)
    # and salts actually spread the hot key over multiple buckets
    hot_salts = {r[_SALT] for r in a if r["k"] == "HOT"}
    assert len(hot_salts) > 1


def test_salted_aggregate_stable_across_runs(spark):
    df = _skewed_df(spark)
    aggs = {"s": ("sum", F.col("v")), "n": ("count", F.lit(1))}
    r1 = sorted(salted_aggregate(df, ["k"], aggs, n_salts=8).collect())
    r2 = sorted(salted_aggregate(df.repartition(7), ["k"], aggs, n_salts=8).collect())
    assert r1 == r2


def test_salted_join_matches_plain(spark):
    large = _skewed_df(spark)
    small = spark.createDataFrame(
        [("HOT", 1), ("k5", 2), ("missing", 3)], "k string, tag int"
    )
    plain = large.join(small, on="k").select("k", "v", "tag")
    salted = salted_join(large, small, ["k"], n_salts=4).select("k", "v", "tag")
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    for df, table, key in (
        (orders, "b_orders", "o_custkey"),
        (customer, "b_customer", "c_custkey"),
    ):
        df.write.mode("overwrite").format("parquet").bucketBy(8, key).sortBy(
            key
        ).saveAsTable(table)
    joined = (
        spark.table("b_orders")
        .join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "c_name")
    )
    # disable broadcast so the co-located sort-merge path is exercised
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert "Exchange" not in executed_plan(joined)
        plain = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .join(
                spark.read.parquet(f"{sf_dir}/customer.parquet"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", "c_name")
        )
        assert sorted(joined.collect()) == sorted(plain.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_salted_join_rejects_small_side_preserving_outer(spark):
    # replicated-small salting cannot express right/full outer: every
    # unmatched small-side key would emit its null-extended row once
    # per salt replica (silent row multiplication)
    import pytest

    large = _skewed_df(spark)
    small = spark.createDataFrame([("HOT", 1), ("nope", 2)], "k string, tag int")
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="unmatched small-side row"):
            salted_join(large, small, ["k"], how=how)
    # left outer preserves the salted (large) side — allowed and exact
    plain = large.join(small, ["k"], "left")
    salted = salted_join(large, small, ["k"], how="left", n_salts=8)
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_bucketed_global_order_matches_global_window(spark):
    """The two-phase bucket-offset plan must equal a plain global
    window bit-for-bit, including duplicate values, negatives, and
    bucket-boundary-straddling values, in both directions."""
    from pyspark.sql.window import Window

    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    bw = float(1 << 22) / (1 << 20)  # value whose quantized form sits
    rows = [                         # exactly on a bucket boundary
        (1, 5.25), (2, 5.25), (3, -3.5), (4, 0.0), (5, 1000.75),
        (6, 5.25), (7, 999.5), (8, -3.5), (9, 17.0), (10, 0.001),
        (11, bw), (12, 2 * bw), (13, -bw), (14, bw - 0.001),
    ]
    df = spark.createDataFrame(rows, "ck long, rev double")
    q = 1 << 20
    for descending in (False, True):
        vorder = F.desc("rev") if descending else F.asc("rev")
        w = Window.orderBy(vorder, F.asc("ck"))
        term = F.floor(F.col("rev") * q).cast("decimal(38,0)")
        ref = {
            r.ck: (r.i, r.n, int(r.cum_q), int(r.total_q))
            for r in df.select(
                "ck",
                F.row_number().over(w).alias("i"),
                F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
                F.sum(term)
                .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                .alias("cum_q"),
                F.sum(term).over(Window.partitionBy()).alias("total_q"),
            ).collect()
        }
        # fixed small width (several buckets), domain-adaptive default,
        # and degenerate width=1 (every distinct value its own bucket)
        for bucket_width in (1 << 22, None, 1):
            got = {
                r.ck: (r.i, r.n, int(r.cum_q), int(r.total_q))
                for r in bucketed_global_order(
                    df,
                    value_col="rev",
                    tiebreak_col="ck",
                    q=q,
                    bucket_width=bucket_width,
                    descending=descending,
                ).collect()
            }
            assert got == ref, f"descending={descending} width={bucket_width}"


def test_bucketed_global_order_window_is_partitioned(spark):
    """The wide input's WindowExec must be partitioned (by bucket) —
    the single-reducer 'No Partition Defined' shape is the bug this
    operator exists to avoid. Only the bounded per-bucket offset frame
    may use an unpartitioned window."""
    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    df = spark.range(5000).select(
        F.col("id").alias("ck"), (F.col("id") % 613).cast("double").alias("rev")
    )
    out = bucketed_global_order(
        df, value_col="rev", tiebreak_col="ck", bucket_width=1 << 22
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # every windowspecdefinition over the row-level frame must carry a
    # partition expression; the offsets frame's spec (over __bkt rows)
    # is the only allowed unpartitioned one and its frame is bounded
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the plan"
    # row-level windows are identified by ordering on (rev, ck)
    row_level = [s for s in specs if "rev" in s and "ck" in s]
    assert row_level, f"no row-level window spec found in: {specs}"
    for s in row_level:
        assert "__bkt" in s, f"row-level window is unpartitioned: {s}"


def test_bucketed_global_order_rejects_reserved_columns(spark):
    """Internal (__bkt/__cnt/...) and output (i/n/cum_q/total_q) names
    colliding with input columns would silently overwrite or duplicate
    columns — the operator must refuse instead."""
    import pytest

    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    for bad in ("__bkt", "n", "cum_q", "i", "total_q"):
        df = spark.createDataFrame(
            [(1, 2.0, 9)], f"ck long, rev double, {bad} long"
        )
        with pytest.raises(ValueError, match=bad):
            bucketed_global_order(df, value_col="rev", tiebreak_col="ck")


def test_bucketed_global_order_splits_point_mass_ties(spark):
    """90%-one-value adversarial skew: identical values share a bucket
    at ANY width, so the tie-split path must (a) still match the
    global-window reference bit-for-bit and (b) break the point mass
    across tiebreak sub-buckets so no window partition holds the 90%."""
    from pyspark.sql.window import Window

    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    n = 20_000
    # wide value domain: the point-mass bucket also contains OTHER
    # distinct values (the case a single-round vmin==vmax check
    # misses), so splitting takes a finer value round THEN a tiebreak
    # round — the full iterative path
    df = spark.range(n).select(
        F.col("id").alias("ck"),
        F.when(F.col("id") % 10 < 9, F.lit(42.5))
        .otherwise((F.col("id") % 613_211).cast("double") / 7.0)
        .alias("rev"),
    )
    q = 1 << 20
    w = Window.orderBy(F.asc("rev"), F.asc("ck"))
    term = F.floor(F.col("rev") * q).cast("decimal(38,0)")
    ref = {
        r.ck: (r.i, r.n, int(r.cum_q), int(r.total_q))
        for r in df.select(
            "ck",
            F.row_number().over(w).alias("i"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
            F.sum(term)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum_q"),
            F.sum(term).over(Window.partitionBy()).alias("total_q"),
        ).collect()
    }
    dbg: dict = {}
    out = bucketed_global_order(
        df, value_col="rev", tiebreak_col="ck", q=q, debug_stats=dbg
    )
    got = {
        r.ck: (r.i, r.n, int(r.cum_q), int(r.total_q)) for r in out.collect()
    }
    assert got == ref
    # both refinement rounds must have fired: value split isolates the
    # mass, tiebreak split spreads it
    assert dbg["rounds"] >= 2 and dbg["refined_groups"] >= 2, dbg
    # MEASURED realized bound (not an even-split assumption): the
    # largest final (__bkt,__sub) partition — exactly what WindowExec
    # sorts — must hold a small fraction despite the 90% point mass
    assert dbg["total_rows"] == 20_000, dbg
    assert 0 < dbg["max_partition_rows"] <= 0.05 * dbg["total_rows"], dbg
    # the heavy value's rows must be spread over many sub-partitions:
    # reconstruct per-(rank-contiguous) run sizes via the i column —
    # equivalently assert the largest single window partition is small
    # by checking ranks of the point mass span ~64 sub-buckets
    heavy_ranks = sorted(
        r.i for r in out.where(F.col("rev") == 42.5).collect()
    )
    assert len(heavy_ranks) == 18_000
    # contiguity sanity: the point mass occupies one contiguous rank run
    assert heavy_ranks[-1] - heavy_ranks[0] == len(heavy_ranks) - 1
    # plan-level: WindowExec partitions by (__bkt, __sub); measure the
    # actual max partition population
    from nursinghome_data_pipeline_spark.operators.skew import (  # noqa
        bucketed_global_order as _b,
    )
    # re-derive the internal partition sizes: group the output by the
    # same composite the operator used — expose via a probe: max run of
    # equal (rev) per sub-bucket can't be read back, so assert plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__sub" in plan, "tie-split path did not engage"


def test_bucketed_global_order_randomized_differential(spark):
    """Seeded random distributions (mixtures of point masses, tight
    clusters, negatives, wide tails) × both directions must match the
    single-window plan bit-for-bit — the refinement rounds fire or not
    depending on the draw, and either way the contract is exact
    parity. Tiebreaks are unique so ranks are well-defined."""
    import random

    from pyspark.sql.window import Window

    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    q = 1 << 20
    for seed in (11, 23):
        rng = random.Random(seed)
        masses = [round(rng.uniform(-50, 50), 2) for _ in range(3)]
        rows = []
        for ck in range(6000):
            r = rng.random()
            if r < 0.55:
                v = masses[ck % 3]  # heavy identical-value masses
            elif r < 0.8:
                v = masses[0] + rng.random() * 1e-4  # near-mass cluster
            else:
                v = rng.uniform(-1e6, 1e6)
            rows.append((ck, v))
        df = spark.createDataFrame(rows, "ck long, rev double")
        term = F.floor(F.col("rev") * q).cast("decimal(38,0)")
        for descending in (False, True):
            vorder = F.desc("rev") if descending else F.asc("rev")
            w = Window.orderBy(vorder, F.asc("ck"))
            ref = {
                r.ck: (r.i, int(r.cum_q))
                for r in df.select(
                    "ck",
                    F.row_number().over(w).alias("i"),
                    F.sum(term)
                    .over(
                        w.rowsBetween(
                            Window.unboundedPreceding, Window.currentRow
                        )
                    )
                    .alias("cum_q"),
                ).collect()
            }
            got = {
                r.ck: (r.i, int(r.cum_q))
                for r in bucketed_global_order(
                    df,
                    value_col="rev",
                    tiebreak_col="ck",
                    q=q,
                    descending=descending,
                ).collect()
            }
            assert got == ref, f"seed={seed} descending={descending}"


def test_bucketed_global_order_nonintegral_tiebreak_and_empty(spark):
    """A string tiebreak disables the tiebreak-split mode (3) but must
    leave value splits working and the refinement loop terminating —
    an irreducible heavy group yields no plan, so the loop exits
    instead of burning its round budget. Empty input returns empty."""
    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    df = spark.createDataFrame(
        [(f"id{i:05d}", 42.5 if i % 10 < 9 else i / 7.0) for i in range(2000)],
        "ck string, rev double",
    )
    dbg: dict = {}
    out = bucketed_global_order(
        df, value_col="rev", tiebreak_col="ck", debug_stats=dbg
    )
    rows = out.orderBy("i").collect()
    assert [r.i for r in rows] == list(range(1, 2001))
    # ascending by (rev, ck): non-mass values below 42.5 come first
    assert rows[0].ck == "id00009" and rows[0].n == 2000
    # the point mass is rank-contiguous and string-ordered within
    mass = [r.ck for r in rows if r.rev == 42.5]
    assert mass == sorted(mass) and len(mass) == 1800

    empty = spark.createDataFrame([], "ck long, rev double")
    assert (
        bucketed_global_order(empty, value_col="rev", tiebreak_col="ck").count()
        == 0
    )


def test_point_mass_split_survives_wide_domains(spark):
    """r5 regression: with a wide value domain the first 64-way value
    split can leave a NEIGHBORING quantized value inside the point
    mass's sub-bucket, so the cascade is value -> value -> tiebreak —
    three refinement rounds. The old fixed 2-round cap silently left
    the 90% mass unsplit at this shape (rounds/groups looked healthy;
    only measuring realized populations exposed it). The cap is now a
    safety net: the loop runs until no heavy group is splittable."""
    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    n = 600_000
    pm = (
        spark.range(n)
        .select(F.col("id").alias("ck"))
        .withColumn(
            "rev",
            F.when(F.col("ck") % 10 < 9, F.lit(42.5)).otherwise(
                (F.col("ck") % 613_211).cast("double") / 7.0
            ),
        )
    )
    dbg: dict = {}
    out = bucketed_global_order(
        pm, value_col="rev", tiebreak_col="ck", debug_stats=dbg
    )
    out.write.format("noop").mode("overwrite").save()
    assert dbg["rounds"] >= 4, dbg  # value, value, tiebreak, final stats
    assert dbg["total_rows"] == n
    assert dbg["max_partition_rows"] <= 0.01 * n, dbg


def test_sub_quantization_point_mass_splits_by_observed_span(spark):
    """r5 regression (mode 2): 90% of rows share one QUANTIZED value
    but differ in raw doubles by ~2^-41 — below the old fixed 2^20
    extra-resolution grid, which mapped every row to local 0 and
    burned all refinement rounds with zero progress (realized share
    stayed 0.9). Mode 2 now splits the group's OWN raw span 64 ways,
    so progress is guaranteed down to double ulps."""
    from pyspark.sql.window import Window

    from nursinghome_data_pipeline_spark.operators.skew import (
        bucketed_global_order,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("ck"),
        F.when(
            F.col("id") % 10 < 9,
            F.lit(42.5)
            + (F.col("id") % 997).cast("double") / F.lit(float(1 << 41)),
        )
        .otherwise((F.col("id") % 613).cast("double") / 7.0)
        .alias("rev"),
    )
    dbg: dict = {}
    out = bucketed_global_order(
        df, value_col="rev", tiebreak_col="ck", debug_stats=dbg
    )
    got = {r.ck: (r.i, int(r.cum_q)) for r in out.select("ck", "i", "cum_q").collect()}
    assert dbg["max_partition_rows"] <= 0.01 * n, dbg
    assert dbg["rounds"] <= 4, dbg  # adaptive span: no wasted rounds
    w = Window.orderBy(F.asc("rev"), F.asc("ck"))
    term = F.floor(F.col("rev") * (1 << 20)).cast("decimal(38,0)")
    ref = {
        r.ck: (r.i, int(r.cum_q))
        for r in df.select(
            "ck",
            F.row_number().over(w).alias("i"),
            F.sum(term)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum_q"),
        ).collect()
    }
    assert got == ref
