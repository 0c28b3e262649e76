"""Skew-mitigation and bucketing operators: results must be identical
to the unsalted/unbucketed plans; bucketed joins must be shuffle-free."""

from __future__ import annotations

import re
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nursinghome_data_pipeline_spark.operators.skew import (
    bucketed_global_order,
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
    large = _skewed_df(spark)
    small = spark.createDataFrame([("HOT", 1), ("nope", 2)], "k string, tag int")
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="unmatched small-side row"):
            salted_join(large, small, ["k"], how=how)
    # left outer preserves the salted (large) side — allowed and exact
    plain = large.join(small, ["k"], "left")
    salted = salted_join(large, small, ["k"], how="left", n_salts=8)
    assert sorted(plain.collect()) == sorted(salted.collect())


@contextmanager
def _session_confs(spark, confs: dict[str, str]):
    """Set session confs for the block, then restore them."""
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _global_window_ref(df, key, *, q=1 << 20, descending=False):
    """{key: (i, n, cum_q, total_q)} from the single-reducer window
    ``bucketed_global_order`` must reproduce bit-for-bit."""
    vorder = F.desc("rev") if descending else F.asc("rev")
    w = Window.orderBy(vorder, F.asc("ck"))
    term = F.floor(F.col("rev") * q).cast("decimal(38,0)")
    return {
        r[key]: (r.i, r.n, int(r.cum_q), int(r.total_q))
        for r in df.select(
            key,
            F.row_number().over(w).alias("i"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
            F.sum(term)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum_q"),
            F.sum(term).over(Window.partitionBy()).alias("total_q"),
        ).collect()
    }


def _ordered(out, key):
    return {
        r[key]: (r.i, r.n, int(r.cum_q), int(r.total_q)) for r in out.collect()
    }


def test_bucketed_global_order_matches_global_window(spark):
    """The range-partition + offsets plan must equal a plain global
    window bit-for-bit — duplicate values, negatives, NaN (sorts above
    every number), -0.0 (ties 0.0), NULL tiebreaks (sort first) — in
    both directions, whether the input lands in one range, a few, or
    more ranges than rows. Empty input returns empty."""
    rows = [
        (1, 1, 5.25), (2, 2, 5.25), (3, 3, -3.5), (4, 4, 0.0),
        (5, 5, 1000.75), (6, 6, 5.25), (7, 7, 999.5), (8, 8, -3.5),
        (9, 9, 17.0), (10, 10, 0.001), (11, 11, float("nan")),
        (12, 12, -0.0), (13, 13, float("nan")), (14, None, 5.25),
        (15, None, -0.0), (16, 16, 0.0), (17, None, float("nan")),
    ]
    df = spark.createDataFrame(rows, "rid long, ck long, rev double")
    for descending in (False, True):
        ref = _global_window_ref(df, "rid", descending=descending)
        for n_ranges in (1, 3, 64):
            with _session_confs(
                spark, {"spark.sql.shuffle.partitions": str(n_ranges)}
            ):
                got = _ordered(
                    bucketed_global_order(
                        df,
                        value_col="rev",
                        tiebreak_col="ck",
                        descending=descending,
                    ),
                    "rid",
                )
            assert got == ref, f"descending={descending} ranges={n_ranges}"
    empty = spark.createDataFrame([], "ck long, rev double")
    assert (
        bucketed_global_order(empty, value_col="rev", tiebreak_col="ck").count()
        == 0
    )


def test_bucketed_global_order_window_is_partitioned(spark):
    """The wide input's WindowExec must be partitioned (by range id) —
    the single-reducer 'No Partition Defined' shape is the bug this
    operator exists to avoid."""
    df = spark.range(5000).select(
        F.col("id").alias("ck"), (F.col("id") % 613).cast("double").alias("rev")
    )
    out = bucketed_global_order(df, value_col="rev", tiebreak_col="ck")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every windowspecdefinition over the row-level frame (identified
    # by its ordering on (rev, ck)) must carry the range partition key
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    row_level = [s for s in specs if "rev" in s and "ck" in s]
    assert row_level, f"no row-level window spec found in: {specs}"
    for s in row_level:
        assert "__pid" in s, f"row-level window is unpartitioned: {s}"


def test_bucketed_global_order_rejects_reserved_columns(spark):
    """The internal ``__pid`` and the output (i/n/cum_q/total_q) names
    colliding with input columns would silently overwrite or duplicate
    columns — the operator must refuse instead."""
    for bad in ("__pid", "n", "cum_q", "i", "total_q"):
        df = spark.createDataFrame(
            [(1, 2.0, 9)], f"ck long, rev double, {bad} long"
        )
        with pytest.raises(ValueError, match=bad):
            bucketed_global_order(df, value_col="rev", tiebreak_col="ck")


def test_bucketed_global_order_randomized_differential(spark):
    """Seeded random distributions (mixtures of point masses, tight
    clusters, negatives, wide tails) × both directions must match the
    single-window plan bit-for-bit. Tiebreaks are unique so ranks are
    well-defined."""
    import random

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
        for descending in (False, True):
            got = _ordered(
                bucketed_global_order(
                    df, value_col="rev", tiebreak_col="ck", descending=descending
                ),
                "ck",
            )
            assert got == _global_window_ref(
                df, "ck", descending=descending
            ), f"seed={seed} descending={descending}"


def _max_task_shuffle_records(spark, action) -> int:
    """Run ``action`` under a fresh job group; return the largest
    per-task shuffle-read record count over its stages, from the status
    store's task records."""
    sc = spark.sparkContext
    group = f"skew-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "realized window-partition bound")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    most = 0
    for job in sc.statusTracker().getJobIdsForGroup(group):
        for stage in sc.statusTracker().getJobInfo(job).stageIds:
            tasks = store.taskList(stage, 0, 100_000)
            for t in range(tasks.size()):
                m = tasks.apply(t).taskMetrics()
                if m.isDefined():
                    most = max(most, m.get().shuffleReadMetrics().recordsRead())
    return most


def _mass(other):
    """90 % of rows at 42.5, the rest ``other(id)``."""
    return lambda i: F.when(i % 10 < 9, F.lit(42.5)).otherwise(other(i))


@pytest.mark.parametrize(
    "n, tiebreak, value",
    [
        (20_000, lambda i: i, _mass(lambda i: (i % 613) / 7.0)),
        (40_000, lambda i: i, _mass(lambda i: (i % 613_211) / 7.0)),
        # 90 % on one QUANTIZED value, raw doubles ~2^-41 apart
        (
            40_000,
            lambda i: i,
            lambda i: F.when(
                i % 10 < 9, F.lit(42.5) + (i % 997) / F.lit(float(1 << 41))
            ).otherwise((i % 613) / 7.0),
        ),
        (2_000, lambda i: F.format_string("id%05d", i), _mass(lambda i: i / 7.0)),
    ],
    ids=[
        "point_mass",
        "wide_domain_point_mass",
        "sub_quantization_jitter",
        "string_tiebreak",
    ],
)
def test_bucketed_global_order_splits_skew(spark, n, tiebreak, value):
    """A 90 % mass on one value (or on one quantized value, or over a
    string tiebreak) must still match the global window bit-for-bit,
    and the range partitioner on the full (value, tiebreak) key must
    spread it: the largest window task reads well below the mass,
    measured from the status store's per-task shuffle-read records."""
    i = F.col("id")
    df = spark.range(n).select(
        i, tiebreak(i).alias("ck"), value(i).cast("double").alias("rev")
    )
    # coalescing off: AQE would merge these small partitions into one
    # task, which measures the data size rather than the layout
    with _session_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": "16",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        out = bucketed_global_order(df, value_col="rev", tiebreak_col="ck")
        biggest = _max_task_shuffle_records(
            spark, lambda: out.write.format("noop").mode("overwrite").save()
        )
    assert _ordered(out, "id") == _global_window_ref(df, "id")
    assert 0 < biggest <= 0.25 * n, biggest
