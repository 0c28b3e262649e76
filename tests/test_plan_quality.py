"""Plan-quality gates: the scale-sensitive plan properties documented
in SCALE.md are asserted here so a regression (lost pushdown, dropped
broadcast, missing partial aggregation, broken partition pruning) fails
CI instead of surfacing as a 100x slowdown at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark import registry
from nursinghome_data_pipeline_spark.plans import (
    executed_plan,
    formatted_plan as _formatted_plan,
    join_strategies,
    plan_report,
)


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_in_read_schema(spark, sf_dir):
    df = registry.queries()["orders_status_summary"](spark, sf_dir)
    plan = _formatted_plan(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # the scan must not read order comment/clerk columns it never uses
    assert "o_comment" not in read_schema and "o_clerk" not in read_schema


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    joins = join_strategies(registry.queries()["revenue_by_region"](spark, sf_dir))
    assert joins.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in joins  # dims must never sort-merge here


def test_plan_report_summary(spark, sf_dir):
    rep = plan_report(registry.queries()["pricing_summary"](spark, sf_dir))
    assert rep["pushed_filters"], "scan must receive pushed filters"
    assert rep["n_codegen_stages"] >= 1
    assert rep["n_exchanges"] == 1  # one shuffle: the final aggregation


def test_topk_per_group_prunes_before_shuffle(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["topk_per_group_orders"](spark, sf_dir))
    # partial WindowGroupLimit before the exchange + final after
    assert plan.count("WindowGroupLimit") >= 2


def test_groupby_has_partial_aggregation(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["orders_status_summary"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_fingerprint_queries_are_shuffle_free(spark, sf_dir):
    for name in [
        "minhash_signatures_docs",
        "simhash_docs",
        "doc_quality_scores",
        "embedding_linear_probe",
        "embedding_int8_quantize",
        "image_header_decode",
    ]:
        df = registry.queries()[name](spark, sf_dir)
        assert "Exchange" not in executed_plan(df), f"{name} must be map-only"


def test_exact_jaccard_join_never_cartesian(spark, sf_dir):
    plan = _formatted_plan(
        registry.queries()["ngram_jaccard_pairs_docs"](spark, sf_dir)
    )
    # the exact all-pairs join must run as an equi-join on the shingle
    # posting list, never a cross product over documents
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    from nursinghome_data_pipeline_spark.operators.skew import (
        write_time_partitioned,
    )
    from nursinghome_data_pipeline_spark.sources.tpch import load_tables

    events = load_tables(spark, sf_dir, ["events"])["events"]
    out = str(tmp_path / "events_part")
    write_time_partitioned(events, out, ts_col="ts", granularity="day")
    part = spark.read.parquet(out)
    days = sorted(r.p_day for r in part.select("p_day").distinct().collect())
    assert len(days) > 1
    pruned = part.where(F.col("p_day") == days[0])
    plan = _formatted_plan(pruned)
    # partition filter present; full row count preserved across partitions
    assert "p_day" in plan and "PartitionFilters" in plan
    assert part.count() == events.count()


def test_chunking_is_map_only(spark, sf_dir):
    df = registry.queries()["chunk_documents_overlap"](spark, sf_dir)
    assert "Exchange" not in executed_plan(df), "chunking must not shuffle"


def test_heavy_hitters_uses_take_ordered(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["token_heavy_hitters"](spark, sf_dir))
    # global top-k must merge per-partition heads, never globally sort
    assert "TakeOrderedAndProject" in plan


def test_tfidf_topk_prunes_window_groups(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["tfidf_topk_docs"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_region_revenue_preaggregates_without_expand(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["revenue_by_region"](spark, sf_dir))
    # distinct-order counting must come from the per-order pre-aggregate,
    # not a countDistinct Expand over joined lineitem rows
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels


def test_merge_upsert_never_nested_loop(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["merge_upsert_customers"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sampling_filter_is_pushed_into_scan_stage(spark, sf_dir):
    rep = plan_report(registry.queries()["stratified_sample_docs"](spark, sf_dir))
    # arithmetic-hash sampling compiles to a plain filter: map-only plan
    assert rep["n_exchanges"] == 0


def test_tpch_battery_broadcasts_dims_no_cartesian(spark, sf_dir):
    # extended TPC-H battery: every dim join must broadcast and no
    # query may degrade to a cross product over fact rows (the 1-row
    # scalar broadcasts in Q15/Q22 are BroadcastNestedLoopJoin by
    # design and excluded here)
    for name in [
        "local_supplier_volume",
        "volume_shipping_binational",
        "nation_market_share",
        "profit_by_nation_year",
        "bracketed_revenue",
        "supplier_count_by_part_attrs",
    ]:
        plan = _formatted_plan(registry.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_q4_semi_join_no_row_explosion(spark, sf_dir):
    plan = _formatted_plan(
        registry.queries()["late_order_priority_counts"](spark, sf_dir)
    )
    assert "LeftSemi" in plan  # EXISTS must compile to a semi join


def test_q15_max_is_broadcast_not_global_window(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["top_supplier_revenue"](spark, sf_dir))
    # the scalar max must join back as a broadcast, never a
    # single-partition global Window sort
    assert "Window" not in plan


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """A fact partitioned on the join key must receive a RUNTIME
    (dynamicpruning) partition filter when joined to a filtered dim —
    at 100 TB this is the difference between scanning one partition
    and scanning the table when the partition predicate only exists
    on the dimension side."""
    from nursinghome_data_pipeline_spark.sources.tpch import load_tables

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    out = str(tmp_path / "orders_by_prio")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .where(F.col("o_orderpriority").startswith("1"))
    )
    joined = fact.join(dim, on="o_orderpriority").groupBy(
        "o_orderpriority"
    ).count()
    plan = _formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_aqe_converts_shuffle_join_to_broadcast_at_runtime(spark, sf_dir):
    """With static broadcast disabled, AQE must still pick a broadcast
    join at RUNTIME once it sees the filtered side's true shuffle
    size — the adaptivity that rescues plans whose dim-side size is
    only knowable after filtering."""
    from nursinghome_data_pipeline_spark.sources.tpch import load_tables

    tables = load_tables(spark, sf_dir, ["orders", "customer"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the adaptive threshold falls back to the static one when
        # unset, so give AQE its own budget for the runtime decision
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
        small = tables["customer"].where(F.col("c_acctbal") > 9000)
        joined = tables["orders"].join(
            small, F.col("o_custkey") == F.col("c_custkey")
        )
        # collect() executes THIS DataFrame's QueryExecution, so the
        # AdaptiveSparkPlan below is the final (post-reoptimization) one
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final, final[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_kmeans_assignment_is_map_only(spark, sf_dir):
    plan = _formatted_plan(
        registry.queries()["kmeans_lloyd_embeddings"](spark, sf_dir)
    )
    # r4: centroids embed as LITERALS (bounded k·dim collect) and the
    # argmin is one array_min projection — assignment shuffles nothing,
    # where the former crossJoin + id-partitioned window moved k× the
    # input per Lloyd iteration. The only join left is the k-row
    # centroid/counts join at the very end.
    assert "CartesianProduct" not in plan
    assert "array_min" in plan
    # the assignment window is gone — no row_number anywhere
    assert "row_number" not in plan


def test_lift_pairs_is_equi_join(spark, sf_dir):
    plan = _formatted_plan(registry.queries()["lift_event_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_cms_probe_broadcasts_sketch(spark, sf_dir):
    plan = _formatted_plan(
        registry.queries()["cms_heavy_hitters_events"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan


def test_nested_fold_is_map_side_after_nest(spark, sf_dir):
    from nursinghome_data_pipeline_spark.plans import plan_report

    rep = plan_report(
        registry.queries()["nested_lineitems_revenue"](spark, sf_dir)
    )
    # one exchange builds the nest; the fold adds none
    assert rep["n_exchanges"] == 1


def test_rolling_7d_joins_spine_by_hash_not_nested_loop(spark, sf_dir):
    # r2 verdict item: the day-spine theta join compiled to a
    # BroadcastNestedLoopJoin evaluating |spine|x|user-days| range
    # predicates. The explode-to-covering-days rewrite must produce a
    # hash equi-join with the ≤7x fan-out done map-side.
    plan = _formatted_plan(
        registry.queries()["rolling_7d_active_users"](spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_hard_negative_anchor_set_is_bounded(spark, sf_dir):
    # r2 verdict item: anchors were a constant FRACTION (vec_id % 100)
    # → O(|T|²/100) broadcast loop. The anchor side must now carry a
    # hard LIMIT (TakeOrderedAndProject = map-side top-k heaps), making
    # the scored pass O(k·|T|) with k a build-time constant.
    plan = _formatted_plan(registry.queries()["hard_negative_mining"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# Queries whose BroadcastNestedLoopJoin is a BOUNDED broadcast by
# design — audited individually (full-registry plan sweep, r3): the
# build side is a single-row global aggregate (scalar-subquery shape),
# a constant literal relation, or a LIMIT'd/k-sized set, so the
# "nested loop" degenerates to a map over a few broadcast rows.
# Everything else in the registry must plan joins as hash/sort-merge
# equi-joins — an unbounded BNLJ is exactly how rolling_7d_active_users
# went scale-wrong in round 2.
_BOUNDED_BNLJ = {
    "inactive_customer_balance",   # scalar avg-balance subquery (1 row)
    "triangle_count_events",       # scalar (n_nodes, n_wedges) totals (1 row)
    "kmeans_lloyd_embeddings",     # k=4 centroids broadcast
    "hard_negative_mining",        # LIMIT'd (16-row) anchor set broadcast
    "geo_radius_join",             # 3x3 offset table (9 rows)
    "knn_cosine_topk",             # 1-row query-vector broadcast
    "tfidf_topk_docs",             # scalar corpus-size broadcast (1 row)
    "hourly_events_gapfill",       # literal hour spine x distinct-type dim
    "funnel_signup_click_purchase",  # scalar per-stage counts (1 row each)
    "unigram_lm_score_docs",       # scalar corpus token total (1 row)
    "lift_event_pairs",            # scalar total-sessions broadcast (1 row)
    "null_safe_join_props",        # scalar equi/nullsafe counts (1 row each)
    "cms_heavy_hitters_events",    # serialized CMS sketch broadcast (1 row)
    "consistent_sample_across_tables",  # scalar per-table counts (1 row each)
    "bag_set_ops_orders",          # scalar bag-op cardinalities (1 row each)
    "explode_variants_docs",       # scalar explode-vs-outer counts (1 row each)
    "contingency_mktseg_nation",   # scalar chi-square grand total (1 row)
}


# Queries whose plan carries an `Exchange SinglePartition` that is
# BOUNDED by construction — audited individually (full-registry plan
# sweep, r4). Three shapes, all fine at any scale:
#   (a) the FINAL reduce of a global aggregate: upstream partial
#       HashAggregates mean the single partition receives one row per
#       map task, never the data;
#   (b) a final ORDER BY over an already-tiny result (a 1-row max
#       filter, a 4-row integrity report);
#   (c) the documented bounded window: the |weeks|-row wow_growth
#       lag spine. (`bucketed_global_order`, behind pareto/gini, has
#       no unpartitioned window: it adds driver-side per-range
#       offsets to a window partitioned by range id.)
# A query NOT on this list gaining a SinglePartition exchange is the
# single-reducer bug class (pre-r3 pareto/gini) — fail loudly.
_BOUNDED_SINGLE_PARTITION = {
    "bag_set_ops_orders",            # (a) scalar bag-op cardinalities
    "bracketed_revenue",             # (a) global bracket totals
    "completeness_profile_events",   # (a) per-column null totals
    "consistent_sample_across_tables",  # (a) per-table scalar counts
    "contingency_mktseg_nation",     # (a) chi-square grand total
    "dataset_card_report",           # (a) corpus-level card scalars
    "explode_variants_docs",         # (a) explode-vs-outer counts
    "forecast_revenue_change",       # (a) regression moment scalars
    "funnel_signup_click_purchase",  # (a) per-stage scalar counts
    "inactive_customer_balance",     # (a) scalar avg-balance subquery
    "knn_lsh_topk",                  # (d) GlobalLimit(1) pinning the
                                     # one-row query contract on the
                                     # broadcast BUILD side: the
                                     # exchange moves <=1 filtered row
                                     # into a subplan that collects to
                                     # the driver for broadcast anyway
    "lift_event_pairs",              # (a) scalar total-sessions
    "null_safe_join_props",          # (a) equi/nullsafe scalar counts
    "pareto_8020_customers",         # (a) scalar 80/20 threshold agg
    "promo_revenue",                 # (a) scalar promo share
    "referential_integrity_check",   # (b) 4-row report ORDER BY
    "revenue_gini_coefficient",      # (a) scalar gini moment agg
    "small_quantity_order_revenue",  # (a) scalar revenue total
    "tfidf_topk_docs",               # (a) scalar corpus size
    "top_supplier_revenue",          # (b) ties-of-max final sort
    "triangle_count_events",         # (a) scalar graph totals
    "unigram_lm_score_docs",         # (a) scalar corpus token total
    "wow_growth_events",             # (c) |weeks|-row lag spine
}


# Queries whose plan crosses the Python boundary — all Arrow-batched
# (MapInPandas for the multimodal byte-column codecs, grouped
# FlatMapGroupsInPandas for the two genuinely-stateful per-group
# shapes, ArrowEvalPython for the UDTF demo). Audited r4: everything
# else in the registry is pure JVM Column expressions, and NOTHING —
# on or off this list — may plan a row-at-a-time BatchEvalPython,
# which forfeits both vectorization and whole-stage codegen.
_ARROW_PYTHON_BOUNDARY = {
    "audio_header_decode",
    "ema_user_values",
    "frame_sample_plan",
    "image_header_decode",
    "image_resize_plan",
    "multimodal_features",
    "udtf_tokenize_docs",
    "video_header_decode",
    "whitened_embeddings_by_label",
}


def test_registry_has_no_unbounded_join_smells(spark, sf_dir):
    # breadth gate over the ENTIRE registry (not just the driver's
    # sampled prefix): no CartesianProduct anywhere, no
    # BroadcastNestedLoopJoin outside the audited bounded-broadcast
    # whitelist, and no `Exchange SinglePartition` outside the audited
    # bounded set above. Catches a scale-killing plan slipping into
    # ANY query without a dedicated gate. Streaming queries are
    # excluded here (building them executes the stream; their plans
    # are pinned by their own tests).
    qs = registry.queries()
    names = [n for n in qs if not n.startswith("streaming")]
    offenders = []
    for name in names:
        plan = _formatted_plan(qs[name](spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BOUNDED_BNLJ:
            offenders.append((name, "BroadcastNestedLoopJoin"))
        if (
            "SinglePartition" in plan
            and name not in _BOUNDED_SINGLE_PARTITION
        ):
            offenders.append((name, "Exchange SinglePartition"))
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython (row-wise UDF)"))
        if name not in _ARROW_PYTHON_BOUNDARY and any(
            m in plan
            for m in (
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "MapInArrow",
                "PythonUDTF",
            )
        ):
            offenders.append((name, "unaudited Python boundary"))
    assert not offenders, offenders


def test_collect_aggregate_sites_are_plan_bounded(spark, sf_dir):
    """Every collect_list/collect_set aggregation in the registry must
    carry its bound IN THE PLAN (WindowGroupLimit before the collect)
    or be group-bounded by construction (documented domain bound: ≤24
    hours, ≤7 lines/order, |event_type| domain). A bound applied AFTER
    collection (slice of a collected array) gathers the full group on
    one reducer first — the inverted_index_tokens bug class."""
    q = registry.queries()
    # plan-level bounds: row_number<=k must compile to WindowGroupLimit
    for name in ("inverted_index_tokens", "top_user_journeys"):
        plan = _formatted_plan(q[name](spark, sf_dir))
        assert "WindowGroupLimit" in plan, f"{name}: bound fell out of the plan"
    # group-bounded-by-construction sites must NOT grow an unbounded
    # collect: assert their collect inputs stay the documented domains
    battery = q["map_functions_battery"](spark, sf_dir)
    mx = battery.agg(F.max("n_keys")).first()[0]
    assert mx is None or mx <= 24
    prof = q["user_event_profile_strings"](spark, sf_dir)
    mx2 = prof.agg(F.max("n_types")).first()[0]
    assert mx2 is None or mx2 <= 50  # |event_type| domain


def test_no_list_backed_literal_relations_in_engine_source():
    """Source lint: every engine ``createDataFrame`` must ship its
    driver-built rows via pandas/Arrow (JVM ``LocalTableScan``) or be
    an empty-relation constructor.

    A Python-LIST ``createDataFrame`` backs the relation with a
    pickled RDD whose scan re-pays a Python-worker round trip on
    EVERY action that replays the lineage (late-r4 measurement: 1.5 s
    vs 0.2 s per action for a 2.4k-row offsets table — and the kmeans
    output join and geo offset spine were silently paying it). The
    plan string cannot gate this (``localCheckpoint`` JVM scans print
    the same ``Scan ExistingRDD``), so gate at the source level.
    """
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / (
        "nursinghome_data_pipeline_spark"
    )
    allowed = {
        # write-once 1-row audit insert: the tax applies once per DQ
        # check, never per downstream action (no lineage consumers)
        "catalog.py",
    }
    offenders = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        for m in re.finditer(r"createDataFrame\(", src):
            tail = src[m.end() : m.end() + 120]
            ok = (
                tail.lstrip().startswith("[]")  # empty relation
                or "pd.DataFrame" in tail
                or "pandas.DataFrame" in tail
            )
            if not ok and path.name not in allowed:
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{path.relative_to(root)}:{line}")
    assert not offenders, (
        "list-backed createDataFrame (pickled-RDD relation) — build "
        f"via pd.DataFrame instead: {offenders}"
    )
