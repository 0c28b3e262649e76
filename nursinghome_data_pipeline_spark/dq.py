"""Data-quality module (SURVEY §2.5 A2/A6/A9, §2.2 K3).

Re-expresses the reference's runtime DQ checks:

- duplicate-natural-key audit (``build.py:39-53``);
- per-column completeness profiling (``load_nursing_home_data.py:20-36``);
- drop/warn counters without extra passes (``calculate_metrics.py``'s
  logged counts) via ``df.observe`` — an accumulator-style observation
  that rides the existing action instead of forcing a second scan,
  which is the difference between 1× and 2× total I/O at 100 TB.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .catalog import AuditRow, typed_literals, write_audit_rows
from .functions.obs import get_metrics

#: the name the benchmark's traced runs wrap as the dq → catalog audit
#: boundary (``nhbench/workloads.py``); it is the one audit writer
write_audit_row = write_audit_rows


@dataclass
class DupCheckResult:
    dup_key_count: int
    sample_json: str | None


def duplicate_key_check(
    df: DataFrame, keys: list[str] | tuple[str, ...], *, sample_rows: int = 5
) -> DupCheckResult:
    """A2: GROUP BY natural key HAVING COUNT(*)>1, with a small JSON
    sample of offending keys (parity: build.py:39-53 head().to_json()).

    One query: the duplicate count is observed on the sample's
    top-``sample_rows``-by-key collect, which reads every duplicate row
    (each partition keeps its own top k), so the count is exact and the
    sample is the first keys in key order. The input is aggregated once.
    """
    dups = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    # the suffix keeps concurrent checks' listener events apart
    obs = Observation(f"dup_keys_{uuid.uuid4().hex[:8]}")
    rows = (
        dups.observe(obs, F.count(F.lit(1)).alias("n"))
        .orderBy(*keys)
        .limit(sample_rows)
        .select(F.to_json(F.struct(*[F.col(k) for k in keys], F.col("n"))).alias("j"))
        .collect()
    )
    n = get_metrics(obs, fallback=lambda: {"n": dups.count()})["n"]
    return DupCheckResult(
        dup_key_count=n,
        sample_json="[" + ",".join(r.j for r in rows) + "]" if rows else None,
    )


def audit_duplicate_keys(
    df: DataFrame,
    keys: list[str] | tuple[str, ...],
    *,
    table_name: str,
    threshold: float = 0.0,
) -> AuditRow:
    """Run A2 and return its K3 audit row, for the caller to append
    with its other rows in one :func:`~.catalog.write_audit_rows`.

    Parity: build.py:39-53 — check name ``dup_<keys>``, status
    'ok'/'warn', metric = duplicate-key count, 5-row JSON sample.
    """
    res = duplicate_key_check(df, keys)
    return AuditRow(
        table_name=table_name,
        check_name="dup_" + "_".join(keys),
        status="warn" if res.dup_key_count > threshold else "ok",
        metric_value=float(res.dup_key_count),
        threshold=threshold,
        sample_rows=min(res.dup_key_count, 5),
        notes=res.sample_json,
    )


#: the ``dq_completeness`` row layout :func:`completeness_profile` emits
PROFILE_SCHEMA = (
    "table_name string, column_name string, row_count long, "
    "non_null_count long, pct_not_null double"
)


def completeness_profile(df: DataFrame, *, table_name: str) -> DataFrame:
    """A6: one-pass per-column completeness (row_count, non_null_count,
    pct_not_null), long format, for the ``dq_completeness`` table
    (load_nursing_home_data.py:20-36,41-49). pct is 0 for empty input;
    a frame without columns (a zero-byte CSV) profiles to no rows."""
    cols = df.columns
    if not cols:
        return df.sparkSession.range(0, 0, 1, 1).select(
            *typed_literals(PROFILE_SCHEMA, [None] * 5)
        )
    agg = df.agg(
        F.count(F.lit(1)).alias("row_count"),
        *[F.count(F.col(c)).alias(f"nn_{i}") for i, c in enumerate(cols)],
    )
    # index-based aliases + name literals: column names may hold spaces,
    # quotes or backslashes (raw CSV headers are profiled before
    # normalization), so they never pass through SQL text
    pairs = [x for i, c in enumerate(cols) for x in (F.lit(c), F.col(f"nn_{i}"))]
    return agg.select(
        F.stack(F.lit(len(cols)), *pairs).alias("column_name", "non_null_count"),
        "row_count",
    ).select(
        F.lit(table_name).alias("table_name"),
        "column_name",
        "row_count",
        "non_null_count",
        F.when(F.col("row_count") == 0, F.lit(0.0))
        .otherwise(
            F.col("non_null_count").cast("double") * 100 / F.col("row_count")
        )
        .alias("pct_not_null"),
    )


def observe_counts(df: DataFrame, name: str, **conditions: F.Column):
    """Attach named conditional counters that ride the next action.

    Returns ``(df, observation)``; read the metrics AFTER an action
    runs, via ``functions.obs.get_metrics`` (bounded wait — a lost
    listener event must not hang the caller). Replaces the reference's eager ``len(df)`` logging
    (calculate_metrics.py:100,109,145 — each a full extra pass in
    pandas) with zero-extra-pass metrics.
    """
    obs = Observation(name)
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).alias(key)
        for key, cond in conditions.items()
    ] or [F.count(F.lit(1)).alias("rows")]
    return df.observe(obs, *aggs), obs
