"""Penalties build pipeline: ingest → stage → curate (SURVEY §3.1).

End-to-end re-expression of ``/root/reference/build.py:55-111``:
config-driven CSV ingest, staging tables, duplicate-key audits, then
the curated ``fact_penalty`` table and ``v_penalties_by_state`` view.

Execution shape vs the reference: each dataset is one unit — a lazy
DataFrame chain (read→conform→union) written once, its row count
observed on that write — and the units of all datasets run
concurrently from driver threads (``parallel.map_actions``). As soon as
a unit's staging table is written, its duplicate-key audit (one query,
the duplicate count observed on the collect of its key-ordered sample)
runs, and for ``penalties`` the fact CTAS and the view run beside it
instead of waiting for every unit. The audit rows of all units go into
``dq_audit`` in one append from JVM literals after the last unit, so
the pass starts no Python worker and commits the audit table once; a
build that raises still appends the rows of the checks that finished.
The only shuffles are the dup-check and view group-bys, one each. The
reference's destructive DB rebuild (``ensure_db``, build.py:14-25)
maps to overwrite-mode writes, which are idempotent per table.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from ..catalog import AuditRow, create_table_as, create_view, stage_overwrite, write_audit_rows
from ..config import DatasetSpec, load_config
from ..dq import audit_duplicate_keys, observe_counts
from ..functions.obs import get_metrics
from ..parallel import map_actions
from ..sources.csv_source import ingest_dataset, list_matching_files

log = logging.getLogger(__name__)

#: parity: fact_penalty CTAS, build.py:85-97 (date() normalization is a
#: no-op here — penalty_date is already DATE-typed by declared-cast).
#: The staging table name is substituted from the dataset spec — a
#: hardcoded name would silently read a STALE staging_penalties table
#: (or fail) whenever the config declares a different staging_table.
FACT_PENALTY_SQL = """
  SELECT
    cms_certification_number_ccn AS ccn,
    penalty_date,
    penalty_type,
    COALESCE(fine_amount, 0) AS fine_amount,
    payment_denial_length_in_days AS denial_days,
    state,
    provider_name
  FROM {staging_table}
"""

#: parity: v_penalties_by_state, build.py:98-107 (no-ELSE CASE → NULL
#: fine_count for states with no positive fines, same as SQLite)
PENALTIES_BY_STATE_SQL = """
  SELECT state,
         COUNT(*) AS penalty_events,
         SUM(fine_amount) AS total_fines,
         SUM(CASE WHEN fine_amount > 0 THEN 1 END) AS fine_count,
         ROUND(AVG(fine_amount), 2) AS avg_fine
  FROM fact_penalty
  GROUP BY state
"""


def run_build(
    spark: SparkSession,
    *,
    config_path: str | None = None,
    specs: dict[str, DatasetSpec] | None = None,
    csv_dir: str,
) -> dict[str, int]:
    """Run the full build; returns staged row counts per dataset."""
    if specs is None:
        if config_path is None:
            raise ValueError("pass config_path or specs")
        specs = load_config(config_path)
    present = {}
    for name, spec in specs.items():
        if list_matching_files(csv_dir, spec.filename_pattern):
            present[name] = spec
        else:
            log.warning("no files for dataset %s", name)
    audits: dict[str, AuditRow] = {}
    try:
        counts = map_actions(
            lambda item: _stage_dataset(spark, *item, csv_dir, audits), present.items()
        )
    finally:
        # one append, also when a unit raised: the finished checks' rows
        write_audit_rows(spark, [audits[name] for name in present if name in audits])
    return dict(zip(present, counts))


def _stage_dataset(
    spark: SparkSession,
    name: str,
    spec: DatasetSpec,
    csv_dir: str,
    audits: dict[str, AuditRow],
) -> int:
    """One dataset's unit: ingest → stage, then side by side its
    duplicate-key check, whose audit row goes into ``audits[name]``,
    and, for ``penalties``, the fact CTAS and view over the table just
    written. Returns the staged row count, observed on the staging
    write."""
    df, obs = observe_counts(
        ingest_dataset(spark, spec, csv_dir), f"staged_{spec.staging_table}"
    )
    stage_overwrite(df, spec.staging_table)
    rows = get_metrics(
        obs, fallback=lambda: {"rows": spark.table(spec.staging_table).count()}
    )["rows"]
    log.info("loaded %s -> %s rows=%d", spec.name, spec.staging_table, rows)

    def audit() -> None:
        audits[name] = audit_duplicate_keys(
            spark.table(spec.staging_table),
            spec.natural_key,
            table_name=spec.staging_table,
        )

    steps = [audit] if spec.natural_key else []
    if name == "penalties":
        steps.append(lambda: _curate_penalties(spark, spec.staging_table))
    map_actions(lambda step: step(), steps)
    return rows


def _curate_penalties(spark: SparkSession, staging_table: str) -> None:
    create_table_as(
        spark, "fact_penalty", FACT_PENALTY_SQL.format(staging_table=staging_table)
    )
    create_view(spark, "v_penalties_by_state", PENALTIES_BY_STATE_SQL)
