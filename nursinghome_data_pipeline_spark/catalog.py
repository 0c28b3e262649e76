"""Catalog & staging layer (SURVEY §2.2 K1-K5, §2.1 S4-S6).

The reference stages into SQLite tables (``build.py:79-80``), curates
with DROP/CTAS/VIEW SQL (``build.py:84-107``), and lists tables from
``sqlite_master`` (``streamlit_app.py:8-12``). Here the warehouse is
Spark's managed Parquet catalog: ``saveAsTable`` for staging,
``spark.sql`` DDL for curation, ``spark.catalog`` for listing.

At 100 TB the same API holds — managed tables become partitioned
Parquet datasets; overwrite mode is atomic per-table via Spark's commit
protocol, which also supplies the reference's idempotent-rerun
semantics (upload_to_s3.py's HEAD/skip dance, K8) for free.
"""

from __future__ import annotations

import threading
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Serializes appends. Two Hadoop-committer jobs appending to one table
#: directory share ``<table>/_temporary/0``, and the first commit's
#: cleanup deletes the other job's pending files. Overwrites of
#: different tables need no lock.
_APPEND_LOCK = threading.Lock()


def stage_overwrite(df: DataFrame, table: str) -> None:
    """K1: ``to_sql(..., if_exists='replace')`` → overwrite saveAsTable."""
    df.write.mode("overwrite").format("parquet").saveAsTable(table)


def stage_append(df: DataFrame, table: str) -> None:
    """K2: append-mode metrics/audit table write."""
    with _APPEND_LOCK:
        df.write.mode("append").format("parquet").saveAsTable(table)


def create_table_as(spark: SparkSession, table: str, select_sql: str) -> None:
    """K4: DROP IF EXISTS + CTAS (build.py:85-97)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} USING parquet AS {select_sql}")


def create_view(spark: SparkSession, view: str, select_sql: str) -> None:
    """K5: CREATE OR REPLACE VIEW (build.py:98-107) — lazily evaluated."""
    spark.sql(f"CREATE OR REPLACE VIEW {view} AS {select_sql}")


AUDIT_TABLE = "dq_audit"
#: parity: dq_audit DDL, build.py:18-24 (id omitted — surrogate keys
#: don't distribute; created_at orders the log)
AUDIT_SCHEMA = (
    "table_name string, check_name string, status string, "
    "metric_value double, threshold double, sample_rows long, "
    "notes string, created_at timestamp"
)


def typed_literals(schema: str, values) -> list[F.Column]:
    """One literal column per field of the DDL ``schema``, cast to its
    type. Selected over ``spark.range`` they make rows on the JVM, where
    ``createDataFrame`` of local rows starts a Python worker to
    deserialize them. Values go through ``F.lit``, never SQL text."""
    fields = [f.split(" ", 1) for f in schema.split(", ")]
    return [F.lit(v).cast(t).alias(n) for (n, t), v in zip(fields, values, strict=True)]


class AuditRow(NamedTuple):
    """One ``dq_audit`` row, in :data:`AUDIT_SCHEMA` order; ``created_at``
    is stamped when the row is written."""

    table_name: str
    check_name: str
    status: str
    metric_value: float
    threshold: float = 0.0
    sample_rows: int = 0
    notes: str | None = None


def write_audit_rows(
    spark: SparkSession, rows: list[AuditRow], *, table: str = AUDIT_TABLE
) -> None:
    """K3: parameterized audit insert (build.py:49-53; DDL :18-24).

    All ``rows`` go in one append: one plan, one job, one commit. They
    are typed literals inlined over a one-row ``spark.range``, so the
    append runs on the JVM alone; ``notes`` (a JSON sample, quotes and
    all) is bound as a literal, not spliced into SQL. ``created_at``
    uses ``current_timestamp()`` (reference: ``datetime('now')``
    default), one instant for the whole append. No rows, no write.
    """
    if not rows:
        return
    fields = AUDIT_SCHEMA.replace(", created_at timestamp", "")
    structs = [F.struct(*typed_literals(fields, r)) for r in rows]
    df = spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs))).select(
        "*", F.current_timestamp().alias("created_at")
    )
    with _APPEND_LOCK:
        spark.sql(f"CREATE TABLE IF NOT EXISTS {table} ({AUDIT_SCHEMA}) USING parquet")
        df.write.mode("append").format("parquet").saveAsTable(table)
