"""DQ module (A2/A6/observe) and interactive query layer (P16-P17,
A4-A5, A7-A8) unit tests on literal DataFrames, pinning SURVEY §4.3
gotchas."""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark import query_layer as ql
from nursinghome_data_pipeline_spark.dq import (
    DupCheckResult,
    completeness_profile,
    duplicate_key_check,
    observe_counts,
)


@pytest.fixture(scope="module")
def metrics_df(spark):
    rows = [
        ("P1", "TX", "2024-Q1", 1.0, 10.0),
        ("P1", "TX", "2024-Q2", 2.0, 20.0),
        ("P2", "TX", "2024-Q1", 3.0, 30.0),
        ("P3", "CA", "2024-Q1", 4.0, 40.0),
    ]
    return spark.createDataFrame(
        rows, "PROVNUM string, STATE string, CY_Qtr string, ratio double, total_nurse_hours double"
    )


def test_duplicate_key_check(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], "k string, v int"
    )
    res = duplicate_key_check(df, ["k", "v"])
    assert res.dup_key_count == 1
    assert '"k":"a"' in res.sample_json


def test_duplicate_key_check_samples_first_keys_in_key_order(spark):
    # 12 duplicated keys in reverse order across 3 partitions, plus
    # singletons: the count is exact and the sample is the first 5 keys
    rows = [(f"k{i:02d}", j) for i in reversed(range(12)) for j in range(i % 3 + 2)]
    rows += [(f"s{i}", 0) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, v int").repartition(3)
    res = duplicate_key_check(df, ["k"])
    assert res.dup_key_count == 12
    assert json.loads(res.sample_json) == [
        {"k": f"k{i:02d}", "n": i % 3 + 2} for i in range(5)
    ]
    assert duplicate_key_check(df.where(F.col("k").startswith("s")), ["k"]) == (
        DupCheckResult(dup_key_count=0, sample_json=None)
    )
    # limit(0) plans the observation away: the count falls back to a job
    assert duplicate_key_check(df, ["k"], sample_rows=0) == (
        DupCheckResult(dup_key_count=12, sample_json=None)
    )


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_duplicate_key_check_is_one_query(spark, run_in_job_group, aqe):
    # a count and a limit() sample run as two queries took 5 jobs (AQE
    # on); the observed top-k collect takes the aggregate's map stage and
    # its result
    df = spark.range(0, 20_000, 1, 4).select((F.col("id") % 9_000).alias("k"))
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        res, launched, _ = run_in_job_group(lambda: duplicate_key_check(df, ["k"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert res.dup_key_count == 9_000
    assert launched <= 2


def test_audit_row_types_equal_audit_schema(spark, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.types import _parse_datatype_string

    from nursinghome_data_pipeline_spark.catalog import AUDIT_SCHEMA, AuditRow, write_audit_rows

    written = []
    real = DataFrameWriter.saveAsTable

    def capture(self, name, *args, **kwargs):
        written.append(self._df)
        return real(self, name, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", capture)
    table = f"audit_types_{uuid.uuid4().hex[:8]}"
    write_audit_rows(spark, [AuditRow(table_name="t", check_name="c", status="ok",
                                      metric_value=3, sample_rows=2)], table=table)
    try:
        [df] = written
        expected = _parse_datatype_string(AUDIT_SCHEMA)
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in expected
        ]
        [row] = spark.table(table).collect()
        assert (row.metric_value, row.threshold, row.sample_rows, row.notes) == (3.0, 0.0, 2, None)
        assert row.created_at is not None
    finally:
        spark.sql(f"DROP TABLE {table}")


def test_audit_notes_round_trip_unchanged(spark):
    from nursinghome_data_pipeline_spark.catalog import AuditRow, write_audit_rows

    notes = '[{"k":"a\'b, \\"c\\"","path":"C:\\x"}] it\'s, "quoted" \\ ${x} --'
    table = f"audit_notes_{uuid.uuid4().hex[:8]}"
    write_audit_rows(spark, [AuditRow(table_name="t", check_name="c", status="warn",
                                      metric_value=1, notes=notes)], table=table)
    try:
        assert spark.table(table).first().notes == notes
    finally:
        spark.sql(f"DROP TABLE {table}")


def test_completeness_profile(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None), (4, "y")], "a int, b string"
    )
    prof = {r.column_name: r for r in completeness_profile(df, table_name="t").collect()}
    assert prof["a"].pct_not_null == 100.0
    assert prof["b"].non_null_count == 2
    assert prof["b"].pct_not_null == 50.0
    assert prof["a"].row_count == 4



def test_completeness_profile_names_keep_backslashes_and_quotes(spark):
    # a raw CSV header is profiled before normalization, so its name is
    # kept verbatim: backslashes and quotes included
    names = ["x\\y", "it's \"q\"", "a\\'b"]
    df = spark.range(2).select(*[F.lit(i).alias(n) for i, n in enumerate(names)])
    prof = completeness_profile(df, table_name="t").collect()
    assert [r.column_name for r in prof] == names
    assert [r.non_null_count for r in prof] == [2, 2, 2]

def test_completeness_profile_empty(spark):
    df = spark.createDataFrame([], "a int, b string")
    prof = {r.column_name: r for r in completeness_profile(df, table_name="t").collect()}
    assert prof["a"].pct_not_null == 0.0  # 0-row guard (load_nursing_home_data.py:26)


def test_observe_counts(spark):
    df = spark.createDataFrame([(0,), (1,), (2,)], "x int")
    df2, obs = observe_counts(df, "obs_test", zeros=F.col("x") == 0)
    df2.count()
    assert obs.get["zeros"] == 1


def test_distinct_values_and_filter(metrics_df):
    assert ql.distinct_values(metrics_df, "STATE") == ["CA", "TX"]
    sel = ql.filter_metrics(metrics_df, state="TX", provnums=["P1", "P2"])
    assert sel.count() == 3


def test_group_mean_sorted(metrics_df):
    rows = ql.group_mean(metrics_df, "PROVNUM", "ratio").collect()
    assert [r.PROVNUM for r in rows] == ["P1", "P2", "P3"]
    assert rows[0].avg_ratio == pytest.approx(1.5)


def test_quarter_facility_pivot(metrics_df):
    piv = ql.quarter_facility_pivot(metrics_df)
    rows = piv.collect()
    assert piv.columns == ["CY_Qtr", "P1", "P2", "P3"]
    q1 = rows[0]
    assert q1.CY_Qtr == "2024-Q1" and q1.P1 == 10.0 and q1.P3 == 40.0
    assert rows[1].P2 is None  # facility absent in Q2 → NULL cell


def test_pivot_dynamic_path_warns_and_caps(metrics_df, caplog):
    import logging

    import pytest as _pytest

    with caplog.at_level(logging.WARNING, logger="nursinghome_data_pipeline_spark.query_layer"):
        ql.quarter_facility_pivot(metrics_df)  # dynamic-distinct path
    assert any("column_values" in r.message for r in caplog.records)
    # beyond the cap: refuse instead of building an unplannable schema
    with _pytest.raises(ValueError, match="max_columns"):
        ql.quarter_facility_pivot(metrics_df, max_columns=2)
    # explicit domain: no warning, no distinct job, stable columns
    caplog.clear()
    piv = ql.quarter_facility_pivot(metrics_df, column_values=["P1", "P2", "P3"])
    assert piv.columns == ["CY_Qtr", "P1", "P2", "P3"]
    assert not caplog.records


def test_numeric_means_and_columns(metrics_df):
    assert ql.numeric_columns(metrics_df) == ["ratio", "total_nurse_hours"]
    m = ql.numeric_means(metrics_df).first()
    assert m.ratio == pytest.approx(2.5)


def test_preview(metrics_df):
    assert ql.preview(metrics_df, 2).count() == 2


def test_get_metrics_bounded_wait_and_fallback():
    """functions/obs.py: metrics already delivered return immediately;
    a never-delivering observation falls back (when given) or raises a
    TimeoutError instead of blocking forever."""
    import time

    import pytest

    from nursinghome_data_pipeline_spark.functions.obs import get_metrics

    class _Delivered:
        @property
        def get(self):
            return {"n": 7}

    class _Deaf:
        @property
        def get(self):
            time.sleep(3600)

    assert get_metrics(_Delivered()) == {"n": 7}
    assert get_metrics(_Deaf(), timeout=0.2, fallback=lambda: {"n": 1}) == {
        "n": 1
    }
    with pytest.raises(TimeoutError, match="listener"):
        get_metrics(_Deaf(), timeout=0.2)


def test_concurrent_audit_rows_all_land(spark):
    # concurrent appends to one table directory would share the
    # committer's _temporary/0 and lose each other's files
    import sys
    import threading
    import uuid

    from nursinghome_data_pipeline_spark.catalog import AuditRow, write_audit_rows

    table = f"audit_race_{uuid.uuid4().hex[:8]}"
    start = threading.Barrier(8, timeout=60)

    def write(i: int) -> None:
        start.wait()
        write_audit_rows(spark, [AuditRow(table_name=f"t{i}", check_name="race",
                                          status="ok", metric_value=i)], table=table)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    rows = spark.table(table).collect()
    assert sorted(r.table_name for r in rows) == [f"t{i}" for i in range(8)]
    spark.sql(f"DROP TABLE {table}")
