"""Staffing-metrics pipeline end-to-end (FIXTURES.md §3) with
hand-computed expectations pinning every cleaning rule."""

from __future__ import annotations

import pytest

from nursinghome_data_pipeline_spark.pipelines.staffing_metrics import (
    run_staffing_metrics,
)

DAILY = """PROVNUM,STATE,CY_Qtr,MDScensus,Hrs_RN,Hrs_LPN,Hrs_CNA
P001,TX,2024Q1,100,10,20,30
P001,TX,2024 Q1,50,5,10,15
P001,TX,garbage,10,1,2,3
P002,TX,2024Q1,0,8,8,8
P003,CA,2024Q2,40,4,4,4
P004,CA,2024Q2,xx,4,4,4
"""

CTR_EMP = """PROVNUM,CY_Qtr,Hrs_RN_ctr,Hrs_LPN_ctr,Hrs_CNA_ctr,Hrs_RN_emp,Hrs_LPN_emp,Hrs_CNA_emp
P001,2024Q1,1,,2,7,7,7
P001,2024 Q1,2,2,2,3,3,3
P001,garbage,9,9,9,9,9,9
P002,2024Q1,1,1,1,2,2,2
P003,2024Q2,1,1,1,0,0,0
P004,2024Q2,1,1,1,2,2,2
"""

DECOY = """FOO,BAR
1,2
"""


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("staffing_csvs")
    (d / "pbj_daily.csv").write_text(DAILY)
    (d / "pbj_ctr_emp.csv").write_text(CTR_EMP)
    (d / "decoy.csv").write_text(DECOY)  # lacks PROVNUM/CY_Qtr → skipped
    return run_staffing_metrics(spark, str(d))


def test_final_metrics(result):
    metrics, _ = result
    rows = metrics.collect()
    # surviving: P001 only —
    #  - P001 'garbage' quarter → NULL → dropped (normalize_quarter)
    #  - P002 zero census → all criticals blanked → dropped
    #  - P003 employed hours all zero → NULL denominator → ratio dropped
    #  - P004 census 'xx' → coerce NULL → dropped
    assert len(rows) == 1
    r = rows[0]
    assert (r.PROVNUM, r.STATE, r.CY_Qtr) == ("P001", "TX", "2024-Q1")
    # quarters '2024Q1' and '2024 Q1' normalize together:
    # hours (60+30)=90, census (100+50)=150, contract (1+0+2)+(2+2+2)=9
    # (NULL ctr contributes 0 — pandas skipna parity), employed 21+9=30
    assert r.total_nurse_hours == pytest.approx(90.0)
    assert r.nurse_to_patient_ratio == pytest.approx(90.0 / 150.0)
    assert r.contract_vs_employed_ratio == pytest.approx(9.0 / 30.0)


def test_report_counters(result):
    _, report = result
    assert report.zero_blanked_rows == 1  # the P002 zero-census row
    assert report.dropped_bad_denominator == 1  # the P003 group
    assert report.empty_merges == []


def test_output_schema(result):
    metrics, _ = result
    assert metrics.columns == [
        "PROVNUM",
        "STATE",
        "CY_Qtr",
        "nurse_to_patient_ratio",
        "contract_vs_employed_ratio",
        "total_nurse_hours",
    ]


def test_empty_merge_detected_without_extra_jobs(spark, tmp_path):
    """Empty-merge detection rides the single executed plan (observe/
    CollectMetrics), so building the merged frame launches ZERO Spark
    jobs — the old per-fold isEmpty() probes each re-executed the join
    prefix (O(N²) across N files)."""
    from nursinghome_data_pipeline_spark.pipelines.staffing_metrics import (
        StaffingMetricsReport,
        load_staffing_data,
    )

    (tmp_path / "pbj_daily.csv").write_text(DAILY)
    # quarters that never match the daily file → empty inner join
    (tmp_path / "pbj_ctr_emp.csv").write_text(
        CTR_EMP.replace("2024Q1", "1999Q1")
        .replace("2024 Q1", "1999 Q1")
        .replace("2024Q2", "1999Q2")
        .replace("garbage", "1999Q3")
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    report = StaffingMetricsReport()
    merged = load_staffing_data(spark, str(tmp_path), report)
    assert len(tracker.getJobIdsForGroup(None)) == jobs_before  # lazy
    merged.count()  # the ONE action
    report.finalize()
    assert report.empty_merges == [("pbj_ctr_emp.csv", "pbj_daily.csv")]


def test_missing_required_column_fails(spark, tmp_path):
    (tmp_path / "only_base.csv").write_text(DAILY)
    with pytest.raises(ValueError, match="Missing required columns"):
        run_staffing_metrics(spark, str(tmp_path))


def test_no_qualifying_files_fails(spark, tmp_path):
    (tmp_path / "decoy.csv").write_text(DECOY)
    with pytest.raises(FileNotFoundError):
        run_staffing_metrics(spark, str(tmp_path))


def test_written_metrics_are_returned_read_back_not_cached(spark, tmp_path, result):
    d = tmp_path / "in"
    d.mkdir()
    (d / "pbj_daily.csv").write_text(DAILY)
    (d / "pbj_ctr_emp.csv").write_text(CTR_EMP)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    metrics, report = run_staffing_metrics(spark, str(d), out_dir=str(tmp_path / "out"))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    cached, cached_report = result
    assert metrics.schema == cached.schema
    assert sorted(metrics.collect()) == sorted(cached.collect())
    fields = ("empty_merges", "zero_blanked_rows", "dropped_missing_critical",
              "dropped_bad_denominator")
    assert [getattr(report, f) for f in fields] == [getattr(cached_report, f) for f in fields]
