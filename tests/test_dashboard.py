"""Static-HTML dashboard twins of the reference Streamlit apps:
payload numbers must equal the reference's pandas aggregations
(metrics_dashboard.py:28-45, streamlit_app.py:29-50); the artifact
must be self-contained and carry every state/table panel."""

from __future__ import annotations

import pytest

from nursinghome_data_pipeline_spark import dashboard as dash

DAILY = """PROVNUM,STATE,CY_Qtr,MDScensus,Hrs_RN,Hrs_LPN,Hrs_CNA
P001,TX,2024Q1,100,10,20,30
P001,TX,2024Q2,50,5,10,15
P002,TX,2024Q1,80,8,8,8
P003,CA,2024Q2,40,4,4,4
"""

CTR_EMP = """PROVNUM,CY_Qtr,Hrs_RN_ctr,Hrs_LPN_ctr,Hrs_CNA_ctr,Hrs_RN_emp,Hrs_LPN_emp,Hrs_CNA_emp
P001,2024Q1,1,1,1,3,3,3
P001,2024Q2,2,2,2,3,3,3
P002,2024Q1,1,1,1,2,2,2
P003,2024Q2,1,1,1,2,2,2
"""


@pytest.fixture(scope="module")
def metrics(spark, tmp_path_factory):
    from nursinghome_data_pipeline_spark.pipelines.staffing_metrics import (
        run_staffing_metrics,
    )

    d = tmp_path_factory.mktemp("dash_csvs")
    (d / "pbj_daily.csv").write_text(DAILY)
    (d / "pbj_ctr_emp.csv").write_text(CTR_EMP)
    m, _ = run_staffing_metrics(spark, str(d))
    return m


def test_metrics_payload_matches_reference_aggregation(metrics):
    p = dash.metrics_payload(metrics)
    assert sorted(p) == ["CA", "TX"]
    tx = p["TX"]
    assert tx["facilities"] == ["P001", "P002"]
    assert tx["quarters"] == ["2024-Q1", "2024-Q2"]
    # P001: Q1 ratio 60/100, Q2 ratio 30/50 → mean 0.6 (same value both)
    assert tx["ratio"][0] == pytest.approx(0.6)
    # P002: 24/80
    assert tx["ratio"][1] == pytest.approx(0.3)
    # contract: P001 Q1 3/9, Q2 6/9 → mean 0.5; P002 3/6 = 0.5
    assert tx["contract"][0] == pytest.approx(0.5)
    assert tx["contract"][1] == pytest.approx(0.5)
    # hours matrix: quarter × facility sums, None where absent
    assert tx["hours"]["P001"] == [pytest.approx(60.0), pytest.approx(30.0)]
    assert tx["hours"]["P002"][0] == pytest.approx(24.0)
    assert tx["hours"]["P002"][1] is None
    ca = p["CA"]
    assert ca["facilities"] == ["P003"]
    assert ca["ratio"][0] == pytest.approx(12.0 / 40.0)


def test_metrics_html_selfcontained_all_states(metrics):
    html = dash.render_metrics_html(dash.metrics_payload(metrics))
    # both state panels embedded; selector switches client-side
    assert 'data-key="TX"' in html and 'data-key="CA"' in html
    assert "<select" in html and "<svg" in html
    assert "prefers-color-scheme: dark" in html  # dark mode selected, not flipped
    assert "data table" in html  # table view (accessibility + relief rule)
    assert "Nurse-to-patient ratio" in html
    # no external assets: a single self-contained artifact
    assert "http://" not in html.replace("http://www.w3.org/", "")
    assert "https://" not in html
    # legend present for the multi-series line chart
    assert 'class="legend"' in html and 'class="key"' in html


def test_hours_series_caps_line_count_with_other_fold():
    state = {
        "facilities": [f"P{i:03d}" for i in range(10)],
        "quarters": ["2024-Q1", "2024-Q2"],
        "hours": {f"P{i:03d}": [float(i), None] for i in range(10)},
    }
    series = dash._hours_series(state)
    assert len(series) == 8  # 7 named + Other
    assert list(series)[:7] == state["facilities"][:7]  # fixed slot order
    # Other sums the folded facilities per quarter; all-None stays None
    assert series["Other"][0] == pytest.approx(7.0 + 8.0 + 9.0)
    assert series["Other"][1] is None


def test_overview_payload_and_html(spark, tmp_path):
    import pyspark.sql.functions as F

    spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", 4.0), (3, None, None)],
        "id long, name string, score double",
    ).createOrReplaceTempView("dash_demo")
    spark.createDataFrame(
        [("dash_demo", "name", 66.67), ("dash_demo", "score", 66.67)],
        "table_name string, column_name string, pct_not_null double",
    ).createOrReplaceTempView("dq_completeness")
    try:
        p = dash.overview_payload(spark, ["dash_demo"])
        d = p["dash_demo"]
        assert d["columns"] == ["id", "name", "score"]
        assert len(d["preview"]) == 3
        assert d["numeric_means"]["score"] == pytest.approx(3.0)
        assert d["completeness"]["name"] == pytest.approx(66.67)
        html = dash.render_overview_html(p)
        assert 'data-key="dash_demo"' in html
        assert "Completeness" in html and "Numeric column averages" in html
    finally:
        spark.catalog.dropTempView("dash_demo")
        spark.catalog.dropTempView("dq_completeness")


def test_render_handles_empty_payloads():
    # a fresh warehouse / an all-dropped metrics frame must still
    # produce a valid page, not a crash
    assert "<select" in dash.render_metrics_html({})
    assert "<select" in dash.render_overview_html({})
    assert "<svg" in dash._bar_chart([], [])


def test_dashboard_cli_writes_artifact(spark, tmp_path, monkeypatch):
    from nursinghome_data_pipeline_spark import cli

    d = tmp_path / "csvs"
    d.mkdir()
    (d / "pbj_daily.csv").write_text(DAILY)
    (d / "pbj_ctr_emp.csv").write_text(CTR_EMP)
    out = tmp_path / "dash.html"
    rc = cli.main(
        ["dashboard", "metrics", "--data-dir", str(d), "--out", str(out)]
    )
    assert rc == 0
    text = out.read_text()
    assert text.startswith("<!doctype html>") and 'data-key="TX"' in text


def test_charts_render_negative_values_inside_viewbox():
    """A negative mean must draw a bar hanging below the axis (the
    reference st.bar_chart scales to cover negatives) — not a path
    outside the viewBox. All path/line/circle y-coordinates must stay
    within [0, _H] and the y-scale must extend to a nice negative
    bottom."""
    import re

    top, bot, ticks = dash._y_scale(5.0, -3.2)
    assert bot <= -3.2 and top >= 5.0
    assert any(t < 0 for t in ticks)

    for svg in (
        dash._bar_chart(["a", "b", "c"], [5.0, -3.2, None]),
        dash._bar_chart(["a"], [-7.0]),  # all-negative
        dash._line_chart(["x1", "x2"], {"s": [1.0, -2.0]}),
    ):
        assert "NaN" not in svg
        ys = [
            float(y)
            for m in re.findall(r'd="([^"]+)"', svg)
            for y in re.findall(r"[,\s](\d+\.?\d*)(?=[\sA-Z]|$)", m)
        ] + [float(y) for y in re.findall(r'cy="([-\d.]+)"', svg)]
        assert ys and all(0 <= y <= dash._H for y in ys), svg[:200]

    # positive-only inputs keep the baseline at the bottom (bot == 0)
    top2, bot2, _ = dash._y_scale(4.0, 0.5)
    assert bot2 == 0.0


def test_metrics_payload_drops_null_group_keys(spark):
    # pandas groupby(dropna=True): a NULL key drops the row from that
    # grouping only — a NULL quarter still counts toward the ratios
    m = spark.createDataFrame(
        [
            ("P001", "TX", "2024-Q1", 0.5, 0.1, 10.0),
            ("P001", "TX", None, 0.7, 0.3, 5.0),
            (None, "TX", "2024-Q1", 9.0, 9.0, 99.0),
            ("P009", None, "2024-Q1", 9.0, 9.0, 99.0),
        ],
        "PROVNUM string, STATE string, CY_Qtr string, nurse_to_patient_ratio double, "
        "contract_vs_employed_ratio double, total_nurse_hours double",
    )
    p = dash.metrics_payload(m)
    assert list(p) == ["TX"]
    tx = p["TX"]
    assert tx["facilities"] == ["P001"] and tx["quarters"] == ["2024-Q1"]
    assert tx["ratio"] == [pytest.approx(0.6)]
    assert tx["contract"] == [pytest.approx(0.2)]
    assert tx["hours"] == {"P001": [pytest.approx(10.0)]}


def test_overview_jobs_stay_in_caller_job_group(spark, fresh_database, run_in_job_group):
    with fresh_database("overview_job_group"):
        spark.createDataFrame([(1, "a"), (2, None)], "id long, name string") \
            .write.saveAsTable("t_one")
        spark.createDataFrame([("x", 1.5)], "k string, v double").write.saveAsTable("t_two")
        spark.createDataFrame(
            [("t_one", "name", 50.0), ("t_two", "v", 100.0), ("gone", "c", 0.0)],
            "table_name string, column_name string, pct_not_null double",
        ).write.saveAsTable("dq_completeness")
        p, launched, in_group = run_in_job_group(lambda: dash.overview_payload(spark))
    assert list(p) == ["t_one", "t_two"]
    assert p["t_one"]["completeness"] == {"name": 50.0}
    assert p["t_two"]["numeric_means"] == {"v": 1.5}
    assert launched > 0 and in_group == launched


def test_overview_launches_no_catalog_iterator_job(spark, fresh_database, last_job_id):
    # spark.catalog.listTables() collects through a local iterator: a
    # listTables job, then a hasNext job per partition it fetches
    with fresh_database("overview_no_iterator"):
        spark.range(3).write.saveAsTable("t_one")
        before = last_job_id()
        p = dash.overview_payload(spark)
        last_job_id()  # drains the listener bus
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    names = [jobs.apply(i).name() for i in range(jobs.size()) if jobs.apply(i).jobId() > before]
    assert list(p) == ["t_one"]
    assert names
    assert not [n for n in names if n.split(" at ")[0] in ("listTables", "hasNext", "toLocalIterator")]
