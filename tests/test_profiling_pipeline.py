"""Directory profiling pipeline (load_nursing_home_data parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.pipelines.profiling import profile_directory


def test_profile_directory(spark, tmp_path):
    (tmp_path / "My Facility Data.csv").write_text("A Col,B Col\n1,\n2,x\n")
    (tmp_path / "other.csv").write_text("q,r\n7,8\n")
    counts = profile_directory(spark, str(tmp_path))
    assert counts == {"my_facility_data": 2, "other": 1}
    # staged under normalized stem (load_nursing_home_data.py:9-17)
    assert spark.table("my_facility_data").count() == 2
    prof = spark.table("dq_completeness").where(
        F.col("table_name") == "my_facility_data"
    )
    rows = {r.column_name: r for r in prof.collect()}
    assert rows["B Col"].pct_not_null == 50.0
    assert rows["A Col"].non_null_count == 2


def test_stem_collision_raises_naming_both_files(spark, tmp_path):
    (tmp_path / "A B.csv").write_text("x\n1\n")
    (tmp_path / "a_b.csv").write_text("y\n2\n")
    with pytest.raises(ValueError) as err:
        profile_directory(spark, str(tmp_path), stage_tables=False)
    assert str(tmp_path / "A B.csv") in str(err.value)
    assert str(tmp_path / "a_b.csv") in str(err.value)


@pytest.mark.parametrize("stage_tables", [True, False])
def test_zero_byte_csv_profiles_as_empty(spark, tmp_path, fresh_database, stage_tables):
    (tmp_path / "blank.csv").write_bytes(b"")
    (tmp_path / "full.csv").write_text("a,b\n1,\n2,x\n")
    with fresh_database(f"zero_byte_{int(stage_tables)}"):
        counts = profile_directory(spark, str(tmp_path), stage_tables=stage_tables)
        assert counts == {"blank": 0, "full": 2}
        prof = spark.table("dq_completeness").collect()
        assert sorted((r.table_name, r.column_name) for r in prof) == [("full", "a"), ("full", "b")]
        assert spark.catalog.tableExists("full") == stage_tables
        assert not spark.catalog.tableExists("blank")


def _profile_csvs(tmp_path):
    (tmp_path / "My Facility Data.csv").write_text("A Col,B Col\n1,\n2,x\n")
    (tmp_path / "other.csv").write_text("q,r\n7,8\n")
    (tmp_path / "empty rows.csv").write_text("u\n")


def test_staging_mode_does_not_change_counts_or_profile(spark, tmp_path, fresh_database):
    _profile_csvs(tmp_path)
    out = {}
    for stage_tables in (True, False):
        with fresh_database(f"profile_mode_{int(stage_tables)}"):
            counts = profile_directory(spark, str(tmp_path), stage_tables=stage_tables)
            rows = sorted(tuple(r) for r in spark.table("dq_completeness").collect())
            out[stage_tables] = (counts, rows)
    assert out[True] == out[False]
    assert out[True][0] == {"empty_rows": 0, "my_facility_data": 2, "other": 1}
    assert len(out[True][1]) == 5


def test_profile_jobs_stay_in_caller_job_group(spark, tmp_path, fresh_database, run_in_job_group):
    _profile_csvs(tmp_path)
    with fresh_database("profile_job_group"):
        counts, launched, in_group = run_in_job_group(
            lambda: profile_directory(spark, str(tmp_path))
        )
    assert counts["other"] == 1
    assert launched > 0 and in_group == launched
