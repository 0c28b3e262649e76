"""Directory profiling pipeline (load_nursing_home_data parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.pipelines.profiling import profile_directory
from nursinghome_data_pipeline_spark.sources.csv_source import safe_header, sniff_header


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


#: files whose inferred types differ from all-string reads: a blank and
#: a duplicate header name, quoted-empty and whitespace-only fields,
#: NaN, dates, short and long rows, and a zero-byte file
EDGE_CSVS = {
    "headers.csv": 'id,,id,note\n1,x,2,""\n2,,3,  \n,,,\n',
    "numbers.csv": "x,y,d\n1.5,NaN,2024-01-15\n,3,\n2,\"\",2024-02-30\n",
    "ragged.csv": "a,b,c\n1\n2,3,4,5,6\n\"\",,7\n",
    "zero.csv": "",
}


def test_staging_mode_does_not_change_counts_or_profile(spark, tmp_path, fresh_database):
    _profile_csvs(tmp_path)
    for name, text in EDGE_CSVS.items():
        (tmp_path / name).write_text(text)
    out = {}
    for stage_tables in (True, False):
        with fresh_database(f"profile_mode_{int(stage_tables)}"):
            counts = profile_directory(spark, str(tmp_path), stage_tables=stage_tables)
            rows = sorted(tuple(r) for r in spark.table("dq_completeness").collect())
            out[stage_tables] = (counts, rows)
    assert out[True] == out[False]
    assert out[True][0] == {
        "empty_rows": 0, "my_facility_data": 2, "other": 1,
        "headers": 3, "numbers": 3, "ragged": 3, "zero": 0,
    }
    assert len(out[True][1]) == 5 + 4 + 3 + 3
    profile = {(r[0], r[1]): r[3] for r in out[True][1]}
    assert [profile["headers", c] for c in ("id0", "_c1", "id2", "note")] == [2, 1, 2, 1]
    assert [profile["numbers", c] for c in ("x", "y", "d")] == [2, 2, 2]
    assert [profile["ragged", c] for c in ("a", "b", "c")] == [2, 1, 2]


def test_profile_without_staging_skips_inference_jobs(spark, tmp_path, fresh_database, last_job_id, monkeypatch):
    # names come from the driver's read of each header line, so neither
    # a header job nor an inference job runs before the profile append
    from nursinghome_data_pipeline_spark.pipelines import profiling

    _profile_csvs(tmp_path)
    real = profiling.stage_append
    at_append = []

    def append(df, table):
        at_append.append(last_job_id())
        real(df, table)

    monkeypatch.setattr(profiling, "stage_append", append)
    with fresh_database("profile_no_inference"):
        before = last_job_id()
        counts = profile_directory(spark, str(tmp_path), stage_tables=False)
    assert counts == {"empty_rows": 0, "my_facility_data": 2, "other": 1}
    assert at_append == [before]


def test_profile_jobs_stay_in_caller_job_group(spark, tmp_path, fresh_database, run_in_job_group):
    _profile_csvs(tmp_path)
    with fresh_database("profile_job_group"):
        counts, launched, in_group = run_in_job_group(
            lambda: profile_directory(spark, str(tmp_path))
        )
    assert counts["other"] == 1
    assert launched > 0 and in_group == launched


#: header lines Spark names by its own rules: case-insensitive
#: duplicates, a byte-order mark, backslashes and quotes, padded names,
#: leading blank lines, and quoting outside RFC 4180
HEADER_CSVS = {
    "case_dup.csv": "Id,id\n1,2\n",
    "bom.csv": "\ufeffa,b\n1,2\n",
    "backslash.csv": "x\\y,q'r\n1,2\n",
    "padded.csv": " a , b,c \n1,2,3\n",
    "blank_lines.csv": "\n  \nh1,h2\n1,2\n",
    "quoted.csv": '"a,b","c\\"d","e""f",g"h,"i" ,""\n1,2,3,4,5,6\n',
}


@pytest.mark.parametrize("case_sensitive", [False, True])
def test_driver_header_names_equal_spark_header_pass(spark, tmp_path, case_sensitive):
    for name, text in {**EDGE_CSVS, **HEADER_CSVS}.items():
        (tmp_path / name).write_text(text, encoding="utf-8")
    prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", str(case_sensitive).lower())
    try:
        for p in sorted(map(str, tmp_path.iterdir())):
            spark_names = spark.read.option("header", True).csv(p).columns
            assert safe_header(sniff_header(p), case_sensitive=case_sensitive) == spark_names, p
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)
    assert safe_header(("Id", "id"), case_sensitive=case_sensitive) == (
        ["Id", "id"] if case_sensitive else ["Id0", "id1"]
    )
