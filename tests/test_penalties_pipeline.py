"""End-to-end penalties build (ingest → stage → curate), FIXTURES.md §1.

Pins the reference behaviors: multi-file union with missing-column
padding, coerce-to-null casts, lineage columns, duplicate-key audit,
COALESCE(fine,0) in the fact, no-ELSE CASE in the view.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.config import specs_from_dict
from nursinghome_data_pipeline_spark.pipelines.penalties import run_build

CONFIG = {
    "datasets": {
        "penalties": {
            "filename_pattern": "NH_Penalties_*.csv",
            "staging_table": "staging_penalties",
            "natural_key": [
                "cms_certification_number_ccn",
                "penalty_date",
                "penalty_type",
            ],
            "columns": {
                "cms_certification_number_ccn": {"type": "string"},
                "penalty_date": {"type": "date"},
                "penalty_type": {"type": "string"},
                "fine_amount": {"type": "numeric"},
                "payment_denial_length_in_days": {"type": "int", "nullable": True},
                "state": {"type": "string"},
                "provider_name": {"type": "string"},
            },
        }
    }
}

FILE_A = """CMS Certification Number (CCN),Penalty Date,Penalty Type,Fine Amount,Payment Denial Length in Days,State,Provider Name
015009,01/15/2024,Fine,10000.50,,AL,"Smith, Jones & Co"
015009,01/15/2024,Fine,2000,,AL,Duplicate Key Row
025010,bad-date,Fine,500,,TX,Bad Date Home
035011,02/20/2024,Payment Denial,,30,TX,Denial Home
045012,03/01/2024,Fine,0,,CA,Zero Fine Home
"""

# second file lacks the denial-days column → NULL padding (build.py:73-74)
FILE_B = """CMS Certification Number (CCN),Penalty Date,Penalty Type,Fine Amount,State,Provider Name
055013,04/05/2024,Fine,750.25,NY,Empire Care
"""


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    csv_dir = tmp_path_factory.mktemp("penalties_csvs")
    (csv_dir / "NH_Penalties_a.csv").write_text(FILE_A)
    (csv_dir / "NH_Penalties_b.csv").write_text(FILE_B)
    staged = run_build(
        spark, specs=specs_from_dict(CONFIG), csv_dir=str(csv_dir)
    )
    return staged


def test_staging_rows_and_schema(spark, built):
    assert built == {"penalties": 6}
    st = spark.table("staging_penalties")
    assert dict(st.dtypes)["penalty_date"] == "date"
    assert dict(st.dtypes)["fine_amount"] == "double"
    assert dict(st.dtypes)["payment_denial_length_in_days"] == "bigint"
    # leading zeros survive string typing (FIXTURES §1)
    ccns = {r[0] for r in st.select("cms_certification_number_ccn").collect()}
    assert "015009" in ccns and "055013" in ccns


def test_coerce_and_padding(spark, built):
    st = spark.table("staging_penalties")
    bad_date = st.where(F.col("cms_certification_number_ccn") == "025010").first()
    assert bad_date.penalty_date is None  # unparseable → NULL (coerce)
    padded = st.where(F.col("cms_certification_number_ccn") == "055013").first()
    assert padded.payment_denial_length_in_days is None  # column absent in file B
    assert padded.penalty_date == datetime.date(2024, 4, 5)
    assert padded.source_file == "NH_Penalties_b.csv"
    assert padded.ingestion_date == datetime.date.today()


def test_fact_penalty_coalesce(spark, built):
    fact = spark.table("fact_penalty")
    assert fact.count() == 6
    denial = fact.where(F.col("ccn") == "035011").first()
    assert denial.fine_amount == 0.0  # COALESCE(fine_amount, 0)
    assert denial.denial_days == 30


def test_view_penalties_by_state(spark, built):
    rows = {
        r.state: r
        for r in spark.table("v_penalties_by_state").collect()
    }
    assert rows["AL"].penalty_events == 2
    assert rows["AL"].total_fines == pytest.approx(12000.50)
    assert rows["AL"].fine_count == 2
    assert rows["AL"].avg_fine == pytest.approx(6000.25)
    # no positive fines → no-ELSE CASE yields NULL, not 0 (SURVEY §4.3 #6)
    assert rows["CA"].fine_count is None
    assert rows["CA"].total_fines == 0.0


def test_duplicate_key_audit(spark, built):
    audit = spark.table("dq_audit").where(
        F.col("table_name") == "staging_penalties"
    ).first()
    assert audit.status == "warn"
    assert audit.metric_value == 1.0  # one duplicated natural key
    assert audit.notes and "015009" in audit.notes


def test_build_jobs_stay_in_caller_job_group(spark, tmp_path, fresh_database, run_in_job_group):
    # the per-dataset units run on driver threads; their jobs (staging
    # writes, dup audits, audit rows) and the fact CTAS keep the group
    (tmp_path / "NH_Penalties_a.csv").write_text(FILE_A)
    (tmp_path / "NH_Penalties_b.csv").write_text(FILE_B)
    with fresh_database("build_job_group"):
        staged, launched, in_group = run_in_job_group(
            lambda: run_build(spark, specs=specs_from_dict(CONFIG), csv_dir=str(tmp_path))
        )
    assert staged == {"penalties": 6}
    assert launched > 0 and in_group == launched


def _two_dataset_config() -> dict:
    pen = CONFIG["datasets"]["penalties"]
    return {
        "datasets": {
            name: {**pen, "filename_pattern": f"NH_Penalties_{name}.csv",
                   "staging_table": f"staging_{name}"}
            for name in ("a", "b")
        }
    }


def test_build_appends_its_audit_rows_in_one_write(spark, tmp_path, monkeypatch, fresh_database):
    from pyspark.sql.readwriter import DataFrameWriter

    (tmp_path / "NH_Penalties_a.csv").write_text(FILE_A)
    (tmp_path / "NH_Penalties_b.csv").write_text(FILE_B)
    written = []
    real = DataFrameWriter.saveAsTable

    def capture(self, name, *args, **kwargs):
        written.append(name)
        return real(self, name, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", capture)
    with fresh_database("build_one_audit_append"):
        staged = run_build(spark, specs=specs_from_dict(_two_dataset_config()), csv_dir=str(tmp_path))
        audit = spark.table("dq_audit").collect()
    assert staged == {"a": 5, "b": 1}
    assert written.count("dq_audit") == 1
    check = "dup_cms_certification_number_ccn_penalty_date_penalty_type"
    sample = ('[{"cms_certification_number_ccn":"015009","penalty_date":"2024-01-15",'
              '"penalty_type":"Fine","n":2}]')
    assert sorted(tuple(r)[:-1] for r in audit) == [
        ("staging_a", check, "warn", 1.0, 0.0, 1, sample),
        ("staging_b", check, "ok", 0.0, 0.0, 0, None),
    ]
    assert len({r.created_at for r in audit}) == 1


def test_build_failure_in_one_dataset_lets_the_other_finish(spark, tmp_path, monkeypatch, fresh_database):
    from nursinghome_data_pipeline_spark.pipelines import penalties

    (tmp_path / "NH_Penalties_a.csv").write_text(FILE_A)
    (tmp_path / "NH_Penalties_b.csv").write_text(FILE_B)
    real = penalties.ingest_dataset

    def ingest(spark_, spec, base_dir):
        if spec.name == "a":
            raise RuntimeError("ingest of a failed")
        return real(spark_, spec, base_dir)

    monkeypatch.setattr(penalties, "ingest_dataset", ingest)
    with fresh_database("build_partial_failure"):
        with pytest.raises(RuntimeError, match="ingest of a failed"):
            run_build(spark, specs=specs_from_dict(_two_dataset_config()), csv_dir=str(tmp_path))
        assert spark.table("staging_b").count() == 1
        audit = spark.table("dq_audit").collect()
        assert [r.table_name for r in audit] == ["staging_b"]
        assert not spark.catalog.tableExists("staging_a")
