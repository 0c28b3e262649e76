"""The nursing-home ETL pass (build → profile → staffing metrics →
dashboard payloads) runs on the JVM alone: nothing in it builds a frame
from Python rows, which would start the pyspark daemon and a Python
worker on an otherwise cold pass."""

from __future__ import annotations

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from nursinghome_data_pipeline_spark import dashboard
from nursinghome_data_pipeline_spark.config import specs_from_dict
from nursinghome_data_pipeline_spark.pipelines.penalties import run_build
from nursinghome_data_pipeline_spark.pipelines.profiling import profile_directory
from nursinghome_data_pipeline_spark.pipelines.staffing_metrics import run_staffing_metrics
from tests.test_penalties_pipeline import FILE_A, _two_dataset_config
from tests.test_staffing_metrics import CTR_EMP, DAILY

METRICS_SCHEMA = (
    "PROVNUM string, STATE string, CY_Qtr string, nurse_to_patient_ratio double, "
    "contract_vs_employed_ratio double, total_nurse_hours double"
)


def test_etl_pass_starts_no_python_worker(spark, tmp_path, monkeypatch, fresh_database):
    land, out_dir = tmp_path / "landing", str(tmp_path / "metrics")
    land.mkdir()
    specs = specs_from_dict(_two_dataset_config())
    for name in ("a", "b"):  # both carry the duplicated natural key
        (land / f"NH_Penalties_{name}.csv").write_text(FILE_A)
    (land / "pbj_daily.csv").write_text(DAILY)
    (land / "pbj_ctr_emp.csv").write_text(CTR_EMP)
    (land / "zero.csv").write_bytes(b"")

    def refuse(*args, **kwargs):
        raise AssertionError("local rows would start a Python worker")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    with fresh_database("etl_jvm_only"):
        assert run_build(spark, specs=specs, csv_dir=str(land)) == {"a": 5, "b": 5}
        for stage_tables in (False, True):
            counts = profile_directory(spark, str(land), stage_tables=stage_tables)
            assert counts["zero"] == 0 and counts["pbj_daily"] == 6
        run_staffing_metrics(spark, str(land), out_dir=out_dir)
        metrics = spark.read.schema(METRICS_SCHEMA).option("header", True).csv(out_dir)
        assert set(dashboard.metrics_payload(metrics)) == {"TX"}
        overview = dashboard.overview_payload(spark)
        audit = spark.table("dq_audit").collect()
    assert sorted((r.table_name, r.status) for r in audit) == [
        ("staging_a", "warn"), ("staging_b", "warn")
    ]
    assert "staging_a" in overview and "pbj_daily" in overview
    with pytest.raises(AssertionError, match="Python worker"):
        spark.createDataFrame([(1,)], "x int")
