from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from nursinghome_data_pipeline_spark.session import build_session

    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    # Cross-config robustness knob: the external driver runs queries
    # under ITS session, not ours, so results must not depend on this
    # suite's pinned confs. `SPARK_GRAFT_TEST_EXTRA` injects overrides
    # (JSON object of spark confs) — e.g. ANSI on, a prime shuffle
    # width, AQE off — and the whole suite must stay green:
    #   SPARK_GRAFT_TEST_EXTRA='{"spark.sql.ansi.enabled":"true",
    #     "spark.sql.shuffle.partitions":"7",
    #     "spark.sql.adaptive.enabled":"false"}' pytest tests/
    extra = {"spark.sql.warehouse.dir": warehouse}
    override = os.environ.get("SPARK_GRAFT_TEST_EXTRA")
    if override:
        import json

        extra.update(json.loads(override))
    spark = build_session("tests", driver_memory="8g", extra=extra)
    yield spark
    spark.stop()
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def fresh_database(spark):
    """``with fresh_database(name):`` runs the block with a new, empty
    database ``name`` as the current one, then switches back to
    ``default``."""

    @contextmanager
    def use(name: str):
        spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
        spark.sql(f"CREATE DATABASE {name}")
        spark.catalog.setCurrentDatabase(name)
        try:
            yield name
        finally:
            spark.catalog.setCurrentDatabase("default")

    return use


@pytest.fixture
def last_job_id(spark):
    """``last_job_id()``: the newest job id in the status store (-1
    before any job), read after the listener bus drains."""
    jsc = spark.sparkContext._jsc.sc()

    def read() -> int:
        jsc.listenerBus().waitUntilEmpty(30_000)
        jobs = jsc.statusStore().jobsList(None)  # a Scala Seq
        return -1 if jobs.isEmpty() else max(jobs.head().jobId(), jobs.last().jobId())

    return read


@pytest.fixture
def run_in_job_group(spark, last_job_id):
    """``run_in_job_group(fn)`` calls ``fn()`` under a fresh job group
    and returns ``(result, jobs launched, jobs in that group)``; jobs
    launched is the job-id delta read from the status store."""
    sc = spark.sparkContext

    def run(fn):
        group = f"g-{uuid.uuid4().hex[:8]}"
        before = last_job_id()
        sc.setJobGroup(group, "concurrency contract")
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        launched = last_job_id() - before
        in_group = [j for j in sc.statusTracker().getJobIdsForGroup(group) if j > before]
        return out, launched, len(in_group)

    return run
