"""SparkSession builder with the semantics this engine is tested under.

The reference pipeline relies on pandas' coerce-to-null casting
(``/root/reference/build.py:27-37``) and naive local timestamps. We pin
the matching Spark configs here; engine code that must behave the same
under a foreign session (e.g. the driver's) uses ``try_cast`` /
``try_divide`` explicitly instead of relying on ``spark.sql.ansi.enabled``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "nursinghome-data-pipeline-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Defaults target local mode sized by ``SPARK_GRAFT_CPUS`` (driver
    contract); on a real cluster pass ``master=None`` via spark-submit
    and only the SQL configs apply.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~#cores; a cluster deployment would set this to
        # 2-3x total executor cores, or rely on AQE coalescing.
        shuffle_partitions = cpus
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # pandas `errors="coerce"` cast semantics (reference build.py:27-37):
        # non-ANSI cast yields NULL on bad input instead of raising.
        .config("spark.sql.ansi.enabled", "false")
        # DuckDB oracle comparisons assume UTC-naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # stage progress bars write \r-frames to the console; a harness
        # that tail-parses combined output would see them interleaved
        # with the one-line JSON contract (observed in BENCH_r01's
        # unparseable tail), so keep them off unconditionally.
        .config("spark.ui.showConsoleProgress", "false")
        # JVM-wide generated-class cache (static; Spark's default 100).
        # It pays when one JVM repeats a workload's plans: a long-lived
        # session re-running a pipeline, or nhbench's closed loop once
        # --seconds spans more than one op.
        # Sized from the largest single working set, counted with an
        # unbounded cache: one corpus_iterative set-up and op compile
        # 246 distinct classes, an nh_etl pass 135. At 100 every
        # repeated corpus_iterative op recompiled 190-222 of them; at
        # 256, the next power of two above 246, 2 (nhbench op_p50_s
        # with repeated ops: SCALE.md "Code generation cache").
        .config("spark.sql.codegen.cache.maxEntries", "256")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
