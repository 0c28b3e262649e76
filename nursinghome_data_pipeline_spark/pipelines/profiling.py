"""Directory profiling pipeline (SURVEY §2.1 S2, §2.5 A6, §2.2 K1/K2).

Re-expression of ``/root/reference/load_nursing_home_data.py``: load
every CSV in a directory with schema inference, stage each as a table
named from its normalized file stem, and append per-column completeness
metrics to ``dq_completeness``.

Execution shape: the per-file completeness profiles are built
concurrently, unioned and appended in ONE write, and every file's row
count is observed on that write (no count job per file). With
``stage_tables`` the per-file staging writes run concurrently with it
from driver threads; without it the files are read as strings, named
from the driver's read of each header line, so no header or inference
job runs before that append. The append plans one global aggregate per
CSV; stacking them into one grouped aggregate halves its jobs but
measured slower on a cold JVM (SCALE.md, "The nh_etl cold pass").
"""

from __future__ import annotations

import logging
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import stage_append, stage_overwrite
from ..dq import completeness_profile
from ..functions.obs import get_metrics
from ..parallel import map_actions
from ..sources.csv_source import read_inferred_csvs

log = logging.getLogger(__name__)

COMPLETENESS_TABLE = "dq_completeness"


def profile_directory(
    spark: SparkSession, directory: str, *, stage_tables: bool = True
) -> dict[str, int]:
    """Load + stage + profile every CSV; returns row counts per table."""
    # a profile counts non-NULLs, which the inferred types do not change;
    # only staged tables need them
    frames = read_inferred_csvs(spark, directory, infer_schema=stage_tables)
    if not frames:
        return {}
    stems = list(frames)
    # each profile frame's analysis is a driver round trip to the JVM;
    # built concurrently they overlap instead of queueing
    profile = reduce(
        DataFrame.unionByName,
        map_actions(
            lambda item: completeness_profile(item[1], table_name=item[0]),
            frames.items(),
        ),
    )
    # a file's row count is the row_count of any of its profile rows; a
    # file without columns has no profile rows and counts 0
    aggs = [
        F.max(F.when(F.col("table_name") == stem, F.col("row_count"))).alias(f"t{i}")
        for i, stem in enumerate(stems)
    ]
    obs = Observation(f"profiled_rows_{uuid.uuid4().hex[:8]}")
    profile = profile.observe(obs, *aggs)
    writes = [lambda: stage_append(profile, COMPLETENESS_TABLE)]
    if stage_tables:
        for stem, df in frames.items():
            if df.columns:
                writes.append(lambda df=df, stem=stem: stage_overwrite(df, stem))
            else:
                log.warning("not staging %s: the file has no columns", stem)
    map_actions(lambda write: write(), writes)
    rows = get_metrics(obs, fallback=lambda: profile.agg(*aggs).first().asDict())
    counts = {stem: rows[f"t{i}"] or 0 for i, stem in enumerate(stems)}
    for stem, n in counts.items():
        log.info("profiled %s rows=%d", stem, n)
    return counts
