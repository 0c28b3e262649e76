"""Independent Spark actions issued from concurrent driver threads.

The ETL's per-dataset, per-file and per-table jobs are small (one to
four tasks each), so issued one at a time they leave most cores idle
while the driver plans the next one. Issued from several driver
threads, the scheduler runs them side by side.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")
R = TypeVar("R")


def map_actions(fn: Callable[[T], R], items: Iterable[T]) -> list[R]:
    """``[fn(x) for x in items]``, the calls spread over up to one
    driver thread per CPU.

    Results keep input order. Every call inherits the caller's Spark
    local properties (job group, description, scheduler pool), so its
    jobs are attributed like the caller's own. All calls finish before
    the first exception, in input order, is raised. One item or none
    runs inline."""
    items = list(items)
    if len(items) <= 1:
        return [fn(x) for x in items]
    workers = min(len(items), len(os.sched_getaffinity(0)))
    session = SparkSession.active()
    with ThreadPoolExecutor(workers, thread_name_prefix="spark-action") as pool:
        # wrapped per call: each wrap clones the caller's properties, so
        # a call that sets its own job group cannot leak it to a sibling
        futures = [pool.submit(inheritable_thread_target(session)(fn), x) for x in items]
    return [f.result() for f in futures]
