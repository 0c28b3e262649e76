#!/usr/bin/env python3
"""Measurement pass over the bench entries (measure first).

Usage: python scripts/measure.py --tag rNN [--after] [entry ...]

For every bench entry (or the named ones): capture
`.explain("formatted")` into plans/<tag>/<name>_before.txt (or
_after.txt with --after), time one
noop-sink run, and count the Spark jobs the entry launches (extra jobs
beyond the final noop write = driver-side actions: .first()/.collect()
setup passes, iterative loops). Plans are the judge's evidence and the
job counts are the hunting map — a query whose wall is 3x the median
with 40 jobs is paying scheduler fixed costs, not plan costs.

Writes a JSON summary to plans/<tag>/measure_summary_before.json (or
``_after.json`` with --after), keyed by entry, so before/after diffs
are scriptable. Not part of the driver contract; bench.py remains the
official timing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-entry plans, times and job counts.")
    ap.add_argument("--tag", required=True, help="round tag, e.g. r14")
    ap.add_argument("--after", action="store_true")
    ap.add_argument("entries", nargs="*")
    args = ap.parse_args()
    tag, only = args.tag, args.entries
    suffix = "after" if args.after else "before"
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    import bench
    from nursinghome_data_pipeline_spark import registry
    from nursinghome_data_pipeline_spark.session import build_session

    spark = build_session(f"{tag}-measure")
    sc = spark.sparkContext
    qs = registry.queries()
    names = only or (list(bench.BENCH_QUERIES) + list(bench.EXTRA_BENCH))
    fns = dict(bench.EXTRA_BENCH)

    # warm JVM/footers + streaming machinery the same way bench.py does
    qs["pricing_summary"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    if any(n.startswith("streaming") for n in names):
        qs["streaming_dedup_events"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    for warm in (
        "knn_ivf_partitioned_probe",
        "knn_lsh_partitioned_probe",
        "dedup_index_batch_probe",
        "simhash_index_batch_probe",
        "srp_index_batch_probe",
    ):
        if warm in names and warm in fns:
            fns[warm](spark, SF_DIR)

    summary: dict[str, dict] = {}
    for i, name in enumerate(names):
        fn = fns.get(name) or qs[name]
        # one group per call: a name listed twice must not count the
        # first call's jobs again
        group = f"{tag}-{name}-{i}"
        sc.setJobGroup(group, f"{tag} measure: {name}")
        sc.setJobDescription(f"{tag} measure: {name}")
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t_plan = time.perf_counter() - t0
        # formatted plan of the returned frame (pre-execution)
        try:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # plan capture must never abort the pass
            plan = f"<explain failed: {e}>"
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_exec = time.perf_counter() - t1
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        with open(
            os.path.join(out_dir, f"{name}_{suffix}.txt"), "w"
        ) as f:
            f.write(
                f"# {name} — {suffix} (sf={SF_DIR}, construct {t_plan:.2f}s,"
                f" noop exec {t_exec:.2f}s, spark jobs {len(jobs)})\n"
            )
            f.write(plan)
        summary[name] = {
            "construct_s": round(t_plan, 3),
            "exec_s": round(t_exec, 3),
            "total_s": round(t_plan + t_exec, 3),
            "n_jobs": len(jobs),
        }
        print(
            f"{name:42s} construct {t_plan:6.2f}s exec {t_exec:6.2f}s "
            f"jobs {len(jobs):3d}",
            flush=True,
        )
        sc.setJobGroup("", "")

    sum_path = os.path.join(out_dir, f"measure_summary_{suffix}.json")
    merged: dict[str, dict] = {}
    if os.path.exists(sum_path):
        with open(sum_path) as f:
            merged = json.load(f)
    merged.update(summary)
    with open(sum_path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"wrote {sum_path} ({len(summary)} entries)")


if __name__ == "__main__":
    main()
