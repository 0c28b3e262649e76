#!/usr/bin/env python3
"""Benchmark of the nursing-home analytics engine.

Run from the repository root:

    python3 nhbench/run.py --workload nh_etl --seed 1 --seconds 10 --trace 0

One run starts Spark at ``local[nproc]`` with a fixed driver memory
(:data:`DRIVER_MEMORY`), sets the workload up :data:`SETUP_REPS` times
from the seed (session start, input generation, index build, warm-up)
and keeps the last set-up, then runs the workload's operation in a
closed loop with one client for ``--seconds`` (at least one operation).
Outputs are checked outside the timed window. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 1`` traces every operation, reports the
per-layer metrics instead of the end-to-end ones and writes every span
to ``.nhbench_out/``. See
``nhbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from nhbench.layers import StatusStore, Tracer, median  # noqa: E402

DRIVER_MEMORY = "2g"
SETUP_REPS = 3
OUT_DIR = ".nhbench_out"
WORK_DIR = ".nhbench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


class HostConditions:
    """nproc and achieved parallelism, load at start, steal over the run
    and CPU calibration at start and end, so a contended run marks
    itself instead of being silently compared."""

    def __init__(self, calibrate):
        self.calibrate = calibrate
        self.load1, self.load5, _ = os.getloadavg()
        self.calib_start = calibrate()
        self._cpu0 = _cpu_times()
        self.parallelism = None

    def finish(self) -> dict:
        total, steal = _cpu_times()
        dt = total - self._cpu0[0]
        return {
            "nproc": nproc(),
            "default_parallelism": self.parallelism,
            "driver_memory": DRIVER_MEMORY,
            "load1_start": self.load1,
            "load5_start": self.load5,
            "steal_frac": (steal - self._cpu0[1]) / dt if dt else 0.0,
            "calib_start_s": self.calib_start,
            "calib_end_s": self.calibrate(),
        }


class Run:
    """Per-run state: the session, the run's working directory, the
    tracer (traced runs only) and the recorded operations."""

    def __init__(self, args):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.base = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.store = None
        self.tracer = None
        self.session_start_s: list[float] = []
        self.setup_s: list[float] = []
        self.ops: list[dict] = []

    def start_session(self, work: str):
        from nursinghome_data_pipeline_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        n = nproc()
        t0 = time.perf_counter()
        self.spark = build_session(
            "nhbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            driver_memory=DRIVER_MEMORY,
            extra={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.local.dir": os.path.join(self.base, "local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.base, 'tmp')}",
            },
        )
        self.session_start_s.append(time.perf_counter() - t0)
        self.store = StatusStore(self.spark)
        if self.trace:
            self.tracer = Tracer(self.spark, self.store)
            self.tracer.active = False

    def tracing(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.active = on

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.traced else nullcontext({})

    def retained_mb(self) -> float:
        """Driver JVM heap still in use after a full GC, plus this
        Python process's resident set: what the run keeps (caches,
        driver-side state, fetched results). A high-water RSS would
        mostly measure when the collector last ran."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        heap = rt.totalMemory() - rt.freeMemory()
        with open("/proc/self/status", encoding="ascii") as fh:
            py_kb = sum(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
        return heap / 2**20 + py_kb / 1024.0

    def shutdown(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        import subprocess

        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def set_up(run: Run, workload) -> float:
    """Set the workload up SETUP_REPS times, each in a fresh directory
    with a fresh session, and return the median wall time. The last
    set-up is the one measured; set-up is never traced."""
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        work = os.path.join(run.base, f"rep{rep}")
        os.makedirs(work)
        run.start_session(work)
        workload.setup(run, work)
        run.setup_s.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            workload.teardown()
            shutil.rmtree(work, ignore_errors=True)
    return statistics.median(run.setup_s)


def measure(run: Run, workload, seconds: float) -> float:
    """Closed loop of operations for ``seconds``, at least one; every
    operation of a traced run is traced."""
    run.tracing(run.trace)
    t0 = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds:
        w0 = time.time()
        o = workload.op(run, i)
        o.update(t_start=w0, t_end=time.time())
        run.ops.append(o)
        i += 1
    run.tracing(False)
    return time.perf_counter() - t0


def end_to_end(run: Run, setup_s: float, window_s: float, mem: float) -> dict:
    items = sum(o["items"] for o in run.ops)
    # nh_etl: CSV input rows over the time from landing to the written
    # metrics CSV; otherwise operations' items over the window
    busy = sum(o["etl_s"] for o in run.ops) if "etl_s" in run.ops[0] else window_s
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(o["dur"] for o in run.ops), "unit": "s"},
        "items_per_s": {"value": items / busy, "unit": "1/s"},
        "retained_mb": {"value": mem, "unit": "MB"},
    }


def per_layer(run: Run) -> dict:
    """Per-operation layer split, median over the (traced) operations:
    each job counts once, for the innermost span it ran under.
    ``trace.overhead_frac`` is the time the tracing itself took inside
    an operation over the rest of the operation."""
    tracer = run.tracer
    tracer.resolve()
    per_op = []
    for o in run.ops:
        spans = [s for s in tracer.spans if o["t_start"] <= s["start"] <= o["t_end"]]
        job_s = sum(s["self_job_s"] for s in spans)
        own = tracer.overhead_s(spans)
        per_op.append({
            "dur_s": o["dur"],
            "job_s": job_s,
            "nonjob_s": o["dur"] - job_s,
            "jobs": sum(s["jobs"] for s in spans),
            "stages": sum(s["stages"] for s in spans),
            "tasks": sum(s["tasks"] for s in spans),
            "shuffle_bytes": sum(s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in spans),
            "task_skew": max((s["task_skew"] for s in spans), default=1.0),
            "overhead_frac": own / (o["dur"] - own),
        })
    restarts = run.session_start_s[1:] or run.session_start_s

    def m(key, unit):
        return {"value": median(p[key] for p in per_op), "unit": unit}

    return {
        "session.launch_s": {"value": run.session_start_s[0], "unit": "s"},
        "session.start_s": {"value": median(restarts), "unit": "s"},
        "op.dur_s": m("dur_s", "s"),
        "op.job_s": m("job_s", "s"),
        "op.nonjob_s": m("nonjob_s", "s"),
        "op.jobs": m("jobs", "count"),
        "op.stages": m("stages", "count"),
        "op.tasks": m("tasks", "count"),
        "op.shuffle_bytes": m("shuffle_bytes", "bytes"),
        "op.task_skew": m("task_skew", "ratio"),
        "trace.overhead_frac": m("overhead_frac", "fraction"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        from bench import _cpu_calibration  # the repository's CPU calibration
        from nhbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"nhbench: run this from the repository root ({e})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"nhbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run = Run(args)
    os.makedirs(os.path.join(run.base, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run.base, "tmp")
    workload = WORKLOADS[args.workload]()
    t_start = time.perf_counter()
    try:
        host = HostConditions(_cpu_calibration)
        t0 = time.perf_counter()
        setup_s = set_up(run, workload)
        host.parallelism = run.spark.sparkContext.defaultParallelism
        t1 = time.perf_counter()
        window_s = measure(run, workload, args.seconds)
        mem = run.retained_mb()
        t2 = time.perf_counter()
        attempted, failed = workload.verify(run)
        t3 = time.perf_counter()
        if run.trace:
            metrics = per_layer(run)
        else:
            metrics = end_to_end(run, setup_s, window_s, mem)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host.finish(), "setup_s": run.setup_s,
            "session_start_s": run.session_start_s, "window_s": window_s,
            "phases_s": {"calibrate": t0 - t_start, "setup": t1 - t0,
                         "measure": t2 - t1, "verify": t3 - t2},
            "attempted": attempted, "failed": failed, "ops": run.ops, "metrics": metrics,
        }
        os.makedirs(os.path.join(ROOT, OUT_DIR), exist_ok=True)
        stem = os.path.join(ROOT, OUT_DIR, f"{args.workload}-{args.seed}-t{args.trace}")
        with open(stem + ".json", "w", encoding="utf-8") as fh:
            json.dump(record, fh, indent=1, default=str)
        if run.trace:
            run.tracer.write(stem + ".trace.json", {"workload": args.workload,
                                                    "derived": workload.derived_layers(run.tracer)})
        print(json.dumps({k: record[k] for k in ("host", "setup_s", "phases_s")}), file=sys.stderr)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        workload.teardown()
        run.shutdown()
        shutil.rmtree(run.base, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
