"""Layer records read from Spark's driver-side status store.

The benchmark measures the package from outside: every call it makes
into a layer runs under its own Spark job group, and after the call the
jobs of that group are read back from the status store
(``sc._jsc.sc().statusStore()``), which is kept even with the web UI
off. :func:`record_call` is the one helper that turns a call into the
layer split: call time divided into eager-job and non-job time,
final-action time, jobs, stages, tasks, shuffle and spill bytes and the
worst stage's max/median task time. :class:`Tracer` keeps one span per
layer boundary in memory and writes them out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes")


@dataclass
class JobStats:
    """Counters of one set of jobs, plus their wall-clock intervals."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    task_skew: float = 1.0
    intervals: list = field(default_factory=list)

    def add(self, other: "JobStats") -> None:
        for k in COUNTERS:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_skew = max(self.task_skew, other.task_skew)
        self.intervals.extend(other.intervals)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_read_bytes + self.shuffle_write_bytes


def covered_s(intervals: list, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class StatusStore:
    """Reads jobs by group from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = self.sc._jvm
        self._quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds all jobs that finished before this call."""
        self._bus.waitUntilEmpty(30_000)

    def group_stats(self, group: str, skip=frozenset()) -> JobStats:
        """Counters of the group's jobs, leaving out the ids in ``skip``."""
        out = JobStats()
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            if job_id in skip:
                continue
            info = tracker.getJobInfo(job_id)
            jd = self._store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append((sub.get().getTime() / 1000.0,
                                      done.get().getTime() / 1000.0))
            out.jobs += 1
            for sid in info.stageIds if info else ():
                self._add_stage(out, sid)
        return out

    def _add_stage(self, out: JobStats, stage_id: int) -> None:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Exception:  # py4j error: stage skipped, never attempted
            return
        if str(st.status()) == "SKIPPED":
            return
        out.stages += 1
        out.tasks += st.numCompleteTasks()
        out.shuffle_read_bytes += st.shuffleReadBytes()
        out.shuffle_write_bytes += st.shuffleWriteBytes()
        out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.input_bytes += st.inputBytes()
        summary = self._store.taskSummary(stage_id, st.attemptId(), self._quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = run.apply(0), run.apply(1)
            if med > 0:
                out.task_skew = max(out.task_skew, mx / med)


@dataclass
class LayerRecord:
    """The layer split of one call (all times in seconds)."""

    name: str
    call_s: float
    job_s: float
    nonjob_s: float
    action_s: float
    jobs: int
    stages: int
    tasks: int
    shuffle_bytes: int
    spill_bytes: int
    input_bytes: int
    task_skew: float
    intervals: list = field(default_factory=list, repr=False)
    #: seconds spent reading the status store after the call
    trace_s: float = 0.0


_group_ids = itertools.count()


def record_call(spark, name: str, call, action=None, store: StatusStore | None = None):
    """Run ``call()`` then ``action(result)`` under fresh job groups and
    return ``(action_result_or_call_result, LayerRecord)``.

    ``call`` is the driver call into a layer (plan construction plus any
    jobs the layer runs eagerly); ``action`` is the final action on its
    result. Job time is the part of the call covered by Spark jobs; the
    rest is non-job time (Catalyst, py4j and Python)."""
    store = store or StatusStore(spark)
    sc = spark.sparkContext
    n = next(_group_ids)
    g_call, g_act = f"nhbench-{n}-call", f"nhbench-{n}-action"
    prev = sc.getLocalProperty("spark.jobGroup.id") or "nhbench-idle"
    sc.setJobGroup(g_call, name)
    t0 = time.time()
    try:
        out = call()
        t1 = time.time()
        if action is not None:
            sc.setJobGroup(g_act, name)
            out = action(out)
        t2 = time.time()
    finally:
        sc.setJobGroup(prev, prev)
    t_read = time.time()
    store.drain()
    cs, acts = store.group_stats(g_call), store.group_stats(g_act)
    job_s = covered_s(cs.intervals, t0, t1)
    total = JobStats()
    total.add(cs)
    total.add(acts)
    rec = LayerRecord(
        name=name, call_s=t1 - t0, job_s=job_s, nonjob_s=(t1 - t0) - job_s,
        action_s=t2 - t1, jobs=total.jobs, stages=total.stages,
        tasks=total.tasks, shuffle_bytes=total.shuffle_bytes,
        spill_bytes=total.spill_bytes, input_bytes=total.input_bytes,
        task_skew=total.task_skew, intervals=total.intervals,
        trace_s=time.time() - t_read,
    )
    return out, rec


class Tracer:
    """Spans at layer boundaries, kept in memory until :meth:`write`.

    A span is entered around a call into a layer; nested spans (a
    pipeline calling the catalog) get their own job group, and the
    parent's group is restored on exit, so each job counts once, for
    the innermost span. A span's self time is its duration minus the
    part of it its child spans cover."""

    def __init__(self, spark, store: StatusStore):
        self.spark = spark
        self.store = store
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.active = True

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield {}
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
              "group": f"nhbench-span-{sid}", **attrs}
        # restore whatever group was set on entry (an enclosing span's,
        # or record_call's), so later jobs keep their attribution
        prev = sc.getLocalProperty("spark.jobGroup.id") or "nhbench-idle"
        self._stack.append(sp)
        sc.setJobGroup(sp["group"], name)
        sp["own_s"] = time.perf_counter() - t_in
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            sc.setJobGroup(prev, prev)
            self.spans.append(sp)
            sp["own_s"] += time.perf_counter() - t_out

    def overhead_s(self, spans) -> float:
        """Time the tracing itself took inside ``spans``: job-group
        bookkeeping at span edges, plus status-store reads recorded by
        the spans (``trace_s``) or their ``record_call`` records."""
        return sum(sp["own_s"] + sp.get("trace_s", 0.0)
                   + (sp.get("record") or {}).get("trace_s", 0.0) for sp in spans)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper, so calls the
        package makes between its own layers show as child spans."""
        fn = getattr(module, attr)
        fn = getattr(fn, "__wrapped__", fn)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        traced.__wrapped_by__ = tracer
        setattr(module, attr, traced)

    def resolve(self) -> None:
        """Attach job counters and self times to every span."""
        self.store.drain()
        by_parent: dict = {}
        for sp in self.spans:
            by_parent.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            if "self_s" in sp:
                continue
            st = self.store.group_stats(sp["group"])
            rec = sp.get("record")
            if rec is not None:
                # the span's own jobs ran under record_call's groups
                st.jobs += rec["jobs"]
                st.stages += rec["stages"]
                st.tasks += rec["tasks"]
                st.shuffle_read_bytes += rec["shuffle_bytes"]
                st.spill_bytes += rec["spill_bytes"]
                st.input_bytes += rec["input_bytes"]
                st.task_skew = max(st.task_skew, rec["task_skew"])
                st.intervals.extend(rec["intervals"])
            kids = by_parent.get(sp["id"], [])
            dur = sp["end"] - sp["start"]
            child_s = covered_s([(k["start"], k["end"]) for k in kids], sp["start"], sp["end"])
            own_jobs = covered_s(st.intervals, sp["start"], sp["end"])
            sp.update(
                dur_s=dur, self_s=dur - child_s, self_job_s=own_jobs,
                self_nonjob_s=dur - child_s - own_jobs,
                **{k: getattr(st, k) for k in COUNTERS}, task_skew=st.task_skew,
            )

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: calls, summed duration, self time, self job and
        non-job time and counters; spans that ran through
        :func:`record_call` add its call and final-action split."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            t = out.setdefault(sp["name"], {"calls": 0, "dur_s": 0.0, "self_s": 0.0,
                                            "self_job_s": 0.0, "self_nonjob_s": 0.0,
                                            **{k: 0 for k in COUNTERS}, "task_skew": 1.0})
            t["calls"] += 1
            for k in ("dur_s", "self_s", "self_job_s", "self_nonjob_s", *COUNTERS):
                t[k] += sp[k]
            t["task_skew"] = max(t["task_skew"], sp["task_skew"])
            rec = sp.get("record")
            if rec is not None:
                for k in ("call_s", "job_s", "nonjob_s", "action_s"):
                    t[f"record_{k}"] = t.get(f"record_{k}", 0.0) + rec[k]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "layers": self.layer_totals(), **extra},
                      fh, indent=1, default=str)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
