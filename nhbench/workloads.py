"""The benchmark's workloads.

Each workload has a ``setup`` that builds its inputs from the seed into
a fresh directory, an ``op`` that is one timed operation of the closed
loop, and a ``verify`` that checks every recorded operation outside the
timed window and returns ``(attempted, failed)``.
"""

from __future__ import annotations

import csv
import glob
import os
import random
import sys
import time

from nhbench import gen
from nhbench.layers import covered_s, record_call


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
            n_files += 1
    return n_bytes, n_files


def bytes_written_since(path: str, t0: float) -> int:
    """Bytes of the files under ``path`` written at or after ``t0``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if st.st_mtime >= t0:
                total += st.st_size
    return total


class _Fetched:
    """A result already fetched to pandas, for the oracle harness's
    ``compare`` (which calls ``toPandas()`` on what it is given)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _duckdb(sf_dir: str):
    """DuckDB over the generated tables, for the registry's oracle SQL."""
    import duckdb

    con = duckdb.connect()
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            path = os.path.join(sf_dir, fn)
            con.sql(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _instrument(tracer, calls) -> None:
    """Wrap each (module, function, layer) of the package in a span."""
    import importlib

    for mod, attr, layer in calls:
        module = importlib.import_module(f"nursinghome_data_pipeline_spark.{mod}")
        if getattr(getattr(module, attr), "__wrapped_by__", None) is not tracer:
            tracer.wrap(module, attr, layer)


class Workload:
    def setup(self, run, work: str) -> None:
        raise NotImplementedError

    def op(self, run, i: int) -> dict:
        raise NotImplementedError

    def verify(self, run) -> tuple[int, int]:
        raise NotImplementedError

    def teardown(self) -> None:
        """Release what a set-up started (a discarded set-up, or the end)."""

    def derived_layers(self, tracer) -> dict:
        """Layer figures the spans give only in combination."""
        return {}


# --------------------------------------------------------------------------
# nh_etl
# --------------------------------------------------------------------------


class NhEtl(Workload):
    """The paper's pipeline over CMS-shaped CSVs: build → profile →
    staffing metrics (written as CSV) → the dashboard payloads over
    what the build wrote. Every operation writes into a fresh database.
    Set-up lands the CSVs and runs no Spark job: like a scheduled batch
    job, the first pass runs in a JVM that has not yet compiled it."""

    FACILITIES = 250
    METRICS_SCHEMA = (
        "PROVNUM string, STATE string, CY_Qtr string, nurse_to_patient_ratio double, "
        "contract_vs_employed_ratio double, total_nurse_hours double"
    )
    #: (module, function, layer) of the calls the pipelines make into
    #: other layers; traced operations wrap them in spans
    INNER_CALLS = [
        ("pipelines.penalties", "ingest_dataset", "csv_source"),
        ("pipelines.profiling", "read_inferred_csvs", "csv_source"),
        ("pipelines.staffing_metrics", "files_with_columns", "csv_source"),
        ("pipelines.penalties", "stage_overwrite", "catalog"),
        ("pipelines.penalties", "create_table_as", "catalog"),
        ("pipelines.penalties", "create_view", "catalog"),
        ("pipelines.profiling", "stage_append", "catalog"),
        ("dq", "write_audit_row", "catalog"),
        ("pipelines.staffing_metrics", "write_metrics_csv", "catalog"),
        ("pipelines.penalties", "audit_duplicate_keys", "dq"),
        ("pipelines.profiling", "completeness_profile", "dq"),
        ("query_layer", "numeric_means", "query_layer"),
        ("query_layer", "preview", "query_layer"),
    ]

    def setup(self, run, work):
        from nursinghome_data_pipeline_spark.config import specs_from_dict

        self.work = work
        self.specs = specs_from_dict(gen.NH_SPECS)
        self.results: list[dict] = []
        self.land = os.path.join(work, "landing")
        self.expected = gen.write_nh_csvs(self.land, run.seed, facilities=self.FACILITIES)

    def _pass(self, run, db: str, land: str) -> dict:
        from nursinghome_data_pipeline_spark import dashboard
        from nursinghome_data_pipeline_spark.pipelines.penalties import run_build
        from nursinghome_data_pipeline_spark.pipelines.profiling import profile_directory
        from nursinghome_data_pipeline_spark.pipelines.staffing_metrics import run_staffing_metrics

        spark = run.spark
        db_dir = os.path.join(self.work, "db", db)
        out_dir = os.path.join(self.work, "metrics", db)
        spark.sql(f"CREATE DATABASE {db} LOCATION '{db_dir}'")
        spark.catalog.setCurrentDatabase(db)
        t0 = time.perf_counter()
        with run.span("pipelines.build"):
            staged = run_build(spark, specs=self.specs, csv_dir=land)
        with run.span("pipelines.profile"):
            # completeness profile of every landed CSV; staging each one
            # as a table too would double the pass for no new layer
            profile_directory(spark, land, stage_tables=False)
        with run.span("pipelines.staffing"):
            _, report = run_staffing_metrics(spark, land, out_dir=out_dir)
        t_csv = time.perf_counter()
        with run.span("dashboard"):
            metrics = spark.read.schema(self.METRICS_SCHEMA).option("header", True).csv(out_dir)
            by_state = dashboard.metrics_payload(metrics)
            overview = dashboard.overview_payload(spark)
        t1 = time.perf_counter()
        spark.catalog.setCurrentDatabase("default")
        written = dir_size(db_dir)  # catalog.bytes_written / files_written
        csv_written = dir_size(out_dir)
        return {"db": db, "out_dir": out_dir, "staged": staged, "report": report,
                "by_state": by_state, "overview": overview,
                "dur": t1 - t0, "etl_s": t_csv - t0, "dashboard_s": t1 - t_csv,
                "bytes_written": written[0] + csv_written[0],
                "files_written": written[1] + csv_written[1]}

    def op(self, run, i):
        if run.traced:
            _instrument(run.tracer, self.INNER_CALLS)
        res = self._pass(run, f"pass{i}", self.land)
        self.results.append(res)
        return {"name": "etl_pass", "items": self.expected["input_rows"],
                **{k: res[k] for k in ("dur", "etl_s", "dashboard_s", "bytes_written", "files_written")}}

    def verify(self, run):
        exp = self.expected
        failed = 0
        for res in self.results:
            problems = []
            if res["staged"] != exp["staged"]:
                problems.append(f"staged {res['staged']} != {exp['staged']}")
            warn = run.spark.sql(
                f"SELECT count(*) FROM {res['db']}.dq_audit WHERE status = 'warn'").first()[0]
            if warn != exp["dup_warn_rows"]:
                problems.append(f"dup-audit warn rows {warn} != {exp['dup_warn_rows']}")
            if res["report"].zero_blanked_rows != exp["zero_blanked_rows"]:
                problems.append(f"zero_blanked_rows {res['report'].zero_blanked_rows} "
                                f"!= {exp['zero_blanked_rows']}")
            rows = []
            for p in glob.glob(os.path.join(res["out_dir"], "*.csv")):
                with open(p, newline="", encoding="utf-8") as fh:
                    rows.extend(csv.DictReader(fh))
            if len(rows) != exp["metric_rows"]:
                problems.append(f"metric rows {len(rows)} != {exp['metric_rows']}")
            hours = sum(float(r["total_nurse_hours"]) for r in rows)
            if abs(hours - exp["total_nurse_hours"]) > 1e-9 * max(1.0, exp["total_nurse_hours"]):
                problems.append(f"total_nurse_hours {hours} != {exp['total_nurse_hours']}")
            if set(res["by_state"]) != {r["STATE"] for r in rows}:
                problems.append("dashboard states differ from the metrics CSV")
            if not {"fact_penalty", "staging_penalties"} <= set(res["overview"]):
                problems.append("overview payload misses the built tables")
            if problems:
                failed += 1
                print(f"nhbench: nh_etl {res['db']} wrong: {problems}", file=sys.stderr)
        return len(self.results), failed


# --------------------------------------------------------------------------
# corpus_iterative
# --------------------------------------------------------------------------


class CorpusIterative(Workload):
    """One operation is one pass, in a seeded order, over the iterative
    corpus operators (registry entries, each result fetched to the
    client) and one micro-batch through the streaming dedup ingest,
    which probes and appends to a minhash index built in set-up. The
    ingest keeps its default compaction cadence (every 32 batches), so
    a run of one pass never compacts."""

    SF = 0.01  # events: 10,000 rows
    DOCS = 100
    VECTORS = 400
    BATCH_DOCS = 60
    THRESHOLD = 0.8
    #: the battery: registry entries, then the ingest micro-batch
    BATTERY = [
        "dedup_components_docs",
        "bfs_reachability_events",
        "kmeans_lloyd_embeddings",
        "knn_cosine_topk",
        "pack_sequences_docs",
        "streaming_dedup_ingest",
    ]
    #: (module, function, layer) of the operator calls the registry
    #: entries make; traced operations wrap them in child spans
    INNER_CALLS = [
        ("operators.dedup", "connected_components", "dedup"),
        ("operators.dedup", "jaccard_pair_join", "dedup"),
        ("operators.graph", "cooccurrence_edges", "graph"),
        ("operators.graph", "bfs_hops", "graph"),
        ("operators.clustering", "kmeans_lloyd", "clustering"),
        ("registry", "knn_brute_force", "similarity"),
        ("operators.corpus", "pack_sequences", "corpus"),
    ]

    def setup(self, run, work):
        from nursinghome_data_pipeline_spark import registry
        from nursinghome_data_pipeline_spark.operators.dedup_index import write_dedup_index
        from nursinghome_data_pipeline_spark.streaming.ingest_dedup import streaming_dedup_ingest

        spark = run.spark
        self.spark = spark
        self.sf_dir = os.path.join(work, "tables")
        gen.write_tables(self.sf_dir, run.seed, sf=self.SF, tables=["events"],
                         docs=self.DOCS, vectors=self.VECTORS)
        texts = gen.corpus_texts(run.seed, self.DOCS)
        self.stream_index = os.path.join(work, "minhash_index")
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        write_dedup_index(docs.select("doc_id", "text"), self.stream_index)
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.order = random.Random(run.seed)
        self.results: list[dict] = []
        # the stream: its own source directory, target and checkpoint
        self.src = os.path.join(work, "stream_src")
        os.makedirs(self.src)
        self.target = os.path.join(work, "stream_target")
        self.batches = gen.StreamBatches(run.seed, texts, self.BATCH_DOCS)
        self.expected_batches: dict[int, set] = {}
        self.n_batches = 0
        stream = spark.readStream.schema("doc_id long, text string").json(self.src)
        self.query = streaming_dedup_ingest(
            stream, self.stream_index, self.target, threshold=self.THRESHOLD,
            checkpoint_dir=os.path.join(work, "stream_checkpoint"),
        )

    def teardown(self):
        if getattr(self, "query", None) is not None:
            self.query.stop()
            self.query = None

    def _ingest_batch(self) -> tuple[float, int]:
        """Land one micro-batch and wait until it has committed."""
        rows, expected = self.batches.next_batch()
        k = self.n_batches
        self.expected_batches[k] = expected
        t0 = time.perf_counter()
        gen.write_jsonl(rows, os.path.join(self.src, f"b{k:05d}.json"))
        self.query.processAllAvailable()
        dur = time.perf_counter() - t0
        self.n_batches += 1
        return dur, len(rows)

    def _timed_entry(self, run, name: str) -> dict:
        if name == "streaming_dedup_ingest":
            return self._timed_ingest(run)
        fn = self.queries[name]
        if not run.traced:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
            self.results.append({"name": name, "result": pdf})
            return {"name": name, "dur": t2 - t0, "call_s": t1 - t0, "action_s": t2 - t1}
        t0 = time.perf_counter()
        with run.span("registry", entry=name) as sp:
            pdf, rec = record_call(self.spark, name, lambda: fn(self.spark, self.sf_dir),
                                   lambda d: d.toPandas(), store=run.store)
            sp["record"] = rec.__dict__
        self.results.append({"name": name, "result": pdf})
        return {"dur": time.perf_counter() - t0, **rec.__dict__}

    def _timed_ingest(self, run) -> dict:
        if not run.traced:
            dur, n = self._ingest_batch()
            return {"name": "streaming_dedup_ingest", "dur": dur, "docs": n}
        group = str(self.query.runId)
        seen = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        t0 = time.time()
        with run.span("ingest_dedup") as sp:
            dur, n = self._ingest_batch()
        t_read = time.time()
        run.store.drain()
        st = run.store.group_stats(group, skip=seen)
        job_s = covered_s(st.intervals, t0, time.time())
        accepted = self._accepted(self.n_batches - 1)
        rec = {"name": "streaming_dedup_ingest", "call_s": dur, "job_s": job_s,
               "nonjob_s": dur - job_s, "action_s": 0.0, "jobs": st.jobs, "stages": st.stages,
               "tasks": st.tasks, "shuffle_bytes": st.shuffle_bytes, "spill_bytes": st.spill_bytes,
               "input_bytes": st.input_bytes, "task_skew": st.task_skew,
               "intervals": st.intervals}
        sp.update(
            record=rec, docs=n,
            progress_ms=(self.query.lastProgress or {}).get("durationMs", {}),
            index_bytes_written=bytes_written_since(self.stream_index, t0),
            index_files=dir_size(self.stream_index)[1],
            accepted_docs=accepted[0], accepted_bytes=accepted[1],
        )
        sp["trace_s"] = time.time() - t_read
        return {"dur": dur, **{k: v for k, v in sp.items() if k not in ("record",)}, **rec}

    def _accepted(self, batch_id: int) -> tuple[int, int]:
        """(docs, text bytes) the ingest accepted in one batch."""
        import pyarrow.parquet as pq

        part = os.path.join(self.target, "data", f"ingest_batch={batch_id}")
        texts = pq.read_table(part, columns=["text"]).column("text").to_pylist()
        return len(texts), sum(len(t.encode()) for t in texts)

    def derived_layers(self, tracer):
        totals = tracer.layer_totals()
        ingest = [s for s in tracer.spans if s["name"] == "ingest_dedup"]
        accepted = sum(s["accepted_bytes"] for s in ingest)
        return {
            "tpch.input_bytes": totals.get("registry", {}).get("input_bytes"),
            "dedup_index.bytes_per_accepted_byte":
                sum(s["index_bytes_written"] for s in ingest) / accepted if accepted else None,
            "dedup_index.files": max((s["index_files"] for s in ingest), default=None),
            "ingest_dedup.progress_ms": [s["progress_ms"] for s in ingest],
            "ingest_dedup.accepted_frac": [s["accepted_docs"] / s["docs"] for s in ingest],
        }

    def op(self, run, i):
        if run.traced:
            _instrument(run.tracer, self.INNER_CALLS)
        names = list(self.BATTERY)
        self.order.shuffle(names)
        t0 = time.perf_counter()
        entries = [self._timed_entry(run, name) for name in names]
        return {"name": "battery", "entries": entries, "dur": time.perf_counter() - t0,
                "items": len(entries)}

    def verify(self, run):
        from tests.oracle_harness import compare

        self.teardown()
        con = _duckdb(self.sf_dir)
        expected = {}
        attempted = failed = 0
        for res in self.results:
            attempted += 1
            name, pdf = res["name"], res.pop("result")
            if name not in expected:
                expected[name] = con.sql(self.oracles[name]).df()
            problems = compare(_Fetched(pdf), expected[name])
            if problems:
                failed += 1
                print(f"nhbench: {name} wrong: {problems[:2]}", file=sys.stderr)
        a, f = self._verify_stream()
        return attempted + a, failed + f

    def _verify_stream(self) -> tuple[int, int]:
        """Accepted doc ids per committed micro-batch against the
        generator's expected set."""
        import pyarrow.parquet as pq

        data = os.path.join(self.target, "data")
        got: dict[int, set] = {}
        for part in os.listdir(data):
            if part.startswith("ingest_batch="):
                t = pq.read_table(os.path.join(data, part), columns=["doc_id"])
                got[int(part.split("=")[1])] = set(t.column("doc_id").to_pylist())
        failed = 0
        for k, exp in self.expected_batches.items():
            have = got.get(k, set())
            if have != exp:
                failed += 1
                print(f"nhbench: ingest batch {k}: {len(have - exp)} unexpected accepted, "
                      f"{len(exp - have)} expected missing", file=sys.stderr)
        return len(self.expected_batches), failed


WORKLOADS = {
    "nh_etl": NhEtl,
    "corpus_iterative": CorpusIterative,
}
