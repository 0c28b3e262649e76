"""Command-line surface: one subcommand per reference entry point.

The reference is driven by standalone scripts (``README.md:10-16``):
``python build.py`` / ``python calculate_metrics.py`` /
``python load_nursing_home_data.py`` / ``python upload_to_s3.py`` and
two Streamlit apps. A reference user switching to this engine runs the
same workflows as::

    python -m nursinghome_data_pipeline_spark build --config datasets.yml --csv-dir csvs/
    python -m nursinghome_data_pipeline_spark metrics DATA_DIR --out out/
    python -m nursinghome_data_pipeline_spark profile DIR
    python -m nursinghome_data_pipeline_spark sync DIR --manifest-table m --dry-run
    python -m nursinghome_data_pipeline_spark catalog [--table T]
    python -m nursinghome_data_pipeline_spark query NAME --sf-dir /root/testdata/sf0.01

The dashboards' *query shapes* (filter / distinct domains / group-mean /
pivot / preview / completeness) are exposed by ``catalog`` and the
``query_layer`` module; the Streamlit UI itself is presentation, out of
engine scope (SURVEY §7.1 step 6).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _session(args: argparse.Namespace) -> SparkSession:
    from .session import build_session

    extra = {}
    if args.warehouse:
        extra["spark.sql.warehouse.dir"] = args.warehouse
    return build_session(
        "nursinghome-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra=extra,
    )


def _add_session_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--warehouse", default=None, help="spark.sql.warehouse.dir")


def _cmd_build(args: argparse.Namespace) -> int:
    from .pipelines.penalties import run_build

    spark = _session(args)
    staged = run_build(spark, config_path=args.config, csv_dir=args.csv_dir)
    for name, rows in staged.items():
        print(f"{name}: staged {rows} rows")
    return 0


def _cmd_metrics(args: argparse.Namespace) -> int:
    from .pipelines.staffing_metrics import run_staffing_metrics

    spark = _session(args)
    metrics, report = run_staffing_metrics(
        spark, args.data_dir, out_dir=args.out
    )
    print(f"metrics rows: {metrics.count()}")
    for pair in report.empty_merges:
        print(f"warning: empty merge joining {pair}")
    print(f"zero-blanked rows: {report.zero_blanked_rows}")
    print(f"dropped (bad denominator): {report.dropped_bad_denominator}")
    return 0


def _cmd_profile(args: argparse.Namespace) -> int:
    from .pipelines.profiling import profile_directory

    spark = _session(args)
    counts = profile_directory(
        spark, args.directory, stage_tables=not args.no_stage
    )
    for table, rows in counts.items():
        print(f"{table}: {rows} rows")
    return 0


def _cmd_sync(args: argparse.Namespace) -> int:
    from .sources.object_sync import manifest_lines, sync

    spark = _session(args)
    result = sync(
        spark,
        args.base_dir,
        manifest_table=args.manifest_table,
        dest_dir=args.dest_dir,
        verify=args.verify,
        dry_run=args.dry_run,
        include=args.include or None,
        exclude=args.exclude or None,
        include_hidden=args.hidden,
        max_size_bytes=(
            # `is not None`, not truthiness: --max-size-mb 0 means
            # "only empty files", not "no limit"
            int(args.max_size_mb * 1024 * 1024)
            if args.max_size_mb is not None
            else None
        ),
    )
    for row in manifest_lines(result).collect():
        print(("DRY-RUN  " if args.dry_run else "") + row["line"])
    return 0


def _cmd_catalog(args: argparse.Namespace) -> int:
    from .query_layer import numeric_means, preview

    spark = _session(args)
    if args.table is None:
        for r in spark.sql("SHOW TABLES").collect():
            print(r.tableName)
        return 0
    df = spark.table(args.table)
    print(f"== preview {args.table}")
    preview(df, args.rows).show(truncate=False)
    print(f"== numeric means")
    numeric_means(df).show(truncate=False)
    if spark.catalog.tableExists("dq_completeness"):
        print(f"== completeness")
        from pyspark.sql import functions as F

        (
            spark.table("dq_completeness")
            .where(F.col("table_name") == args.table)
            .select("column_name", "pct_not_null")
            .show(truncate=False)
        )
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from .registry import queries

    q = queries()
    if args.name not in q:
        print(f"unknown query {args.name!r}; available:", file=sys.stderr)
        for name in sorted(q):
            print(f"  {name}", file=sys.stderr)
        return 2
    spark = _session(args)
    df = q[args.name](spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    return 0


def _cmd_explain(args: argparse.Namespace) -> int:
    import json

    from .plans import formatted_plan, plan_report
    from .registry import queries

    q = queries()
    if args.name not in q:
        print(f"unknown query {args.name!r}", file=sys.stderr)
        return 2
    spark = _session(args)
    df = q[args.name](spark, args.sf_dir)
    if args.full:
        print(formatted_plan(df))
    print(json.dumps(plan_report(df), indent=2))
    return 0


def _cmd_corpus_build(args: argparse.Namespace) -> int:
    """End-to-end training-corpus materialization: quality filter →
    exact dedup → near-dup component resolution → decontamination →
    deterministic split → parquet partitioned by split + a JSON stage
    manifest. Runs the ``corpus_build_docs`` registry query's selection
    chain (``operators.corpus.filter_and_dedup_docs``), with the
    artifacts actually written."""
    import json
    import os

    from pyspark.sql import functions as F

    from .functions.text import token_count_col
    from .operators.corpus import decontaminate, filter_and_dedup_docs
    from .sources.tpch import load_tables

    spark = _session(args)
    docs = load_tables(spark, args.sf_dir, ["documents"])["documents"]
    stages: dict[str, int] = {"input": docs.count()}

    filtered, exact, neardeduped = filter_and_dedup_docs(
        docs,
        min_quality=args.min_quality,
        jaccard_threshold=args.jaccard_threshold,
    )
    stages["quality_filtered"] = filtered.count()
    stages["exact_deduped"] = exact.count()
    stages["near_deduped"] = neardeduped.count()

    bench = docs.where(F.col("doc_id") % 97 == 0)
    clean = decontaminate(neardeduped, bench, shingle_k=5)
    stages["decontaminated"] = clean.count()

    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    out = clean.select(
        "doc_id",
        "text",
        "lang",
        "source",
        token_count_col("text").alias("n_tokens"),
        split.alias("split"),
    )
    out.write.mode("overwrite").partitionBy("split").parquet(args.out)
    stages["written"] = spark.read.parquet(args.out).count()

    manifest = {
        "stages": stages,
        "min_quality": args.min_quality,
        "jaccard_threshold": args.jaccard_threshold,
        "out": args.out,
    }
    with open(os.path.join(args.out, "_corpus_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    print(json.dumps(manifest, indent=2))
    return 0


def _cmd_ann_index(args: argparse.Namespace) -> int:
    """Build, probe, append to, compact, near-dup probe or profile an
    at-rest index — the one-surface entry to the index writers and
    probes (SCALE.md "ANN indexes at rest"). An existing index's kind
    and geometry come from its ``_ann_meta.json`` sidecar; every
    per-kind check is the library's, and the ``ValueError`` it raises
    becomes a stderr line and exit 2 here. ``probe`` takes the query
    vector either inline as JSON or by id from the source table."""
    import json as _json

    from pyspark.sql import functions as F

    from .fs import active_data_root
    from .operators.dedup_index import (
        batch_against_index,
        dedup_index_bucket_stats,
        family,
        write_dedup_index,
        write_simhash_index,
    )
    from .operators.embedding_index import write_srp_index
    from .operators.similarity import (
        _KNN_PART,
        _require_kind,
        append_to_ann_index,
        compact_ann_index,
        fixed_ivf_seeds,
        knn_index_probe,
        load_ann_meta,
        write_ivf_index,
        write_lsh_index,
    )
    from .sources.tpch import load_tables

    # validate BEFORE the session: an explicit 0 is not "flag not
    # given" (the old `or 1` conflated them), and a non-positive count
    # would only surface downstream as a pmod-by-zero error
    if args.files_per_partition is not None and args.files_per_partition < 1:
        print(
            f"ann-index: --files-per-partition must be >= 1 "
            f"(got {args.files_per_partition}); omit the flag for the "
            "action's default",
            file=sys.stderr,
        )
        return 2
    if args.action == "build" and not args.kind:
        print(
            "ann-index build requires --kind ivf|lsh|minhash|simhash|srp",
            file=sys.stderr,
        )
        return 2
    # flag not given: each writer / the compaction keeps its own default
    fpp = (
        {"files_per_partition": args.files_per_partition}
        if args.files_per_partition is not None else {}
    )
    spark = _session(args)
    try:
        if args.action == "append":
            emb = load_tables(spark, args.sf_dir, [args.table])[args.table]
            append_to_ann_index(emb, args.path)
            meta = load_ann_meta(args.path)
            # report the BATCH size, not a full-index count: a per-append
            # O(index) scan would re-pay exactly the listing/footer tax
            # the incremental path exists to avoid
            print(
                f"appended {emb.count()} rows to {meta['kind']} index "
                f"at {args.path}"
            )
            return 0
        if args.action == "dedup":
            if args.batch_path:
                batch = spark.read.parquet(args.batch_path)
            else:
                batch = load_tables(spark, args.sf_dir, [args.table])[args.table]
            meta = load_ann_meta(args.path)
            # the flag default is None so srp can mean "use the sidecar's
            # design threshold"; minhash keeps its historical 0.8
            threshold = {
                "minhash": 0.8 if args.threshold is None else args.threshold,
                "simhash": args.max_hamming,
            }.get(meta.get("kind"), args.threshold)
            # count + top-20 share one run
            pairs = batch_against_index(
                spark, batch, args.path, threshold=threshold,
                caller="ann-index dedup",
            ).localCheckpoint(eager=False)
            fam = family(meta)
            name = fam.score_name
            rows = pairs.orderBy(
                F.col(name) if fam.at_most else F.desc(name)
            ).limit(20).collect()
            if threshold is None:
                threshold = meta["design_threshold"]
            print(
                f"{pairs.count()} near-dup pairs {'<=' if fam.at_most else '>='} "
                f"{fam.measure} {threshold} (top {len(rows)} shown)"
            )
            for r in rows:
                print(f"  batch={r['batch_id']} corpus={r['corpus_id']} "
                      f"{fam.measure}={r[name]:.4g}")
            return 0
        if args.action == "stats":
            stats = dedup_index_bucket_stats(spark, args.path)
            print(_json.dumps(stats, indent=2))
            mean = stats["mean_postings_per_key"] or 1.0
            ratio = stats["max_postings_per_key"] / mean
            if ratio > 100:
                print(
                    f"WARNING: hottest band key holds {ratio:.0f}x the mean "
                    "postings — likely mass-duplicated boilerplate; run "
                    "exact/passage dedup before indexing (see "
                    "dedup_index_bucket_stats docstring)",
                    file=sys.stderr,
                )
            return 0
        if args.action == "compact":
            n_files = compact_ann_index(
                spark, args.path, regeometry=args.regeometry, **fpp
            )
            if args.regeometry:
                meta = load_ann_meta(args.path)
                # minhash dirs = bands × n_buckets; srp = tables ×
                # n_buckets; simhash has no fan-out dimension
                fan = family(meta).fanout_key
                print(
                    f"compacted index at {args.path}: {n_files} data files, "
                    f"regeometry -> {f'{meta[fan]}x' if fan else ''}"
                    f"{meta['n_buckets']} bucket dirs"
                )
            else:
                print(f"compacted index at {args.path}: {n_files} data files")
            return 0
        if args.action == "build":
            emb = load_tables(spark, args.sf_dir, [args.table])[args.table]
            common = {"id_col": args.id_col, **fpp}
            n_buckets = args.n_buckets or "auto"
            if args.kind == "ivf":
                seeds = fixed_ivf_seeds(
                    emb, n_seeds=args.n_seeds, id_col=args.id_col, vec_col=args.vec_col
                )
                write_ivf_index(emb, args.path, seeds, vec_col=args.vec_col, **common)
            elif args.kind == "lsh":
                write_lsh_index(
                    emb,
                    args.path,
                    dim=args.dim,
                    # flag default is None so the srp build can mean
                    # "auto"; the lsh build keeps its historical 6
                    n_planes=6 if args.n_planes is None else args.n_planes,
                    seed=args.seed,
                    vec_col=args.vec_col,
                    **common,
                )
            elif args.kind == "minhash":
                write_dedup_index(
                    emb,
                    args.path,
                    text_col=args.text_col,
                    n_hashes=args.n_hashes,
                    bands=args.bands,
                    shingle_k=args.shingle_k,
                    n_buckets=n_buckets,
                    **common,
                )
            elif args.kind == "simhash":
                write_simhash_index(
                    emb,
                    args.path,
                    text_col=args.text_col,
                    n_chunks=args.n_chunks,
                    chunks_per_key=args.chunks_per_key,
                    n_buckets=n_buckets,
                    **common,
                )
            else:
                write_srp_index(
                    emb,
                    args.path,
                    vec_col=args.vec_col,
                    dim=args.dim,
                    design_threshold=args.design_threshold,
                    n_planes="auto" if args.n_planes is None else args.n_planes,
                    n_tables="auto" if args.n_tables is None else args.n_tables,
                    seed=args.seed,
                    n_buckets=n_buckets,
                    **common,
                )
            meta = load_ann_meta(args.path)
            idx = spark.read.parquet(active_data_root(args.path))
            n = idx.count()
            if args.kind == "srp":
                nv = idx.where(F.col("tbl").isNull()).count()
                shape = (
                    f"embedding near-dup index at {args.path}: {n - nv} "
                    f"posting rows + {nv} vector rows, {meta['n_tables']}x"
                    f"{meta['n_buckets']} bucket dirs ({meta['n_planes']} "
                    f"planes, design cosine {meta['design_threshold']})"
                )
            elif args.kind == "simhash":
                shape = (
                    f"dedup index at {args.path}: {n} posting rows, "
                    f"{meta['n_buckets']} bucket dirs ({meta['n_chunks']} "
                    f"chunks x {meta['chunks_per_key']})"
                )
            elif args.kind == "minhash":
                shape = (
                    f"dedup index at {args.path}: {n} band rows, "
                    f"{meta['bands']}x{meta['n_buckets']} bucket dirs"
                )
            elif args.kind == "ivf":
                shape = f"index at {args.path}: {n} vectors, {len(meta['seeds'])} cells"
            else:
                shape = (
                    f"index at {args.path}: {n} vectors, "
                    f"{1 << meta['n_planes']} buckets ({meta['n_planes']} planes)"
                )
            print(f"built {args.kind} {shape}")
            return 0
        if args.query_vec:
            qvec = [float(v) for v in _json.loads(args.query_vec)]
        else:
            meta = load_ann_meta(args.path)
            # the probe's own kind check, before the lookup reads the
            # sidecar's vec_col (a near-dup sidecar may have none)
            _require_kind(meta, tuple(_KNN_PART), "ann-index probe")
            emb = load_tables(spark, args.sf_dir, [args.table])[args.table]
            row = (
                emb.where(F.col(meta["id_col"]) == args.query_id)
                .select(meta["vec_col"])
                .first()
            )
            if row is None:
                print(f"no row with {meta['id_col']}={args.query_id}", file=sys.stderr)
                return 2
            qvec = [float(v) for v in row[0]]
        knn_index_probe(
            spark, args.path, qvec, k=args.k, n_probe=args.n_probe
        ).show(args.k, truncate=False)
        return 0
    except ValueError as e:
        # a wrong index kind, missing input columns, a flag the kind
        # does not take: a clean stderr+2, not a raw traceback
        print(e, file=sys.stderr)
        return 2


def _cmd_dashboard(args: argparse.Namespace) -> int:
    """Static-HTML dashboard artifacts — the Streamlit twins
    (reference metrics_dashboard.py / streamlit_app.py) with the
    interactivity precomputed: Spark aggregates once, the selector
    toggles embedded per-state/per-table panels client-side."""
    from . import dashboard as dash

    spark = _session(args)
    if args.kind == "metrics":
        from .pipelines.staffing_metrics import run_staffing_metrics

        metrics, _ = run_staffing_metrics(spark, args.data_dir)
        html = dash.render_metrics_html(dash.metrics_payload(metrics))
    else:
        html = dash.render_overview_html(dash.overview_payload(spark))
    dash.write_html(html, args.out)
    print(f"wrote {args.out}")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="nursinghome_data_pipeline_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("build", help="config-driven CSV ingest -> stage -> curate")
    p.add_argument("--config", required=True, help="datasets.yml path")
    p.add_argument("--csv-dir", required=True)
    _add_session_args(p)
    p.set_defaults(fn=_cmd_build)

    p = sub.add_parser("metrics", help="staffing-metrics pipeline")
    p.add_argument("data_dir")
    p.add_argument("--out", default=None, help="CSV artifact output dir")
    _add_session_args(p)
    p.set_defaults(fn=_cmd_metrics)

    p = sub.add_parser("profile", help="load+stage+profile every CSV in a directory")
    p.add_argument("directory")
    p.add_argument("--no-stage", action="store_true")
    _add_session_args(p)
    p.set_defaults(fn=_cmd_profile)

    p = sub.add_parser("sync", help="idempotent object-store sync (plan + copy)")
    p.add_argument("base_dir")
    p.add_argument("--manifest-table", default=None)
    p.add_argument("--dest-dir", default=None, help="copy payload bytes here (K7)")
    p.add_argument("--no-verify", dest="verify", action="store_false",
                   help="skip destination re-checksum after copy")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--include", action="append", default=[])
    p.add_argument("--exclude", action="append", default=[])
    p.add_argument("--hidden", action="store_true")
    p.add_argument("--max-size-mb", type=float, default=None)
    _add_session_args(p)
    p.set_defaults(fn=_cmd_sync)

    p = sub.add_parser("catalog", help="list tables / preview / profile one table")
    p.add_argument("--table", default=None)
    p.add_argument("--rows", type=int, default=5)
    _add_session_args(p)
    p.set_defaults(fn=_cmd_catalog)

    p = sub.add_parser("query", help="run a named registry query")
    p.add_argument("name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--rows", type=int, default=20)
    _add_session_args(p)
    p.set_defaults(fn=_cmd_query)

    p = sub.add_parser(
        "explain",
        help="plan-quality report for a named query (pushdown, joins, shuffles)",
    )
    p.add_argument("name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--full", action="store_true", help="also print EXPLAIN FORMATTED")
    _add_session_args(p)
    p.set_defaults(fn=_cmd_explain)

    p = sub.add_parser(
        "corpus-build",
        help="materialize the training corpus: filter -> dedup -> "
        "decontaminate -> split -> parquet + manifest",
    )
    p.add_argument("out", help="output parquet directory")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--min-quality", type=float, default=0.6)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    _add_session_args(p)
    p.set_defaults(fn=_cmd_corpus_build)

    p = sub.add_parser(
        "ann-index",
        help="build or probe an at-rest ANN index (IVF cell-partitioned "
        "or LSH bucket-partitioned parquet + _ann_meta.json sidecar)",
    )
    p.add_argument(
        "action",
        choices=["build", "probe", "append", "compact", "dedup", "stats"],
    )
    p.add_argument("path", help="index directory")
    p.add_argument("--kind",
                   choices=["ivf", "lsh", "minhash", "simhash", "srp"],
                   default=None,
                   help="build only; probe/dedup read the sidecar")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--table", default="embeddings")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--n-seeds", type=int, default=8, help="ivf: coarse cells")
    p.add_argument("--dim", type=int, default=64, help="lsh/srp: vector dim")
    p.add_argument("--n-planes", type=int, default=None,
                   help="lsh: sign planes (default 6); srp: default "
                   "corpus-size-adaptive")
    p.add_argument("--n-tables", type=int, default=None,
                   help="srp: OR-amplification tables (default: sized "
                   "to hit the recall target at --design-threshold)")
    p.add_argument("--design-threshold", type=float, default=0.95,
                   help="srp build: cosine boundary the geometry's "
                   "recall is sized for (persisted in the sidecar)")
    p.add_argument("--seed", type=int, default=42,
                   help="lsh/srp: plane RNG seed")
    p.add_argument("--files-per-partition", type=int, default=None,
                   help="bound files per cell/bucket dir (one build shuffle)")
    p.add_argument("--regeometry", action="store_true",
                   help="compact (minhash/simhash/srp): re-derive "
                   "n_buckets from the current corpus size and "
                   "re-route postings")
    p.add_argument("--query-id", type=int, default=0,
                   help="probe: take the query vector from this source row")
    p.add_argument("--query-vec", default=None,
                   help="probe: JSON float array (overrides --query-id)")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--n-probe", type=int, default=2,
                   help="probed cells (ivf) / buckets (lsh)")
    p.add_argument("--text-col", default="text",
                   help="minhash: document text column")
    p.add_argument("--n-hashes", type=int, default=16,
                   help="minhash: signature rows")
    p.add_argument("--bands", type=int, default=4,
                   help="minhash: LSH bands (must divide --n-hashes)")
    p.add_argument("--shingle-k", type=int, default=3,
                   help="minhash: tokens per shingle")
    p.add_argument("--n-buckets", type=int, default=None,
                   help="minhash/simhash/srp: partition dirs per "
                   "band/table (default: corpus-size-adaptive)")
    p.add_argument("--threshold", type=float, default=None,
                   help="dedup verify floor: exact Jaccard for minhash "
                   "(default 0.8), cosine for srp (default: the "
                   "sidecar's design threshold)")
    p.add_argument("--n-chunks", type=int, default=5,
                   help="simhash: fingerprint chunks")
    p.add_argument("--chunks-per-key", type=int, default=2,
                   help="simhash: chunks packed per bucket key (1 or 2)")
    p.add_argument("--max-hamming", type=int, default=8,
                   help="dedup (simhash): Hamming verify ceiling")
    p.add_argument("--batch-path", default=None,
                   help="dedup: parquet path of the new batch "
                   "(default: the --table of --sf-dir)")
    _add_session_args(p)
    p.set_defaults(fn=_cmd_ann_index)

    p = sub.add_parser(
        "dashboard",
        help="self-contained HTML dashboard (metrics charts or catalog "
        "overview) — the reference Streamlit apps as static artifacts",
    )
    p.add_argument("kind", choices=["metrics", "overview"])
    p.add_argument("--data-dir", default=None, help="metrics: CSV input dir")
    p.add_argument("--out", required=True, help="output .html path")
    _add_session_args(p)
    p.set_defaults(fn=_cmd_dashboard)

    args = parser.parse_args(argv)
    if args.command == "dashboard" and args.kind == "metrics" and not args.data_dir:
        parser.error("dashboard metrics requires --data-dir")
    return args.fn(args)


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
