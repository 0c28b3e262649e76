"""CLI parity: each reference entry-point script maps to a subcommand
(README.md:10-16 workflows run via ``python -m nursinghome_data_pipeline_spark``)."""

from __future__ import annotations

import json

import pytest

from nursinghome_data_pipeline_spark.cli import main
from nursinghome_data_pipeline_spark.fs import active_data_root

from .conftest import SF_DIR

CONFIG_YAML = """
datasets:
  penalties:
    filename_pattern: "NH_Penalties_*.csv"
    staging_table: staging_penalties
    natural_key: [cms_certification_number_ccn, penalty_date]
    columns:
      cms_certification_number_ccn: {type: string}
      penalty_date: {type: date}
      penalty_type: {type: string}
      fine_amount: {type: numeric}
      payment_denial_length_in_days: {type: int, nullable: true}
      state: {type: string}
      provider_name: {type: string}
"""

CSV = """CMS Certification Number (CCN),Penalty Date,Penalty Type,Fine Amount,State,Provider Name
015009,01/15/2024,Fine,10000.50,AL,Alpha Home
025010,02/20/2024,Fine,500,TX,Beta Home
"""


@pytest.fixture(autouse=True)
def _reuse_test_session(spark):
    """CLI calls build_session -> getOrCreate reuses the test session."""


def test_query_subcommand(capsys):
    rc = main(["query", "pricing_summary", "--sf-dir", SF_DIR, "--rows", "3"])
    assert rc == 0
    assert "l_returnflag" in capsys.readouterr().out


def test_query_unknown_name(capsys):
    rc = main(["query", "no_such_query"])
    assert rc == 2
    assert "pricing_summary" in capsys.readouterr().err


def test_build_subcommand(tmp_path, spark, capsys):
    (tmp_path / "datasets.yml").write_text(CONFIG_YAML)
    (tmp_path / "NH_Penalties_a.csv").write_text(CSV)
    rc = main(
        ["build", "--config", str(tmp_path / "datasets.yml"), "--csv-dir", str(tmp_path)]
    )
    assert rc == 0
    assert "penalties: staged 2 rows" in capsys.readouterr().out
    assert spark.table("fact_penalty").count() == 2


def test_sync_dry_run(tmp_path, capsys):
    (tmp_path / "a.txt").write_text("hello")
    (tmp_path / "b.bin").write_text("world")
    rc = main(["sync", str(tmp_path), "--dry-run", "--include", "*.txt"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1 and out[0].startswith("DRY-RUN") and "a.txt" in out[0]


def test_sync_with_dest_copies(tmp_path, capsys):
    import os

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("hello")
    dest = tmp_path / "dest"
    rc = main(
        ["sync", str(src), "--manifest-table", "cli_sync_m", "--dest-dir", str(dest)]
    )
    assert rc == 0
    assert (dest / "a.txt").read_text() == "hello"
    out = capsys.readouterr().out
    assert "a.txt" in out and not out.startswith("DRY-RUN")
    assert os.path.isdir(dest)


def test_catalog_subcommand(spark, capsys):
    rc = main(["catalog"])
    assert rc == 0


def test_cli_corpus_build(tmp_path, capsys):
    import json
    import os

    from nursinghome_data_pipeline_spark.cli import main

    out = str(tmp_path / "corpus_out")
    rc = main(
        [
            "corpus-build",
            out,
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--shuffle-partitions",
            "8",
        ]
    )
    assert rc == 0
    manifest = json.load(open(os.path.join(out, "_corpus_manifest.json")))
    s = manifest["stages"]
    # monotone shrink through the pipeline; splits actually written
    assert (
        s["input"]
        >= s["quality_filtered"]
        >= s["exact_deduped"]
        >= s["near_deduped"]
        >= s["decontaminated"]
        == s["written"]
        > 0
    )
    splits = {e for e in os.listdir(out) if e.startswith("split=")}
    assert "split=train" in splits


def test_cli_ann_index_build_and_probe(tmp_path, spark, capsys):
    """One-surface at-rest ANN story (r4 verdict item #5): build writes
    the partitioned layout + self-describing sidecar; probe needs only
    the path and matches the in-memory twin exactly."""
    from pyspark.sql import functions as F

    from nursinghome_data_pipeline_spark.operators.similarity import (
        knn_lsh,
        load_ann_meta,
    )

    path = str(tmp_path / "lsh_idx")
    rc = main(
        ["ann-index", "build", path, "--kind", "lsh", "--sf-dir", SF_DIR,
         "--n-planes", "4", "--files-per-partition", "1"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built lsh index" in out and "16 buckets" in out
    meta = load_ann_meta(path)
    assert meta["kind"] == "lsh" and meta["n_planes"] == 4
    # compaction: at most files_per_partition data files per bucket dir
    import glob as _glob
    import os as _os

    for d in _glob.glob(_os.path.join(active_data_root(path), "bucket=*")):
        files = [f for f in _os.listdir(d) if f.endswith(".parquet")]
        assert len(files) <= 1, (d, files)

    rc = main(
        ["ann-index", "probe", path, "--sf-dir", SF_DIR, "--query-id", "7",
         "--k", "5", "--n-probe", "2"]
    )
    assert rc == 0
    probe_out = capsys.readouterr().out
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    expect = knn_lsh(
        emb, qvec, k=5, dim=64, n_planes=4, n_probe_buckets=2
    ).collect()
    assert str(expect[0].vec_id) in probe_out


def test_cli_ann_index_ivf_probe_self_describing(tmp_path, spark, capsys):
    from nursinghome_data_pipeline_spark.operators.similarity import (
        load_ann_meta,
    )

    path = str(tmp_path / "ivf_idx")
    rc = main(
        ["ann-index", "build", path, "--kind", "ivf", "--sf-dir", SF_DIR,
         "--n-seeds", "4"]
    )
    assert rc == 0
    assert "4 cells" in capsys.readouterr().out
    assert len(load_ann_meta(path)["seeds"]) == 4
    rc = main(["ann-index", "probe", path, "--sf-dir", SF_DIR, "--k", "3"])
    assert rc == 0
    assert "cosine_sim" in capsys.readouterr().out


def test_cli_ann_index_append(tmp_path, spark, capsys):
    path = str(tmp_path / "lsh_grow")
    assert main(
        ["ann-index", "build", path, "--kind", "lsh", "--sf-dir", SF_DIR,
         "--n-planes", "4"]
    ) == 0
    n0 = spark.read.parquet(active_data_root(path)).count()
    capsys.readouterr()
    assert main(["ann-index", "append", path, "--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out
    # the message reports the O(batch) count, never a full-index scan
    assert f"appended {n0} rows" in out
    assert spark.read.parquet(active_data_root(path)).count() == 2 * n0


def test_cli_ann_index_compact(tmp_path, spark, capsys):
    path = str(tmp_path / "lsh_compact")
    assert main(
        ["ann-index", "build", path, "--kind", "lsh", "--sf-dir", SF_DIR,
         "--n-planes", "4"]
    ) == 0
    assert main(["ann-index", "append", path, "--sf-dir", SF_DIR]) == 0
    capsys.readouterr()
    assert main(
        ["ann-index", "compact", path, "--files-per-partition", "1"]
    ) == 0
    assert "compacted index" in capsys.readouterr().out
    import glob as _glob
    import os as _os

    for d in _glob.glob(_os.path.join(active_data_root(path), "bucket=*")):
        assert len([f for f in _os.listdir(d) if f.endswith(".parquet")]) <= 1


def test_cli_ann_index_probe_with_inline_query_vec(tmp_path, spark, capsys):
    import json as _json

    from pyspark.sql import functions as F

    path = str(tmp_path / "lsh_qv")
    assert main(
        ["ann-index", "build", path, "--kind", "lsh", "--sf-dir", SF_DIR,
         "--n-planes", "4"]
    ) == 0
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    capsys.readouterr()
    assert main(
        ["ann-index", "probe", path, "--query-vec", _json.dumps(qvec),
         "--k", "4", "--n-probe", "2"]
    ) == 0
    out = capsys.readouterr().out
    assert "cosine_sim" in out and "|3 " in out.replace("| 3 ", "|3 ")


def test_cli_ann_index_dedup_wrong_kind(tmp_path, spark, capsys):
    """ADVICE r7: pointing the dedup action at a non-minhash index must
    exit 2 with a clean stderr message, not surface _require_kind's
    raw traceback."""
    path = str(tmp_path / "lsh_not_dedup")
    assert main(
        ["ann-index", "build", path, "--kind", "lsh", "--sf-dir", SF_DIR,
         "--n-planes", "4"]
    ) == 0
    capsys.readouterr()
    rc = main(["ann-index", "dedup", path, "--sf-dir", SF_DIR])
    assert rc == 2
    err = capsys.readouterr().err
    assert "kind='lsh'" in err and "minhash" in err


def test_cli_ann_index_nonpositive_files_per_partition_rejected(capsys):
    """ADVICE r7: an explicit --files-per-partition 0 is not 'flag not
    given' — reject non-positive values before any session/work (a 0
    would only fail later as pmod-by-zero)."""
    for action in ("compact", "build"):
        rc = main(
            ["ann-index", action, "/tmp/never-touched-idx",
             "--kind", "minhash", "--files-per-partition", "0"]
        )
        assert rc == 2
        assert "--files-per-partition must be >= 1" in capsys.readouterr().err
    rc = main(
        ["ann-index", "compact", "/tmp/never-touched-idx",
         "--files-per-partition", "-3"]
    )
    assert rc == 2
    assert "got -3" in capsys.readouterr().err


def test_cli_ann_index_simhash_build_and_dedup(tmp_path, spark, capsys):
    """r8: the simhash kind through the one-surface CLI — build writes
    the pb-partitioned layout + sidecar, dedup probes by Hamming."""
    path = str(tmp_path / "sh_idx")
    rc = main(
        ["ann-index", "build", path, "--kind", "simhash",
         "--sf-dir", SF_DIR, "--table", "documents",
         "--id-col", "doc_id", "--text-col", "text"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built simhash dedup index" in out and "5 chunks x 2" in out
    from nursinghome_data_pipeline_spark.operators.similarity import (
        load_ann_meta,
    )

    meta = load_ann_meta(path)
    assert meta["kind"] == "simhash" and meta["n_chunks"] == 5
    rc = main(
        ["ann-index", "dedup", path, "--sf-dir", SF_DIR,
         "--table", "documents", "--max-hamming", "20"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "near-dup pairs <= hamming 20" in out
    # r8 ADVICE: the CLI gate must allow --regeometry for simhash too
    # (compact_ann_index supports it; the old gate said minhash-only)
    rc = main(["ann-index", "compact", path, "--regeometry"])
    assert rc == 0
    out = capsys.readouterr().out
    # simhash has no band dimension — the summary prints plain buckets
    assert "regeometry ->" in out and "x" not in out.split("->")[1]
    # r9: the hot-bucket debug stat through the one-surface CLI
    rc = main(["ann-index", "stats", path])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["kind"] == "simhash" and stats["n_keys"] > 0


def test_cli_ann_index_srp_build_dedup_stats(tmp_path, spark, capsys):
    """One-surface srp story (r9): build writes the tbl×bucket layout +
    self-describing sidecar (auto planes/tables sized for the design
    threshold), dedup probes it at the sidecar's design threshold by
    default, stats covers the new kind, and the kNN probe action
    redirects cleanly instead of raising."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        load_ann_meta,
    )

    path = str(tmp_path / "srp_idx")
    rc = main(
        ["ann-index", "build", path, "--kind", "srp", "--sf-dir", SF_DIR,
         "--design-threshold", "0.9"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built srp embedding near-dup index" in out
    meta = load_ann_meta(path)
    assert meta["kind"] == "srp" and meta["design_threshold"] == 0.9
    assert meta["n_planes"] >= 1 and meta["n_tables"] >= 1

    # dedup with no --threshold = the sidecar's design threshold
    rc = main(["ann-index", "dedup", path, "--sf-dir", SF_DIR])
    assert rc == 0
    out = capsys.readouterr().out
    assert "cosine 0.9" in out

    rc = main(["ann-index", "stats", path])
    assert rc == 0
    out = capsys.readouterr().out
    assert '"kind": "srp"' in out

    # the kNN probe action names the right command instead of a
    # raw traceback
    rc = main(["ann-index", "probe", path, "--sf-dir", SF_DIR])
    assert rc == 2
    err = capsys.readouterr().err
    assert "ann-index dedup" in err


def test_cli_ann_index_srp_append_and_regeometry(tmp_path, spark, capsys):
    """The srp kind through the CLI's shared lifecycle actions: append
    lands as the pb=-1 LSM delta, and compact --regeometry re-derives
    the bucket count, printing the tables×buckets geometry."""
    import os as _os

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        auto_dedup_buckets,
    )
    from nursinghome_data_pipeline_spark.operators.similarity import (
        load_ann_meta,
    )

    path = str(tmp_path / "srp_lc")
    rc = main(
        ["ann-index", "build", path, "--kind", "srp", "--sf-dir", SF_DIR,
         "--n-buckets", "64"]  # deliberately outgrown for 500 vectors
    )
    assert rc == 0
    capsys.readouterr()
    rc = main(["ann-index", "append", path, "--sf-dir", SF_DIR])
    assert rc == 0
    out = capsys.readouterr().out
    assert "appended" in out and "srp" in out
    assert _os.path.isdir(_os.path.join(active_data_root(path), "pb=-1"))
    rc = main(["ann-index", "compact", path, "--regeometry"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "regeometry ->" in out
    assert not _os.path.isdir(_os.path.join(active_data_root(path), "pb=-1"))
    meta = load_ann_meta(path)
    # 500 testdata vectors (+ the appended copy) -> one directory per
    # table (the payload size), not the stale 64
    assert meta["n_buckets"] == auto_dedup_buckets(500) == 1
    assert f"{meta['n_tables']}x1 " in out
