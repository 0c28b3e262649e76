"""r11: the at-rest index lifecycle over Hadoop-FileSystem URIs.

Through r10 the sidecar/lock/compaction protocol was local-filesystem
only (``_require_local_path`` rejected every ``scheme://`` URI). r11
routes it through :mod:`nursinghome_data_pipeline_spark.fs`, which
dispatches plain paths to the ``os`` fast path and URIs to the active
session's Hadoop FileSystem client. ``file://`` exercises the Hadoop
code path end-to-end (Hadoop's LocalFileSystem) without needing an
object store in the container: these tests pin that build → append →
probe → compact → probe stays green over a ``file://`` URI for all
three dedup kinds, with probe results SET-EQUAL to the same lifecycle
run at a plain local path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark import fs
from nursinghome_data_pipeline_spark.operators.similarity import (
    append_to_ann_index,
    compact_ann_index,
    load_ann_meta,
)
from nursinghome_data_pipeline_spark.sources.tpch import load_tables


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "text"
    )


def _split3(docs):
    """corpus / append batch / probe batch, by doc_id residue."""
    return (
        docs.where(F.col("doc_id") % 10 < 8),
        docs.where(F.col("doc_id") % 10 == 8),
        docs.where(F.col("doc_id") % 10 == 9),
    )


def test_fs_helpers_uri_and_local_parity(spark, tmp_path):
    """Unit battery: every fs helper behaves identically on a plain
    path and its file:// twin (exists/is_dir/listdir/read/write/
    touch/remove/rmtree/glob/stats)."""
    for root in (str(tmp_path / "plain"), f"file://{tmp_path}/uri"):
        fs.makedirs(fs.join(root, "d"))
        assert fs.exists(root) and fs.is_dir(root)
        f1 = fs.join(root, "d", "a.txt")
        fs.write_text(f1, "hello")
        assert fs.read_text(f1) == "hello"
        assert not fs.is_dir(f1)
        # overwrite semantics (append_text was removed in r12 — the
        # torn-manifest hazard went with it; commits are generation
        # flips)
        fs.write_text(f1, "hello world")
        assert fs.read_text(f1) == "hello world"
        fs.touch(fs.join(root, "_m-1.intent"))
        fs.touch(fs.join(root, "_m-2.intent"))
        assert fs.glob_names(root, "_m-*.intent") == [
            "_m-1.intent",
            "_m-2.intent",
        ]
        assert fs.glob_names(fs.join(root, "missing"), "*") == []
        assert sorted(fs.listdir(root)) == ["_m-1.intent", "_m-2.intent", "d"]
        with pytest.raises(OSError):
            fs.listdir(fs.join(root, "missing"))
        fs.remove(fs.join(root, "_m-2.intent"))
        with pytest.raises(FileNotFoundError):
            fs.remove(fs.join(root, "_m-2.intent"))
        fs.makedirs(fs.join(root, "e"))
        assert fs.is_dir(fs.join(root, "e"))
        fs.rmtree(fs.join(root, "d"))
        fs.write_text(fs.join(root, "e", "p.parquet"), "x" * 7)
        stats = fs.data_file_stats(root)
        assert len(stats) == 1
        (p, size, _mtime) = next(iter(stats))
        assert p.endswith("p.parquet") and size == 7
        fs.rmtree(fs.join(root, "e"))
        assert not fs.exists(fs.join(root, "e"))


def test_unreachable_scheme_raises_named_error(spark):
    with pytest.raises(RuntimeError, match="filesystem for .* is unusable"):
        fs.check_fs("s3a://bucket/idx", "test_op")
    # plain paths and file:// are reachable — no-op / silent pass
    fs.check_fs("/tmp/anything", "test_op")
    fs.check_fs("file:///tmp/anything", "test_op")


@pytest.mark.parametrize("kind", ["minhash", "simhash", "srp"])
def test_index_lifecycle_over_file_uri(spark, sf_dir, tmp_path, kind):
    """Build → append (LSM delta) → probe → compact(regeometry) →
    probe, entirely over a ``file://`` URI; every probe's pair set is
    SET-EQUAL to the identical lifecycle at a plain local path. Also
    pins that the sidecar and the delta directory live at the URI (the
    r10 gate would have refused all of this up front)."""
    if kind == "srp":
        import numpy as np

        from nursinghome_data_pipeline_spark.operators.dedup_index import (
            batch_against_index,
        )
        from nursinghome_data_pipeline_spark.operators.embedding_index import (
            write_srp_index,
        )

        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .orderBy("vec_id")
            .limit(150)
        )
        pdf = emb.toPandas()
        vecs = np.array([np.array(v, float) for v in pdf["embedding"]])
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        rng = np.random.default_rng(11)

        def partner(v, c):
            g = rng.standard_normal(64)
            u = g - (g @ v) * v
            u /= np.linalg.norm(u)
            return [float(x) for x in c * v + np.sqrt(1 - c * c) * u]

        corpus = spark.createDataFrame(
            [
                (int(i), [float(x) for x in v])
                for i, v in zip(pdf["vec_id"], vecs)
            ],
            "vec_id long, embedding array<float>",
        )
        appended = spark.createDataFrame(
            [
                (1_000_000 + int(i), partner(vecs[j], 0.97))
                for j, i in enumerate(pdf["vec_id"][:30])
            ],
            "vec_id long, embedding array<float>",
        )
        probe = spark.createDataFrame(
            [
                (2_000_000 + int(i), partner(vecs[j], 0.97))
                for j, i in enumerate(pdf["vec_id"][60:100])
            ],
            "vec_id long, embedding array<float>",
        )

        def build(path):
            write_srp_index(
                corpus, path, dim=64, design_threshold=0.9,
                n_planes=4, n_tables=4, n_buckets=16,
            )

        def run_probe(path):
            return {
                (r["batch_id"], r["corpus_id"], r["cosine_sim"])
                for r in batch_against_index(
                    spark, probe, path, threshold=0.9
                ).collect()
            }

    else:
        docs = _docs(spark, sf_dir)
        corpus, appended, probe = _split3(docs)
        if kind == "minhash":
            from nursinghome_data_pipeline_spark.operators.dedup_index import (
                batch_against_index,
                write_dedup_index,
            )

            def build(path):
                write_dedup_index(corpus, path, n_buckets=32)

            def run_probe(path):
                return {
                    (r["batch_id"], r["corpus_id"], r["jaccard"])
                    for r in batch_against_index(
                        spark, probe, path, threshold=0.35
                    ).collect()
                }

        else:
            from nursinghome_data_pipeline_spark.operators.dedup_index import (
                batch_against_index,
                write_simhash_index,
            )

            def build(path):
                write_simhash_index(
                    corpus, path, n_chunks=5, chunks_per_key=2, n_buckets=32
                )

            def run_probe(path):
                return {
                    (r["batch_id"], r["corpus_id"], r["hamming"])
                    for r in batch_against_index(
                        spark, probe, path, threshold=20
                    ).collect()
                }

    local = str(tmp_path / f"{kind}_local")
    uri = f"file://{tmp_path}/{kind}_uri"
    results = {}
    for path in (local, uri):
        build(path)
        append_to_ann_index(appended, path)
        # the LSM delta landed in the build's generation (URI included)
        assert fs.is_dir(fs.join(fs.active_data_root(path), "pb=-1"))
        pre = run_probe(path)
        n_files = compact_ann_index(spark, path, regeometry=True)
        assert n_files > 0
        # the delta folded into the committed generation (r12): no
        # pb=-1 anywhere the resolver can see
        from nursinghome_data_pipeline_spark.operators.similarity import (
            active_data_root,
        )

        assert not fs.is_dir(fs.join(path, "pb=-1"))
        assert not fs.is_dir(fs.join(active_data_root(path), "pb=-1"))
        assert active_data_root(path) != path
        post = run_probe(path)
        assert pre == post, f"{kind}: compaction changed the pair set"
        assert post, f"{kind}: empty probe proves nothing"
        # sidecar readable at the same address family
        assert load_ann_meta(path)["kind"] == kind
        results[path] = post
    assert results[local] == results[uri]


def test_streaming_ingest_over_file_uri(spark, sf_dir, tmp_path):
    """The full streaming dedup-ingest loop (commit record, per-batch
    target overwrite, index delta append) over file:// URIs for BOTH
    the index and the target — the record must land on the target's
    filesystem, not a cwd-relative local file."""
    import json

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_dedup_index,
    )
    from nursinghome_data_pipeline_spark.streaming.ingest_dedup import (
        streaming_dedup_ingest,
    )

    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 10 != 9).limit(200)
    index = f"file://{tmp_path}/ingest_idx"
    target = f"file://{tmp_path}/ingest_target"
    write_dedup_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream,
        index,
        target,
        threshold=0.8,
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every=None,
    )
    try:
        fresh = [
            (1_000_000 + j, " ".join(f"fsuri{j}t{k}" for k in range(40)))
            for j in range(20)
        ]
        dupes = [(2_000_000, fresh[0][1])]  # exact copy → dropped
        with open(os.path.join(src, "b0.json"), "w", encoding="utf-8") as f:
            for i, t in fresh + dupes:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]
        for r in spark.read.option(
            "basePath", fs.join(target, "data")
        ).parquet(fs.join(target, "data")).collect()
    }
    assert got == {i for i, _ in fresh}
    # the exactly-once commit record lives at the URI
    from nursinghome_data_pipeline_spark.streaming import commitlog

    assert commitlog.read_record(target)["batch_id"] == 0
    assert fs.is_dir(fs.join(target, commitlog.RECORD_DIR))


def test_srp_degen_markers_over_file_uri(spark, tmp_path):
    """The cross-batch degenerate-vector set over a ``file://``
    target: the commit record carrying the payload md5s must land on
    the target's filesystem, and a second batch's bit-identical
    zero-norm vector must be dropped against it — one survivor across
    the stream, exactly as on a plain path."""
    import json

    import numpy as np

    from nursinghome_data_pipeline_spark.operators.embedding_index import (
        write_srp_index,
    )
    from nursinghome_data_pipeline_spark.streaming import commitlog
    from nursinghome_data_pipeline_spark.streaming.ingest_dedup import (
        streaming_dedup_ingest,
    )

    dim = 8
    rng = np.random.default_rng(13)

    def unit():
        v = rng.standard_normal(dim)
        return [float(x) for x in (v / np.linalg.norm(v))]

    corpus = spark.createDataFrame(
        [(1, unit())], "vec_id long, embedding array<float>"
    )
    index = f"file://{tmp_path}/degen_idx"
    target = f"file://{tmp_path}/degen_target"
    write_srp_index(
        corpus, index, dim=dim, design_threshold=0.9, n_planes=4,
        n_tables=2, n_buckets=8,
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).json(src)
    q = streaming_dedup_ingest(
        stream, index, target, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        with open(os.path.join(src, "b0.json"), "w", encoding="utf-8") as f:
            f.write(json.dumps({"vec_id": 30, "embedding": [0.0] * dim}))
            f.write("\n")
        q.processAllAvailable()
        with open(os.path.join(src, "b1.json"), "w", encoding="utf-8") as f:
            f.write(json.dumps({"vec_id": 40, "embedding": [0.0] * dim}))
            f.write("\n")
        q.processAllAvailable()
    finally:
        q.stop()
    data = fs.join(target, "data")
    got = {
        r["vec_id"]
        for r in spark.read.option("basePath", data).parquet(data).collect()
    }
    assert got == {30}
    record = commitlog.read_record(target)
    assert record["batch_id"] == 1 and len(record["degen"]) == 1
    assert fs.is_dir(fs.join(target, commitlog.RECORD_DIR))
