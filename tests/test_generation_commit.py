"""Crash-point battery for the one directory-commit protocol
(``fs.commit_generation``).

Every writer that replaces a directory — an index build, an index
compaction, an upsert micro-batch, a streaming sink's commit record —
commits through the same helper, so one battery covers them all. A failure is injected at each of the
protocol's three crash points:

- ``write``: inside the generation write (a torn file lands in the new
  generation dir, then the writer dies);
- ``flip``: after the write, before the pointer is created;
- ``gc``: after the pointer flip, before the superseded generation is
  garbage-collected.

Before the flip the previous generation must stay fully active (same
probe answer / target rows); after it the new one must be. In every
case the next successful call must leave exactly one generation dir
and its pointer behind. Each scenario runs on a plain path and on its
``file://`` twin (the Hadoop FileSystem code path).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark import fs

POINTS = ("write", "flip", "gc")


class Crash(Exception):
    pass


def _inject(monkeypatch, point: str, under: str = "") -> None:
    """Arm one crash point of the next ``fs.commit_generation`` of a
    directory whose path starts with ``under``."""
    if point == "write":
        real_commit = fs.commit_generation

        def torn_commit(path, write):
            if not path.startswith(under):
                return real_commit(path, write)

            def torn(new_dir):
                fs.makedirs(new_dir)
                fs.write_text(fs.join(new_dir, "part-torn.parquet"), "torn")
                raise Crash("injected crash in the write")

            return real_commit(path, torn)

        monkeypatch.setattr(fs, "commit_generation", torn_commit)
    elif point == "flip":
        real_touch = fs.touch

        def dying_touch(p):
            if p.startswith(under) and p.endswith(fs.GEN_PTR_SUFFIX):
                raise Crash("injected crash before the flip")
            return real_touch(p)

        monkeypatch.setattr(fs, "touch", dying_touch)
    else:
        real_touch = fs.touch
        real_gc = fs._gc_generations
        flipped = {"yes": False}

        def flag_touch(p):
            real_touch(p)
            flipped["yes"] = flipped["yes"] or (
                p.startswith(under) and p.endswith(fs.GEN_PTR_SUFFIX)
            )

        def dying_gc(path, keep):
            if flipped["yes"] and path.startswith(under):
                raise Crash("injected crash before the GC")
            return real_gc(path, keep)

        monkeypatch.setattr(fs, "touch", flag_touch)
        monkeypatch.setattr(fs, "_gc_generations", dying_gc)


def _gen_entries(path: str) -> list[str]:
    return fs.glob_names(path, f"{fs.GEN_PREFIX}*")


def _assert_collected(path: str) -> None:
    """Exactly the active generation dir and its pointer remain."""
    active = fs.active_data_root(path).rstrip("/").rsplit("/", 1)[-1]
    assert _gen_entries(path) == [active, active + fs.GEN_PTR_SUFFIX]


def _root(tmp_path, scheme: str, name: str) -> str:
    return (
        str(tmp_path / name) if scheme == "plain" else f"file://{tmp_path}/{name}"
    )


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 400
    )
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    return emb, qvec


def _topk(spark, path, qvec):
    from nursinghome_data_pipeline_spark.operators.similarity import (
        knn_index_probe,
    )

    return [
        (r.vec_id, r.cosine_sim)
        for r in knn_index_probe(spark, path, qvec, k=6, n_probe=2).collect()
    ]


@pytest.mark.parametrize("scheme", ["plain", "uri"])
def test_index_build_crash_points(spark, vectors, tmp_path, monkeypatch, scheme):
    """A REBUILD over a live index: until the flip the old build keeps
    answering; after it the new build answers; the next build GCs the
    debris either way."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb, qvec = vectors
    seeds = fixed_ivf_seeds(emb, n_seeds=4)
    old_rows = emb.where(F.col("vec_id") % 2 == 0)
    ref = _root(tmp_path, scheme, "ref")
    write_ivf_index(emb, ref, seeds)
    new_ans = _topk(spark, ref, qvec)
    for point in POINTS:
        path = _root(tmp_path, scheme, f"build_{point}")
        write_ivf_index(old_rows, path, seeds)
        old_gen, old_ans = fs.active_data_root(path), _topk(spark, path, qvec)
        assert old_ans != new_ans  # the two generations are distinguishable
        with monkeypatch.context() as m:
            _inject(m, point)
            with pytest.raises(Crash):
                write_ivf_index(emb, path, seeds)
        assert len(_gen_entries(path)) > 2  # debris left behind
        assert (fs.active_data_root(path) == old_gen) == (point != "gc")
        assert _topk(spark, path, qvec) == (new_ans if point == "gc" else old_ans)
        write_ivf_index(emb, path, seeds)
        _assert_collected(path)
        assert _topk(spark, path, qvec) == new_ans


@pytest.mark.parametrize("scheme", ["plain", "uri"])
def test_index_compaction_crash_points(
    spark, vectors, tmp_path, monkeypatch, scheme
):
    """A compaction (answers unchanged by construction): the crash
    decides only WHICH generation is active; the next compaction GCs
    the debris and releases the stale lock."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        ANN_COMPACT_LOCK,
        append_to_ann_index,
        compact_ann_index,
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb, qvec = vectors
    seeds = fixed_ivf_seeds(emb, n_seeds=4)
    for point in POINTS:
        path = _root(tmp_path, scheme, f"compact_{point}")
        write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path, seeds)
        append_to_ann_index(emb.where(F.col("vec_id") % 2 == 1), path)
        old_gen, want = fs.active_data_root(path), _topk(spark, path, qvec)
        with monkeypatch.context() as m:
            _inject(m, point)
            with pytest.raises(Crash):
                compact_ann_index(spark, path, files_per_partition=1)
        assert len(_gen_entries(path)) > 2
        assert (fs.active_data_root(path) == old_gen) == (point != "gc")
        assert _topk(spark, path, qvec) == want
        compact_ann_index(spark, path, files_per_partition=1)
        _assert_collected(path)
        assert not fs.exists(fs.join(path, ANN_COMPACT_LOCK))
        assert _topk(spark, path, qvec) == want


@pytest.mark.parametrize("scheme", ["plain", "uri"])
def test_upsert_micro_batch_crash_points(spark, tmp_path, monkeypatch, scheme):
    """An upsert micro-batch: the crash fails the batch; the target
    shows the pre-merge rows (crash before the flip) or the post-merge
    rows (after it). Restarting the stream replays the uncommitted
    batch, lands the post-merge rows and GCs the debris."""
    from pyspark.errors import StreamingQueryException

    from nursinghome_data_pipeline_spark.streaming.ingest_stream import (
        streaming_upsert_sink,
    )

    def rows(target):
        data = fs.active_data_root(fs.join(target, "data"))
        return {r.k: r.v for r in spark.read.parquet(data).collect()}

    def land(landing, batch_rows, n):
        spark.createDataFrame(batch_rows, "k int, v string, seq int").coalesce(
            1
        ).write.parquet(os.path.join(landing, f"b{n}"))

    pre = {1: "a", 2: "b"}
    post = {1: "a", 2: "B", 3: "c"}
    for point in POINTS:
        landing = str(tmp_path / f"landing_{scheme}_{point}")
        target = _root(tmp_path, scheme, f"target_{point}")
        ckpt = str(tmp_path / f"ckpt_{scheme}_{point}")
        os.makedirs(landing)

        def run():
            q = streaming_upsert_sink(
                spark.readStream.schema("k int, v string, seq int")
                .option("recursiveFileLookup", True)
                .parquet(landing),
                target,
                keys=["k"],
                checkpoint_dir=ckpt,
                seq_col="seq",
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        land(landing, [(1, "a", 1), (2, "b", 1)], 0)
        run()
        data = fs.join(target, "data")
        old_gen = fs.active_data_root(data)
        assert rows(target) == pre
        land(landing, [(2, "B", 2), (3, "c", 2)], 1)
        with monkeypatch.context() as m:
            _inject(m, point)
            with pytest.raises(StreamingQueryException, match="injected crash"):
                run()
        assert len(_gen_entries(data)) > 2
        assert (fs.active_data_root(data) == old_gen) == (point != "gc")
        assert rows(target) == (post if point == "gc" else pre)
        run()
        _assert_collected(data)
        assert rows(target) == post


def _words(tag: str) -> str:
    return " ".join(f"{tag}w{k}" for k in range(30))


@pytest.mark.parametrize("scheme", ["plain", "uri"])
def test_dedup_ingest_micro_batch_crash_points(
    spark, tmp_path, monkeypatch, scheme
):
    """A dedup-ingest micro-batch, crashed in its commit record after
    the target write and the index append have landed. Before the
    record's flip the restarted stream replays the batch and lands the
    identical accepted set, target rows and index ids; after the flip
    the replay is skipped (the batch's index postings are not appended
    again). The next committed batch leaves one record generation."""
    from pyspark.errors import StreamingQueryException

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_dedup_index,
    )
    from nursinghome_data_pipeline_spark.streaming import commitlog
    from nursinghome_data_pipeline_spark.streaming.ingest_dedup import (
        streaming_dedup_ingest,
    )

    def read(path):
        return spark.read.option("basePath", path).parquet(path)

    def land(src, batch_rows, n):
        spark.createDataFrame(batch_rows, "doc_id long, text string").coalesce(
            1
        ).write.json(os.path.join(src, f"b{n}"))

    corpus = spark.createDataFrame(
        [(1, _words("a")), (2, _words("b"))], "doc_id long, text string"
    )
    fresh = _words("f")
    # a corpus copy, a fresh doc, its one-word near-copy, its exact copy
    crash_batch = [
        (20, _words("a")),
        (21, fresh),
        (22, fresh.replace("fw15", "edited")),
        (23, fresh),
    ]
    for point in POINTS:
        index = _root(tmp_path, scheme, f"index_{point}")
        target = _root(tmp_path, scheme, f"ingest_{point}")
        record_dir = fs.join(target, commitlog.RECORD_DIR)
        src = str(tmp_path / f"src_{scheme}_{point}")
        ckpt = str(tmp_path / f"ckpt_{scheme}_{point}")
        write_dedup_index(corpus, index, n_buckets=8)

        def run():
            q = streaming_dedup_ingest(
                spark.readStream.schema("doc_id long, text string")
                .option("recursiveFileLookup", True)
                .json(src),
                index,
                target,
                threshold=0.6,
                checkpoint_dir=ckpt,
                compact_every=None,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def postings():
            rows = read(fs.active_data_root(index)).select("doc_id").collect()
            return [r.doc_id for r in rows]

        def batch_rows(n):
            part = fs.join(target, "data", f"ingest_batch={n}")
            return sorted(tuple(r) for r in spark.read.parquet(part).collect())

        land(src, [(10, _words("g"))], 0)
        run()
        old_gen = fs.active_data_root(record_dir)
        land(src, crash_batch, 1)
        with monkeypatch.context() as m:
            _inject(m, point, under=record_dir)
            with pytest.raises(StreamingQueryException, match="injected crash"):
                run()
        # the writes landed; only the record commit was cut
        assert batch_rows(1) == [(21, fresh)]
        n21 = postings().count(21)
        assert n21 > 0
        assert len(_gen_entries(record_dir)) > 2
        assert (fs.active_data_root(record_dir) == old_gen) == (point != "gc")
        assert commitlog.read_record(target)["batch_id"] == (
            1 if point == "gc" else 0
        )
        land(src, [(30, _words("h"))], 2)
        run()  # replays (or skips) batch 1, then commits batch 2
        assert batch_rows(1) == [(21, fresh)]
        assert postings().count(21) == n21 * (1 if point == "gc" else 2)
        assert {r.doc_id for r in read(fs.join(target, "data")).collect()} == {
            10,
            21,
            30,
        }
        assert set(postings()) == {1, 2, 10, 21, 30}
        assert commitlog.read_record(target) == {"batch_id": 2, "degen": []}
        _assert_collected(record_dir)
