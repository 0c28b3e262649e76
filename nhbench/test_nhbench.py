"""Tests of the benchmark's own parts: the layer-record helper and the
seeded input generators. Run from the repository root:

    python -m pytest nhbench/test_nhbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nhbench import gen  # noqa: E402
from nhbench.layers import covered_s, record_call  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:  # collected together with tests/: share theirs
        yield active
        return
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("wh")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_record_call_on_tiny_groupby(spark):
    from pyspark.sql import functions as F

    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    rows, rec = record_call(
        spark, "tiny", lambda: df.groupBy("k").count(), lambda d: d.collect()
    )
    assert len(rows) == 7
    assert rec.jobs >= 1
    assert rec.shuffle_bytes > 0
    assert rec.stages >= 2 and rec.tasks >= rec.stages
    assert rec.action_s > 0 and rec.call_s >= 0
    assert rec.job_s + rec.nonjob_s == pytest.approx(rec.call_s)
    assert rec.task_skew >= 1.0


def test_record_call_counts_eager_jobs_as_call_time(spark):
    def eager():
        r = spark.range(5000)
        n = r.groupBy((r.id % 3).alias("m")).count().count()
        return spark.range(n)

    _, rec = record_call(spark, "eager", eager, lambda d: d.count())
    assert rec.jobs >= 2
    assert rec.job_s > 0


def test_covered_s_merges_overlaps():
    assert covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered_s([(0, 2)], 1, 10) == pytest.approx(1)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(root: str, seed: int) -> dict:
    gen.write_tables(os.path.join(root, "t"), seed, sf=0.001, docs=200, vectors=100)
    expected = gen.write_nh_csvs(os.path.join(root, "nh"), seed, facilities=40)
    batches = gen.StreamBatches(seed, gen.corpus_texts(seed, 200), batch_docs=24)
    for i in range(3):
        rows, _ = batches.next_batch()
        os.makedirs(os.path.join(root, "s", "src"), exist_ok=True)
        gen.write_jsonl(rows, os.path.join(root, "s", "src", f"b{i}.json"))
    return expected


def test_same_seed_gives_identical_inputs(tmp_path):
    e1 = _generate(str(tmp_path / "a"), 7)
    e2 = _generate(str(tmp_path / "b"), 7)
    e3 = _generate(str(tmp_path / "c"), 8)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert e1 == e2
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))


def test_stream_batches_expect_only_fresh_and_distractors():
    texts = gen.corpus_texts(5, 300)
    b = gen.StreamBatches(5, texts, batch_docs=24)
    rows, expected = b.next_batch()
    ids = {i for i, _ in rows}
    assert expected < ids
    by_text: dict = {}
    for i, t in rows:
        by_text.setdefault(t, []).append(i)
    corpus = set(texts)
    for i, t in rows:
        if i in expected:
            assert t not in corpus and min(by_text[t]) == i
