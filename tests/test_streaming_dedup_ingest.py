"""streaming_dedup_ingest: the production corpus-growth loop — exact
within batch, near within batch, near vs the at-rest index, accepted
docs appended to the index so later batches dedup against them;
idempotent under batch re-delivery."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.fs import active_data_root
from nursinghome_data_pipeline_spark.operators.dedup_index import (
    batch_against_index,
    write_dedup_index,
)
from nursinghome_data_pipeline_spark.streaming.ingest_dedup import (
    streaming_dedup_ingest,
)

from .near_dup_oracles import minhash_pairs

#: ~30-token texts so a one-token edit keeps Jaccard well above the
#: 0.6 threshold (k=3 shingles: one mid-token edit flips 3 of ~28)
_BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles watch from a mossy stone bridge near the old "
    "water mill beside the northern orchard gate"
)


_FRESH = (
    "ancient lighthouse keepers recorded forty three storm seasons in "
    "leather journals stacked inside the copper lantern room while "
    "gulls circled the granite tower every restless autumn morning"
)


def _variant(word: str, base: str = _FRESH) -> str:
    return base.replace("forty", word)


def _corpus_rows():
    return [
        (1, _BASE),
        (2, "completely different text about spark shuffle partitions "
            "and adaptive query execution planning for large scale "
            "distributed joins across many executor nodes tonight"),
        (3, "a third unrelated document describing parquet footer "
            "statistics and min max pruning of columnar row groups "
            "during predicate pushdown on sorted data layouts"),
    ]


def _write_batch(src: str, name: str, rows) -> None:
    with open(os.path.join(src, name), "w", encoding="utf-8") as f:
        for i, t in rows:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")


def _accepted_ids(spark, target: str) -> set[int]:
    data = os.path.join(target, "data")
    if not os.path.exists(data):
        return set()
    return {
        r["doc_id"]
        for r in spark.read.option("basePath", data).parquet(data).collect()
    }


def test_stream_dedups_within_and_across_batches(spark, tmp_path):
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")

    def start(ckpt: str):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        return streaming_dedup_ingest(
            stream,
            index,
            target,
            threshold=0.6,
            checkpoint_dir=str(tmp_path / ckpt),
        )

    q = start("ckpt")
    try:
        # batch 0: 10 = copy of corpus doc 1 (drop: corpus match);
        # 11 fresh; 12 = near-copy of 11 (drop: within-batch near);
        # 13 = exact copy of 11's text (drop: within-batch exact)
        _write_batch(
            src,
            "b0.json",
            [
                (10, _BASE),
                (11, _FRESH),
                (12, _FRESH + " extra"),
                (13, _FRESH),
            ],
        )
        q.processAllAvailable()
        assert _accepted_ids(spark, target) == {11}
        # batch 1: 20 = near-copy of ACCEPTED 11 (drop: cross-batch via
        # the index append); 21 fresh
        _write_batch(
            src,
            "b1.json",
            [
                (20, _variant("ninety")),
                (21, "entirely novel content regarding watermark state "
                     "eviction in structured streaming session windows "
                     "with arbitrary stateful processing semantics now"),
            ],
        )
        q.processAllAvailable()
        assert _accepted_ids(spark, target) == {11, 21}
    finally:
        q.stop()

    # the index grew by exactly the accepted docs: a copy of 21 now
    # matches the corpus, and nothing matches the REJECTED 12/20
    probe = spark.createDataFrame(
        [(900, _variant("ninety")), (901, "no overlap whatsoever here "
                                          "just filler words apple bread")],
        "doc_id long, text string",
    )
    m = batch_against_index(spark, probe, index, threshold=0.6)
    got = {(r["batch_id"], r["corpus_id"]) for r in m.collect()}
    assert (900, 11) in got  # near 11 (accepted)
    assert all(c not in (12, 13, 20, 10) for _, c in got)
    assert not any(b == 901 for b, _ in got)

    # the commit record names the last committed batch
    from nursinghome_data_pipeline_spark.streaming import commitlog

    assert commitlog.read_record(target)["batch_id"] >= 1

    # re-delivery with a FRESH checkpoint replays all files as batch 0
    # — already committed, so the record's skip keeps target AND index
    # unchanged (no duplicate postings from the replay)
    before = spark.read.parquet(active_data_root(index)).count()
    q2 = start("ckpt2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert _accepted_ids(spark, target) == {11, 21}
    assert spark.read.parquet(active_data_root(index)).count() == before


def test_null_text_rows_pass_through_not_dropped(spark, tmp_path):
    """Null-text docs carry nothing to fingerprint: they must reach the
    sink (a null-unsafe md5 join silently dropped them) and must NOT be
    posted to the index."""
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    with open(os.path.join(src, "b0.json"), "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 50, "text": None}) + "\n")
        f.write(json.dumps({"doc_id": 51, "text": None}) + "\n")
        f.write(json.dumps({"doc_id": 52, "text": _FRESH}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream, index, target, threshold=0.6,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _accepted_ids(spark, target) == {50, 51, 52}
    idx_ids = {r["doc_id"] for r in spark.read.parquet(active_data_root(index)).collect()}
    assert 52 in idx_ids and not ({50, 51} & idx_ids)


def test_crash_replay_after_index_append_is_idempotent(spark, tmp_path):
    """The dangerous crash point: index appended, record NOT committed.
    The replay probes an index already containing the batch's accepted
    docs — the own-ids exclusion must reproduce the same accepted set
    instead of rejecting everything as self-matches."""
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    _write_batch(src, "b0.json", [(10, _BASE), (11, _FRESH)])

    def run(ckpt: str):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = streaming_dedup_ingest(
            stream, index, target, threshold=0.6,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("ckpt")
    assert _accepted_ids(spark, target) == {11}
    # simulate the crash: drop the commit record (as if the process
    # died between the index append and the record commit), then
    # replay the same source through a fresh checkpoint
    shutil.rmtree(os.path.join(target, "_commit"))
    run("ckpt2")
    assert _accepted_ids(spark, target) == {11}
    # 11 survived its own replay (self-match excluded), and its target
    # directory was rewritten with identical content, not emptied
    rows = spark.read.parquet(os.path.join(target, "data")).collect()
    assert {r["doc_id"] for r in rows} == {11}


def test_cadence_compaction_preserves_results_and_bounds_files(
    spark, tmp_path
):
    """r8: the measured 32-append cadence is now folded into the loop
    (compact_every, default 32). Driving 6 batches at compact_every=2
    must (a) accept exactly what the no-compaction twin accepts,
    (b) preserve every index posting, (c) actually bound the file
    count (compactions fired at batches 2/4/6), and (d) keep the
    sidecar geometry auto-derived (every cadence compaction regeometries)."""
    import glob

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        auto_dedup_buckets,
    )
    from nursinghome_data_pipeline_spark.operators.similarity import (
        load_ann_meta,
    )

    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")

    def run(compact_every, tag):
        index = str(tmp_path / f"index-{tag}")
        write_dedup_index(corpus, index, n_buckets=16)
        src = str(tmp_path / f"src-{tag}")
        os.makedirs(src)
        target = str(tmp_path / f"target-{tag}")
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).json(src)
        q = streaming_dedup_ingest(
            stream, index, target, threshold=0.6,
            checkpoint_dir=str(tmp_path / f"ckpt-{tag}"),
            compact_every=compact_every,
        )
        try:
            for i in range(6):
                rows = [
                    (100 * (i + 1) + j,
                     f"fresh batch {i} doc {j} " + " ".join(
                         f"tok{i}x{j}y{k}" for k in range(30)))
                    for j in range(3)
                ]
                if i == 3:
                    rows.append((999, _BASE))  # corpus dup — dropped
                _write_batch(src, f"b{i}.json", rows)
                q.processAllAvailable()
        finally:
            q.stop()
        files = len(glob.glob(
            os.path.join(index, "**", "*.parquet"), recursive=True
        ))
        return index, target, files

    idx_c, tgt_c, files_c = run(2, "cadence")
    idx_n, tgt_n, files_n = run(None, "nocompact")
    assert _accepted_ids(spark, tgt_c) == _accepted_ids(spark, tgt_n)
    # postings preserved by ROUTING identity (band, bkey, doc): pb is
    # derived — the no-compact twin still holds its appends as pb=-1
    # LSM deltas while the cadence run folded them into true buckets
    key = lambda r: (r["band"], r["bkey"], r["doc_id"])  # noqa: E731
    rows_c = spark.read.parquet(active_data_root(idx_c)).collect()
    rows_n = spark.read.parquet(active_data_root(idx_n)).collect()
    assert sorted(map(key, rows_c)) == sorted(map(key, rows_n))
    # the cadence run's last compaction fired at batch 6, so no delta
    # remains and every pb matches the derived formula; the no-compact
    # twin carries exactly its 6 appends as delta rows
    nb = load_ann_meta(idx_c)["n_buckets"]
    assert all(r["pb"] == r["band"] * nb + r["bkey"] % nb for r in rows_c)
    assert {r["pb"] for r in rows_n if r["pb"] < 0} == {-1}
    # file bound: cadence ends compacted (≤ 1 file per bucket dir);
    # no-compact = build files + ONE delta file per append (the LSM
    # form — not one file per matched directory per append)
    assert files_c <= 64
    assert files_n <= 64 + 6
    assert nb == auto_dedup_buckets(len({r["doc_id"] for r in rows_c}))


def test_accepted_set_matches_composed_in_memory_operators(
    spark, tmp_path
):
    """r9 shared-projection pin, end to end: the loop fingerprints each
    batch ONCE and feeds the same banded rows to the in-batch pass,
    the index probe, and the append — the accepted set must equal
    composing standalone stages one by one (exact_dedup_fingerprints →
    the test-side minhash pair oracle → batch_against_index) at the
    sidecar's geometry."""
    from nursinghome_data_pipeline_spark.operators.dedup import (
        exact_dedup_fingerprints,
    )

    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    pristine = str(tmp_path / "index_pristine")
    shutil.copytree(index, pristine)  # the loop appends to `index`
    # one batch exercising every drop category: 30 exact-copy of 31,
    # 32 near-copy of 31, 33 corpus copy, 34 corpus near-copy, 35/36
    # fresh
    batch_rows = [
        (30, _FRESH),
        (31, _FRESH),
        (32, _variant("ninety")),
        (33, _BASE),
        (34, _BASE.replace("seventeen", "eighteen")),
        (35, "fresh content one about columnar encodings dictionary "
             "pages and run length encoded boolean vectors in parquet "
             "files written by large distributed spark clusters"),
        (36, "fresh content two regarding cost based optimizer join "
             "reordering statistics histograms and cardinality "
             "estimation errors under correlated predicate filters"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream, index, target, threshold=0.6,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        _write_batch(src, "b0.json", batch_rows)
        q.processAllAvailable()
    finally:
        q.stop()

    # composed twin over the PRISTINE index (pre-append state)
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    winners = exact_dedup_fingerprints(
        batch, text_col="text", id_col="doc_id"
    ).select("doc_id")
    exact = batch.join(winners, "doc_id", "left_semi")
    pairs = minhash_pairs(exact, threshold=0.6)  # sidecar geometry
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = exact.join(drop, "doc_id", "left_anti")
    matches = batch_against_index(
        spark, survivors, pristine, threshold=0.6
    )
    dup = matches.select(F.col("batch_id").alias("doc_id")).distinct()
    want = {
        r["doc_id"]
        for r in survivors.join(dup, "doc_id", "left_anti").collect()
    }
    assert _accepted_ids(spark, target) == want
    # the fixture exercised something: at least one drop per stage
    assert want and want < {r[0] for r in batch_rows}
    # and the index grew by exactly the accepted docs' postings
    grown = {r["doc_id"] for r in spark.read.parquet(active_data_root(index)).collect()}
    base = {r["doc_id"] for r in spark.read.parquet(active_data_root(pristine)).collect()}
    assert grown - base == want


def test_wrong_index_kind_rejected_at_stream_start(spark, tmp_path):
    """Pointing the loop at an ivf/lsh index must raise a ValueError
    naming the supported kinds at stream CONSTRUCTION — not a raw
    KeyError('n_hashes') from inside the first micro-batch (r8
    ADVICE)."""
    import pytest

    from nursinghome_data_pipeline_spark.operators.similarity import (
        write_lsh_index,
    )

    vecs = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, [0.9, 0.1, 0.4])],
        "vec_id long, embedding array<float>",
    )
    index = str(tmp_path / "lsh_index")
    write_lsh_index(vecs, index, dim=3, n_planes=2, seed=7)
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    with pytest.raises(ValueError, match="'minhash', 'simhash', or 'srp'"):
        streaming_dedup_ingest(
            stream, index, str(tmp_path / "target"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )


def test_max_hamming_beyond_pigeonhole_guarantee_warns(spark, tmp_path):
    """The default simhash geometry (5 chunks x pair keys) guarantees
    candidate generation only for Hamming <= 3; asking the loop to
    verify at a looser max_hamming silently trades recall — the trade
    must be surfaced as a UserWarning at stream start (r8 ADVICE)."""
    import warnings as _warnings

    import pytest

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_simhash_index,
    )

    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "sh_index")
    write_simhash_index(corpus, index, n_buckets=16)  # guarantee h <= 3
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    with pytest.warns(UserWarning, match="pigeonhole guarantee"):
        q = streaming_dedup_ingest(
            stream, index, str(tmp_path / "target"), max_hamming=8,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.stop()
    # within the guarantee: silent
    stream2 = spark.readStream.schema("doc_id long, text string").json(src)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        q2 = streaming_dedup_ingest(
            stream2, index, str(tmp_path / "target2"), max_hamming=3,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )
        q2.stop()


def test_maintenance_failure_never_fails_a_committed_batch(
    spark, tmp_path, monkeypatch, capsys
):
    """An OSError out of cadence compaction (rename/permission failure
    mid-swap) must defer maintenance to the next cadence point, not
    abort the micro-batch — the batch was already committed (r8
    ADVICE: only the commit path may fail the batch)."""
    from nursinghome_data_pipeline_spark.operators import similarity

    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")

    def boom(*a, **k):
        raise OSError("simulated rename failure mid-swap")

    monkeypatch.setattr(similarity, "compact_ann_index", boom)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream, index, target, threshold=0.6,
        checkpoint_dir=str(tmp_path / "ckpt"), compact_every=1,
    )
    try:
        _write_batch(src, "b0.json", [(11, _FRESH)])
        q.processAllAvailable()  # would raise if the batch failed
    finally:
        q.stop()
    assert _accepted_ids(spark, target) == {11}
    from nursinghome_data_pipeline_spark.streaming import commitlog

    assert commitlog.read_record(target)["batch_id"] == 0
    assert "deferred" in capsys.readouterr().err


def test_simhash_index_drives_the_same_loop(spark, tmp_path):
    """r8: the loop's dedup family follows the sidecar kind. Against a
    simhash index, a near-copy of a corpus doc (low Hamming) is
    dropped via the index probe, a within-batch near-copy via the
    in-batch pass, and a fresh doc is accepted AND indexed so the
    next batch dedups against it — the same three stages, Hamming
    semantics."""
    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_simhash_index,
    )

    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "sh_index")
    write_simhash_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream, index, target, max_hamming=12,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        # 10 = one-word variant of corpus doc 1 (corpus match, drop);
        # 11 fresh; 12 = one-word variant of 11 (in-batch near, drop)
        _write_batch(
            src, "b0.json",
            [
                (10, _BASE.replace("seventeen", "eighteen")),
                (11, _FRESH),
                (12, _variant("fifty")),
            ],
        )
        q.processAllAvailable()
        assert _accepted_ids(spark, target) == {11}
        # 20 = variant of ACCEPTED 11 — must drop via the postings
        # batch 0 appended; 21 fresh
        _write_batch(
            src, "b1.json",
            [
                (20, _variant("ninety")),
                (21, "entirely new content about broadcast joins and "
                     "shuffle partition coalescing under adaptive "
                     "execution with skew handling enabled everywhere"),
            ],
        )
        q.processAllAvailable()
        assert _accepted_ids(spark, target) == {11, 21}
    finally:
        q.stop()
    # probing the grown index finds the accepted 11, not the rejects
    probe = spark.createDataFrame(
        [(900, _variant("ninety"))], "doc_id long, text string"
    )
    got = {
        (r["batch_id"], r["corpus_id"])
        for r in batch_against_index(
            spark, probe, index, threshold=12
        ).collect()
    }
    assert (900, 11) in got
    assert all(c not in (10, 12, 20) for _, c in got)


def test_srp_index_drives_the_same_loop(spark, tmp_path):
    """r9: the cosine family through the same loop. Against an srp
    index, a planted high-cosine partner of a corpus vector is dropped
    via the index probe, an exact vector copy via the stage-1
    group-by-vector pass, a within-batch partner via the in-batch
    pass, and a null-embedding row passes straight through; a fresh
    vector is accepted AND indexed so the next batch dedups against
    it."""
    import numpy as np

    from nursinghome_data_pipeline_spark.operators.embedding_index import (
        write_srp_index,
    )

    dim = 16
    rng = np.random.default_rng(20260816)

    def unit():
        v = rng.standard_normal(dim)
        return v / np.linalg.norm(v)

    def partner(v, c):
        g = rng.standard_normal(dim)
        u = g - (g @ v) * v
        u = u / np.linalg.norm(u)
        return c * v + np.sqrt(1.0 - c * c) * u

    def as_list(v):
        return [float(x) for x in np.asarray(v, dtype=np.float32)]

    c1, c2, c3 = unit(), unit(), unit()
    corpus = spark.createDataFrame(
        [(1, as_list(c1)), (2, as_list(c2)), (3, as_list(c3))],
        "vec_id long, embedding array<float>",
    )
    index = str(tmp_path / "srp_index")
    write_srp_index(
        corpus, index, dim=dim, design_threshold=0.9, n_planes=4,
        n_tables=4, n_buckets=16,
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).json(src)
    q = streaming_dedup_ingest(
        stream, index, target,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def write_vec_batch(name, rows):
        with open(os.path.join(src, name), "w", encoding="utf-8") as f:
            for i, v in rows:
                f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")

    fresh = unit()
    try:
        # 10 = 0.97-partner of corpus vec 1 (corpus match, drop);
        # 11 fresh; 12 = 0.97-partner of 11 (in-batch near, drop);
        # 13 = EXACT copy of 11 (stage-1 exact drop, min-id 11 wins);
        # 14 = null embedding (passes through, never indexed)
        write_vec_batch(
            "b0.json",
            [
                (10, as_list(partner(c1, 0.97))),
                (11, as_list(fresh)),
                (12, as_list(partner(fresh, 0.97))),
                (13, as_list(fresh)),
                (14, None),
            ],
        )
        q.processAllAvailable()
        data = os.path.join(target, "data")
        got = {
            r["vec_id"]
            for r in spark.read.option("basePath", data)
            .parquet(data)
            .collect()
        }
        assert got == {11, 14}
        # 20 = 0.97-partner of ACCEPTED 11 — must drop via the
        # postings batch 0 appended; 21 fresh
        write_vec_batch(
            "b1.json",
            [
                (20, as_list(partner(fresh, 0.97))),
                (21, as_list(unit())),
            ],
        )
        q.processAllAvailable()
        got = {
            r["vec_id"]
            for r in spark.read.option("basePath", data)
            .parquet(data)
            .collect()
        }
        assert got == {11, 14, 21}
    finally:
        q.stop()
    # probing the grown index finds the accepted 11, not the rejects
    probe = spark.createDataFrame(
        [(900, as_list(partner(fresh, 0.97)))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["batch_id"], r["corpus_id"])
        for r in batch_against_index(
            spark, probe, index, threshold=0.9
        ).collect()
    }
    assert (900, 11) in got
    assert all(c not in (10, 12, 13, 14, 20) for _, c in got)


def test_srp_zero_norm_vectors_bypass_index(spark, tmp_path):
    """r10 (ADVICE): zero-norm and NULL-element vectors have NULL
    cosine to everything — they can never be dropped as near-dups,
    yet all of them project to ONE bucket of every table (an
    unbounded hot key). They must take the null-payload bypass:
    written to the target, NEVER posted to the index. r11 (ADVICE
    r10): the bypass skips only the NEAR stages — bit-identical
    degenerate vectors are still EXACT duplicates and collapse to the
    min id within the batch."""
    import numpy as np

    from nursinghome_data_pipeline_spark.operators.embedding_index import (
        write_srp_index,
    )

    dim = 8
    rng = np.random.default_rng(7)

    def unit():
        v = rng.standard_normal(dim)
        return [float(x) for x in (v / np.linalg.norm(v))]

    corpus = spark.createDataFrame(
        [(1, unit())], "vec_id long, embedding array<float>"
    )
    index = str(tmp_path / "srp_index")
    write_srp_index(
        corpus, index, dim=dim, design_threshold=0.9, n_planes=4,
        n_tables=2, n_buckets=16,
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).json(src)
    q = streaming_dedup_ingest(
        stream, index, target, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        rows = [
            (30, [0.0] * dim),          # zero-norm
            (31, [0.0] * dim),          # bit-identical zero-norm copy:
                                        # dropped by the EXACT stage
                                        # (min-id 30 wins) even though
                                        # cosine can't compare them
            (32, []),                   # empty array (norm 0), unique
            (33, [None] + [1.0] * (dim - 1)),  # NULL element, unique
            (34, unit()),               # normal fresh vector
        ]
        with open(os.path.join(src, "b0.json"), "w", encoding="utf-8") as f:
            for i, v in rows:
                f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    data = os.path.join(target, "data")
    got = {
        r["vec_id"]
        for r in spark.read.option("basePath", data).parquet(data).collect()
    }
    # distinct degenerate rows pass through (no silent drops, no NEAR
    # dedup among them — cosine is undefined between zero vectors) but
    # the bit-identical copy 31 collapses into 30 via the exact rule
    assert got == {30, 32, 33, 34}
    # the index gained postings ONLY for the normal vector
    posted = {
        r["vec_id"]
        for r in spark.read.parquet(active_data_root(index)).select("vec_id").collect()
    }
    assert posted == {1, 34}


def test_srp_degenerate_duplicates_dropped_across_batches(spark, tmp_path):
    """r12 (r11 verdict #4): degenerate vectors are never indexed, so
    cross-batch copies used to be exempt by documented policy. The
    commit record's ``degen`` md5 set closes the class: a zero-norm
    vector accepted by batch N is recorded with the batch's commit,
    and bit-identical copies in batch N+1 are dropped — exactly one
    copy survives the stream. The set is only visible once committed,
    so a crash replay (record lost) reproduces the first run's
    accepted set instead of dropping its own winner."""
    import numpy as np

    from nursinghome_data_pipeline_spark.operators.embedding_index import (
        write_srp_index,
    )

    dim = 8
    rng = np.random.default_rng(11)

    def unit():
        v = rng.standard_normal(dim)
        return [float(x) for x in (v / np.linalg.norm(v))]

    corpus = spark.createDataFrame(
        [(1, unit())], "vec_id long, embedding array<float>"
    )
    index = str(tmp_path / "srp_index")
    write_srp_index(
        corpus, index, dim=dim, design_threshold=0.9, n_planes=4,
        n_tables=2, n_buckets=16,
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")

    def run(ckpt):
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).json(src)
        q = streaming_dedup_ingest(
            stream, index, target, checkpoint_dir=str(tmp_path / ckpt)
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def accepted():
        data = os.path.join(target, "data")
        return {
            r["vec_id"]
            for r in spark.read.option("basePath", data)
            .parquet(data)
            .collect()
        }

    with open(os.path.join(src, "b0.json"), "w", encoding="utf-8") as f:
        for i, v in [(30, [0.0] * dim), (34, unit())]:
            f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")
    run("ckpt")
    assert accepted() == {30, 34}
    # batch 1: two bit-identical copies of batch 0's zero vector (41
    # collapses into 40 within the batch; 40 is dropped against 30's
    # committed payload md5) plus a fresh normal vector
    with open(os.path.join(src, "b1.json"), "w", encoding="utf-8") as f:
        for i, v in [
            (40, [0.0] * dim),
            (41, [0.0] * dim),
            (42, unit()),
        ]:
            f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")
    run("ckpt")
    assert accepted() == {30, 34, 42}
    # exactly one entry exists for the zero payload
    from nursinghome_data_pipeline_spark.streaming import commitlog

    assert len(commitlog.read_record(target)["degen"]) == 1
    # crash replay: the commit record is lost — the replay must NOT
    # drop its own winner, and the accepted set stays the same
    shutil.rmtree(os.path.join(target, "_commit"))
    run("ckpt2")
    assert accepted() == {30, 34, 42}


def test_sidecar_payload_col_backtick_rejected_at_stream_start(
    spark, tmp_path
):
    """r10 (ADVICE): the sidecar's payload column name reaches SQL
    text in the srp bypass and bucket projection; a backtick must
    reject synchronously at stream start, not inside a micro-batch."""
    import json as _json

    import pytest

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_dedup_index,
    )

    corpus = spark.createDataFrame([(1, "hello world")], "id long, t string")
    index = str(tmp_path / "idx")
    write_dedup_index(corpus, index, id_col="id", text_col="t", n_buckets=8)
    # simulate a hand-edited / foreign sidecar carrying a hostile name
    meta_path = os.path.join(active_data_root(index), "_ann_meta.json")
    with open(meta_path, encoding="utf-8") as f:
        meta = _json.load(f)
    meta["text_col"] = "t`x"
    with open(meta_path, "w", encoding="utf-8") as f:
        _json.dump(meta, f)
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema("id long, t string").json(src)
    with pytest.raises(ValueError, match="backtick"):
        streaming_dedup_ingest(
            stream, index, str(tmp_path / "target"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )


def _crash_batch():
    # a corpus copy, a fresh doc, its near-copy and its exact copy
    return [(10, _BASE), (11, _FRESH), (12, _variant("ninety")), (13, _FRESH)]


def _target_rows(spark, target: str, batch_id: int = 0):
    part = os.path.join(target, "data", f"ingest_batch={batch_id}")
    return sorted(tuple(r) for r in spark.read.parquet(part).collect())


def _wait_for(pred, what: str, timeout_s: float = 120.0) -> None:
    import time

    t_end = time.monotonic() + timeout_s
    while not pred():
        if time.monotonic() > t_end:
            raise AssertionError(f"timed out waiting for {what}")
        time.sleep(0.05)


@pytest.mark.parametrize("failing", ["index_append", "target_write"])
def test_crash_between_concurrent_writes_replays_identically(
    spark, tmp_path, monkeypatch, failing
):
    """The target write and the index append run side by side; one of
    them failing after the other has landed leaves no commit record,
    and the restarted stream reproduces the clean run's accepted ids
    and target rows (own-id exclusion for a landed append, per-batch
    overwrite for a landed target)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from nursinghome_data_pipeline_spark.operators import similarity
    from nursinghome_data_pipeline_spark.streaming import commitlog

    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")

    def setup(tag: str):
        index = str(tmp_path / f"index-{tag}")
        write_dedup_index(corpus, index, n_buckets=16)
        src = str(tmp_path / f"src-{tag}")
        os.makedirs(src)
        _write_batch(src, "b0.json", _crash_batch())
        return index, src, str(tmp_path / f"target-{tag}")

    def run(index, src, target, tag):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = streaming_dedup_ingest(
            stream, index, target, threshold=0.6,
            checkpoint_dir=str(tmp_path / f"ckpt-{tag}"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    ref = setup("ref")
    run(*ref, "ref")
    want_ids = _accepted_ids(spark, ref[2])
    want_rows = _target_rows(spark, ref[2])
    assert want_ids == {11}

    index, src, target = setup("crash")
    target_done = os.path.join(target, "data", "ingest_batch=0", "_SUCCESS")
    delta = os.path.join(active_data_root(index), "pb=-1")

    def delta_landed() -> bool:
        return os.path.isdir(delta) and any(
            n.endswith(".parquet") for n in os.listdir(delta)
        )

    if failing == "index_append":
        def boom(*a, **k):
            _wait_for(lambda: os.path.exists(target_done), "the target write")
            raise OSError("injected append failure")

        monkeypatch.setattr(similarity, "append_routed_rows", boom)
    else:
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            if "ingest_batch=" in str(path):
                _wait_for(delta_landed, "the index append")
                raise OSError("injected target-write failure")
            return real_parquet(self, path, *a, **k)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(Exception, match="injected"):
        run(index, src, target, "crash")
    monkeypatch.undo()
    assert commitlog.read_record(target)["batch_id"] == -1
    assert os.path.exists(target_done) == (failing == "index_append")
    assert delta_landed() == (failing == "target_write")

    run(index, src, target, "crash")  # same checkpoint: batch 0 replays
    assert commitlog.read_record(target)["batch_id"] == 0
    assert _accepted_ids(spark, target) == want_ids
    assert _target_rows(spark, target) == want_rows


def test_ingest_jobs_stay_in_stream_job_group(spark, tmp_path, last_job_id):
    """Every job of a micro-batch — the side-by-side stages and writes
    included — is in the stream's job group, so reading the group
    accounts for the whole batch."""
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream, index, str(tmp_path / "target"), threshold=0.6,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        _write_batch(src, "b0.json", [(20, _FRESH)])
        q.processAllAvailable()
        before = last_job_id()
        _write_batch(src, "b1.json", _crash_batch())
        q.processAllAvailable()
        launched = last_job_id() - before
    finally:
        q.stop()
    tracker = spark.sparkContext.statusTracker()
    in_group = [j for j in tracker.getJobIdsForGroup(str(q.runId)) if j > before]
    assert launched > 0
    assert len(in_group) == launched


def test_all_null_payload_batch_commits_pass_through_rows(
    spark, tmp_path, monkeypatch
):
    """A batch with no payload at all projects to zero rows and an
    empty bucket set; it still commits, with only its pass-through
    rows, and posts nothing to the index."""
    from nursinghome_data_pipeline_spark.operators import dedup_index
    from nursinghome_data_pipeline_spark.streaming import commitlog

    pins = []
    real_pin = dedup_index.pin_rows

    def recording_pin(rows):
        pinned, pbs = real_pin(rows)
        pins.append((pinned.count(), pbs))
        return pinned, pbs

    monkeypatch.setattr(dedup_index, "pin_rows", recording_pin)
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    before = sorted(tuple(r) for r in spark.read.parquet(active_data_root(index)).collect())
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    _write_batch(src, "b0.json", [(60, None), (61, None)])
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream, index, target, threshold=0.6,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert pins == [(0, [])]
    assert commitlog.read_record(target)["batch_id"] == 0
    assert _target_rows(spark, target) == [(60, None), (61, None)]
    assert sorted(tuple(r) for r in spark.read.parquet(active_data_root(index)).collect()) == before


@pytest.mark.xfail(
    strict=True,
    reason="ROADMAP direction 5 (one rule for degenerate inputs): the "
    "second empty text is rejected as a duplicate of the first, and an "
    "empty text is posted to the index",
)
def test_null_and_empty_texts_all_accepted_in_one_batch(spark, tmp_path):
    """Degenerate inputs (ROADMAP direction 5): a NULL or empty text
    has no shingles and no fingerprint, so none of them is a duplicate
    of another — two NULL and two empty docs in one micro-batch all
    reach the sink, and none is posted to the index."""
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = str(tmp_path / "index")
    write_dedup_index(corpus, index, n_buckets=16)
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "target")
    _write_batch(
        src, "b0.json", [(70, None), (71, None), (72, ""), (73, ""), (74, _FRESH)]
    )
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = streaming_dedup_ingest(
        stream, index, target, threshold=0.6,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _accepted_ids(spark, target) == {70, 71, 72, 73, 74}
    idx_ids = {r["doc_id"] for r in spark.read.parquet(active_data_root(index)).collect()}
    assert 74 in idx_ids and not ({70, 71, 72, 73} & idx_ids)
