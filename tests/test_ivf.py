"""IVF ANN: probing all cells must equal exact brute force; fewer
probes must stay within the probed cells."""

from __future__ import annotations

from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark import fs
from nursinghome_data_pipeline_spark.operators.similarity import (
    active_data_root,
    knn_brute_force,
)

N_CENTROIDS = 8


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_fixed_ivf_probe_all_equals_brute_force(spark, sf_dir):
    """The hash-seeded, oracle-checkable IVF plan: probing every cell
    IS exact brute force."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        fixed_ivf_seeds,
        knn_ivf_fixed,
    )

    emb = _embeddings(spark, sf_dir)
    cand = emb.where(F.col("vec_id") != 0)
    seeds = fixed_ivf_seeds(cand, n_seeds=N_CENTROIDS)
    assert len(seeds) == N_CENTROIDS
    # deterministic across calls (hash order, no RNG)
    assert seeds == fixed_ivf_seeds(cand, n_seeds=N_CENTROIDS)
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    exact = knn_brute_force(
        cand,
        spark.createDataFrame([(list(qvec),)], "query_embedding array<double>"),
        k=10,
    ).collect()
    ivf_all = knn_ivf_fixed(
        cand, qvec, seeds, k=10, n_probe=N_CENTROIDS
    ).collect()
    assert [r.vec_id for r in exact] == [r.vec_id for r in ivf_all]
    for a, b in zip(exact, ivf_all):
        assert abs(a.cosine_sim - b.cosine_sim) < 1e-12


def test_fixed_ivf_plan_is_map_only_scan(spark, sf_dir):
    """Assignment + probe filter + re-rank must compile to a single
    map-only projection under TakeOrderedAndProject: no Exchange, no
    join — the shape whose only cluster cost is the scan itself."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        fixed_ivf_seeds,
        knn_ivf_fixed,
    )

    emb = _embeddings(spark, sf_dir)
    cand = emb.where(F.col("vec_id") != 0)
    seeds = fixed_ivf_seeds(cand, n_seeds=N_CENTROIDS)
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    plan = (
        knn_ivf_fixed(cand, qvec, seeds, k=10, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_partitioned_index_matches_in_memory_plan(spark, sf_dir, tmp_path):
    """write_ivf_index + knn_index_probe must return exactly the
    rows/scores of knn_ivf_fixed on the same seeds and query — only
    the storage layout differs."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        fixed_ivf_seeds,
        knn_ivf_fixed,
        knn_index_probe,
        write_ivf_index,
    )

    emb = _embeddings(spark, sf_dir)
    cands = emb.where(F.col("vec_id") != 0)
    seeds = fixed_ivf_seeds(cands, n_seeds=8)
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    path = str(tmp_path / "ivf_index")
    write_ivf_index(cands, path, seeds)
    mem = knn_ivf_fixed(cands, qvec, seeds, k=10, n_probe=2).collect()
    disk = knn_index_probe(spark, path, qvec, k=10, n_probe=2).collect()
    assert [(r.vec_id, r.cell) for r in mem] == [
        (r.vec_id, r.cell) for r in disk
    ]
    for a, b in zip(mem, disk):
        assert abs(a.cosine_sim - b.cosine_sim) < 1e-12


def test_partitioned_index_prunes_at_file_level(spark, sf_dir, tmp_path):
    """The probe filter must land in the scan's PartitionFilters and
    the query must touch ONLY the probed cells' files — the read-path
    payoff of the partitioned layout."""
    import re

    from nursinghome_data_pipeline_spark.operators.similarity import (
        fixed_ivf_seeds,
        ivf_probe_cells,
        knn_index_probe,
        write_ivf_index,
    )
    from nursinghome_data_pipeline_spark.plans import formatted_plan

    emb = _embeddings(spark, sf_dir)
    cands = emb.where(F.col("vec_id") != 0)
    seeds = fixed_ivf_seeds(cands, n_seeds=8)
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    path = str(tmp_path / "ivf_index")
    write_ivf_index(cands, path, seeds)
    topk = knn_index_probe(spark, path, qvec, k=10, n_probe=2)
    plan = formatted_plan(topk)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0], plan
    probes = set(ivf_probe_cells(seeds, qvec, n_probe=2))
    # the executed scan must surface rows ONLY from the probed cells'
    # directories (inputFiles() lists the pre-pruning relation, so
    # observe the files that actually contribute rows instead)
    touched = {
        int(re.search(r"cell=(\d+)", r[0]).group(1))
        for r in spark.read.parquet(active_data_root(path))
        .where(F.col("cell").isin(list(probes)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert touched and touched <= probes, (touched, probes)


def test_ivf_append_equals_full_rebuild_on_same_seeds(spark, sf_dir, tmp_path):
    """IVF twin of the LSH append pin: building on half the corpus
    then appending the rest must return bit-identical top-k to a full
    rebuild over the SAME seeds (the sidecar's quantizer is the
    routing contract, independent of arrival order)."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        append_to_ann_index,
        fixed_ivf_seeds,
        knn_index_probe,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = fixed_ivf_seeds(emb.where(F.col("vec_id") % 2 == 0), n_seeds=4)
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    inc = str(tmp_path / "ivf_inc2")
    write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), inc, seeds)
    append_to_ann_index(emb.where(F.col("vec_id") % 2 == 1), inc)
    full = str(tmp_path / "ivf_full2")
    write_ivf_index(emb, full, seeds)
    got = knn_index_probe(spark, inc, qvec, k=6, n_probe=3).collect()
    want = knn_index_probe(spark, full, qvec, k=6, n_probe=3).collect()
    assert [(r.vec_id, r.cosine_sim) for r in got] == [
        (r.vec_id, r.cosine_sim) for r in want
    ]


def test_ann_lifecycle_churn_stays_bit_equal_to_rebuild(spark, sf_dir, tmp_path):
    """Full at-rest lifecycle under churn: append → probe → append →
    compact → probe on the SAME index, probe pinned bit-equal to a
    from-scratch rebuild over the rows present at each step (composes
    the append==rebuild and compact-preserves pins into one run)."""
    from nursinghome_data_pipeline_spark.operators.similarity import (
        append_to_ann_index,
        compact_ann_index,
        fixed_ivf_seeds,
        knn_index_probe,
        load_ann_meta,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = fixed_ivf_seeds(emb.where(F.col("vec_id") % 3 == 0), n_seeds=4)
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    live = str(tmp_path / "ivf_live")
    write_ivf_index(emb.where(F.col("vec_id") % 3 == 0), live, seeds)

    def rebuild_topk(pred):
        ref = str(tmp_path / "ivf_ref")
        write_ivf_index(emb.where(pred), ref, seeds)
        return [
            (r.vec_id, r.cosine_sim)
            for r in knn_index_probe(spark, ref, qvec, k=6, n_probe=3).collect()
        ]

    def live_topk():
        return [
            (r.vec_id, r.cosine_sim)
            for r in knn_index_probe(spark, live, qvec, k=6, n_probe=3).collect()
        ]

    # step 1: first append batch
    append_to_ann_index(emb.where(F.col("vec_id") % 3 == 1), live)
    assert live_topk() == rebuild_topk(F.col("vec_id") % 3 != 2)
    # step 2: second append batch
    append_to_ann_index(emb.where(F.col("vec_id") % 3 == 2), live)
    full = rebuild_topk(F.lit(True))
    assert live_topk() == full
    # step 3: compact, then probe again — still the full-corpus answer
    meta_before = load_ann_meta(live)
    compact_ann_index(spark, live, files_per_partition=1)
    assert load_ann_meta(live) == meta_before
    assert live_topk() == full
    # step 4: append AFTER compaction still routes identically
    # (compaction must not disturb the sidecar geometry appends use)
    append_to_ann_index(
        emb.where(F.col("vec_id") % 3 == 0).withColumn(
            "vec_id", F.col("vec_id") + 100000
        ),
        live,
    )
    want = str(tmp_path / "ivf_ref2")
    write_ivf_index(
        emb.unionByName(
            emb.where(F.col("vec_id") % 3 == 0).withColumn(
                "vec_id", F.col("vec_id") + 100000
            )
        ),
        want,
        seeds,
    )
    got = knn_index_probe(spark, live, qvec, k=6, n_probe=3).collect()
    exp = knn_index_probe(spark, want, qvec, k=6, n_probe=3).collect()
    assert [(r.vec_id, r.cosine_sim) for r in got] == [
        (r.vec_id, r.cosine_sim) for r in exp
    ]


def test_append_refused_while_compaction_lock_present(spark, sf_dir, tmp_path):
    """Single-writer exclusion (ADVICE r5): an append during a live
    compaction would land in the superseded generation and be deleted —
    it must fail loudly while _compacting.lock exists."""
    import os as _os

    import pytest as _pytest

    from nursinghome_data_pipeline_spark.operators.similarity import (
        ANN_COMPACT_LOCK,
        append_to_ann_index,
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = fixed_ivf_seeds(emb, n_seeds=4)
    path = str(tmp_path / "ivf_locked")
    write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path, seeds)
    with open(_os.path.join(path, ANN_COMPACT_LOCK), "w") as f:
        f.write("x")
    with _pytest.raises(RuntimeError, match="compact"):
        append_to_ann_index(emb.where(F.col("vec_id") % 2 == 1), path)
    _os.remove(_os.path.join(path, ANN_COMPACT_LOCK))
    append_to_ann_index(emb.where(F.col("vec_id") % 2 == 1), path)
    assert spark.read.parquet(active_data_root(path)).count() == emb.count()


def test_compact_aborts_swap_if_files_changed_mid_rewrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Second writer-exclusion gate: a file-set change between the
    compactor's read and its swap (an append that slipped past the
    lock) must abort the swap, leave the live index intact (now
    including the slipped batch), and release the lock."""
    import os as _os

    import pytest as _pytest

    from nursinghome_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = sim.fixed_ivf_seeds(emb, n_seeds=4)
    path = str(tmp_path / "ivf_race")
    sim.write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path, seeds)
    live = sim.active_data_root(path)
    late = emb.where(F.col("vec_id") % 2 == 1)
    real_meta_write = sim._write_ann_meta
    state = {"fired": False}

    def sneak_append_then_write(p, meta):
        # simulate an append racing in while the rewrite runs: it lands
        # in the LIVE generation just before the gate re-lists it
        if not state["fired"] and p != live:
            state["fired"] = True
            routed = late.select(
                meta["id_col"],
                meta["vec_col"],
                sim.ivf_cell_col(
                    [(int(s), v) for s, v in meta["seeds"]], meta["vec_col"]
                ).alias("cell"),
            )
            routed.write.mode("append").partitionBy("cell").parquet(live)
        real_meta_write(p, meta)

    monkeypatch.setattr(sim, "_write_ann_meta", sneak_append_then_write)
    with _pytest.raises(RuntimeError, match="changed during compaction"):
        sim.compact_ann_index(spark, path, files_per_partition=1)
    assert state["fired"]
    # live index intact and now includes the slipped batch; the gate
    # removed the uncommitted generation tree and released the lock
    assert not _os.path.exists(_os.path.join(path, sim.ANN_COMPACT_LOCK))
    import glob as _glob

    assert [
        d for d in _glob.glob(_os.path.join(path, "_gen-*"))
        if _os.path.isdir(d)
    ] == [live]
    assert spark.read.parquet(sim.active_data_root(path)).count() == emb.count()
    # and a retry (no race this time) succeeds
    sim.compact_ann_index(spark, path, files_per_partition=1)
    gen1 = sim.active_data_root(path)
    assert spark.read.parquet(gen1).count() == emb.count()
    # r12 regression pin: the gate must ALSO fire on a compacted
    # generation (new generations are siblings of the active one — a
    # substring-based exclusion would void the gate entirely)
    state2 = {"fired": False}

    def sneak_append_gen1(p, meta):
        if not state2["fired"] and p != gen1 and fs.GEN_PREFIX in p:
            state2["fired"] = True
            routed = late.select(
                meta["id_col"],
                meta["vec_col"],
                sim.ivf_cell_col(
                    [(int(s), v) for s, v in meta["seeds"]], meta["vec_col"]
                ).alias("cell"),
            )
            routed.write.mode("append").partitionBy("cell").parquet(gen1)
        real_meta_write(p, meta)

    monkeypatch.setattr(sim, "_write_ann_meta", sneak_append_gen1)
    with _pytest.raises(RuntimeError, match="changed during compaction"):
        sim.compact_ann_index(spark, path, files_per_partition=1)
    assert state2["fired"]
    assert sim.active_data_root(path) == gen1  # flip never happened


def test_probe_kind_mismatch_raises_named_error(spark, sf_dir, tmp_path):
    """Sidecar-driven kNN probes must validate meta['kind'] (ADVICE r5):
    a near-dup index holds postings, not a kNN corpus, so the probe
    names the kind and the probe that serves it, not a KeyError."""
    import pytest as _pytest

    from nursinghome_data_pipeline_spark.operators.dedup_index import (
        write_dedup_index,
    )
    from nursinghome_data_pipeline_spark.operators.similarity import (
        knn_index_probe,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "minhash_kind")
    write_dedup_index(docs.select("doc_id", "text"), path, n_buckets=4)
    with _pytest.raises(
        ValueError, match=r"kind='minhash'.*batch_against_index.*ann-index dedup"
    ):
        knn_index_probe(spark, path, [0.0] * 64)


def test_unconfigured_scheme_fails_fast_before_any_write(spark):
    """r11: the index lifecycle runs on any Hadoop-reachable URI, and
    the old local-only gate is replaced by a reachability probe —
    a scheme whose connector is NOT on the classpath (s3a/abfss in
    this container) must still fail fast with the cause named, BEFORE
    any data write could half-destroy an existing index."""
    import pytest as _pytest

    from nursinghome_data_pipeline_spark.operators.similarity import (
        append_to_ann_index,
        compact_ann_index,
        write_ivf_index,
        write_lsh_index,
    )

    for fn, args in [
        (write_ivf_index, (None, "s3a://bucket/idx", [])),
        (append_to_ann_index, (None, "s3a://bucket/idx")),
        (compact_ann_index, (None, "abfss://c@a.dfs.core.windows.net/idx")),
        (write_lsh_index, (None, "s3a://bucket/idx")),
    ]:
        with _pytest.raises(RuntimeError, match="filesystem for .* is unusable"):
            fn(*args) if fn is not write_lsh_index else fn(*args, dim=64)


def test_compact_refused_while_append_intent_present(spark, sf_dir, tmp_path):
    """The other half of the Dekker handshake: a compaction must back
    off (naming the marker) while any _append-*.intent exists — an
    in-flight append's files are not reliably listable yet, so no
    file-set gate could protect its batch. A stranded intent (crashed
    append) blocks compaction until removed: blocking beats deleting
    a batch."""
    import os as _os

    import pytest as _pytest

    from nursinghome_data_pipeline_spark.operators.similarity import (
        compact_ann_index,
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_intent")
    write_ivf_index(emb, path, fixed_ivf_seeds(emb, n_seeds=4))
    marker = _os.path.join(path, "_append-deadbeef.intent")
    open(marker, "w").close()
    with _pytest.raises(RuntimeError, match="_append-deadbeef.intent"):
        compact_ann_index(spark, path, files_per_partition=1)
    # abort released the lock and left the index intact (no committed
    # or orphan generation)
    import glob as _glob

    from nursinghome_data_pipeline_spark.operators.similarity import (
        active_data_root,
    )

    assert not _os.path.exists(_os.path.join(path, "_compacting.lock"))
    assert sorted(_glob.glob(_os.path.join(path, "_gen-*"))) == [
        _os.path.join(path, "_gen-000001"),
        _os.path.join(path, "_gen-000001.ptr"),
    ]
    _os.remove(marker)
    compact_ann_index(spark, path, files_per_partition=1)
    assert spark.read.parquet(active_data_root(path)).count() == emb.count()


def test_append_leaves_no_intent_marker_behind(spark, sf_dir, tmp_path):
    """A successful append removes its intent marker (and a failed one
    does too — the finally path), so markers only persist when an
    append PROCESS dies, the one case that must block compaction."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F2

    from nursinghome_data_pipeline_spark.operators.similarity import (
        append_to_ann_index,
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_marker")
    write_ivf_index(emb.where(F2.col("vec_id") % 2 == 0), path, fixed_ivf_seeds(emb, n_seeds=4))
    append_to_ann_index(emb.where(F2.col("vec_id") % 2 == 1), path)
    assert _glob.glob(_os.path.join(path, "_append-*.intent")) == []
    assert spark.read.parquet(active_data_root(path)).count() == emb.count()


def test_mutators_validate_sidecar_kind(spark, sf_dir, tmp_path):
    """append/compact must reject an unknown meta['kind'] with a named
    error instead of silently treating it as LSH (append) or
    compacting by a nonexistent 'bucket' column (compact)."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from nursinghome_data_pipeline_spark.operators.similarity import (
        ANN_META_FILE,
        append_to_ann_index,
        compact_ann_index,
        fixed_ivf_seeds,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_badkind")
    write_ivf_index(emb, path, fixed_ivf_seeds(emb, n_seeds=4))
    meta_path = _os.path.join(active_data_root(path), ANN_META_FILE)
    meta = _json.load(open(meta_path))
    meta["kind"] = "ivf2"
    _json.dump(meta, open(meta_path, "w"))
    with _pytest.raises(ValueError, match="ivf2"):
        append_to_ann_index(emb, path)
    with _pytest.raises(ValueError, match="ivf2"):
        compact_ann_index(spark, path)


def _ivf_crash_fixture(spark, sf_dir, tmp_path):
    """Shared staging for the crash-consistency battery: a live IVF
    index plus the probe answer it should keep giving after any
    crash+repair cycle."""
    from nursinghome_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = sim.fixed_ivf_seeds(emb, n_seeds=4)
    path = str(tmp_path / "ivf_crash")
    sim.write_ivf_index(emb, path, seeds)
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]

    def topk():
        return [
            (r.vec_id, r.cosine_sim)
            for r in sim.knn_index_probe(spark, path, qvec, k=6, n_probe=3).collect()
        ]

    return sim, path, topk, topk()


def test_compact_crash_between_write_and_flip_is_repaired(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill-point injection (r12, r11 verdict #3): kill the compactor
    at the worst instant of the GENERATION protocol — after the new
    generation tree (and its sidecar) is fully written but before the
    pointer flip. Nothing was committed: the old layout must still be
    fully active, probes must answer exactly as before, and the next
    compact_ann_index call must GC the orphan tree, reclaim the stale
    lock, and finish cleanly."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from nursinghome_data_pipeline_spark import fs as _fs

    sim, path, topk, want = _ivf_crash_fixture(spark, sf_dir, tmp_path)
    gen1 = sim.active_data_root(path)
    real_touch = _fs.touch
    state = {"n": 0}

    def dying_touch(p):
        if p.endswith(_fs.GEN_PTR_SUFFIX):
            state["n"] += 1
            raise OSError("injected crash before flip")
        return real_touch(p)

    monkeypatch.setattr(_fs, "touch", dying_touch)
    with _pytest.raises(OSError, match="injected crash"):
        sim.compact_ann_index(spark, path, files_per_partition=1)
    monkeypatch.undo()
    assert state["n"] == 1
    # crashed state: orphan generation tree, no pointer — the build's
    # generation is still the active data root and probes still work
    assert _glob.glob(_os.path.join(path, "_gen-*.ptr")) == [gen1 + ".ptr"]
    orphans = [
        d for d in _glob.glob(_os.path.join(path, "_gen-*"))
        if _os.path.isdir(d) and d != gen1
    ]
    assert orphans, "new generation tree should have been written"
    assert sim.active_data_root(path) == gen1
    assert topk() == want
    # next call GCs the orphan, reclaims the stale lock, completes
    sim.compact_ann_index(spark, path, files_per_partition=1)
    assert topk() == want
    ptrs = _glob.glob(_os.path.join(path, "_gen-*.ptr"))
    assert len(ptrs) == 1
    assert not _os.path.exists(_os.path.join(path, sim.ANN_COMPACT_LOCK))


def test_compact_crash_between_flip_and_gc_is_repaired(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill-point injection: crash AFTER the pointer flip but before
    the old generation's GC. The new generation is already committed —
    probes must serve it immediately (the max pointer wins), and the
    next call must reap the stale generation, its pointer, and the
    stale lock; probes keep answering correctly throughout."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from nursinghome_data_pipeline_spark import fs as _fs

    sim, path, topk, want = _ivf_crash_fixture(spark, sf_dir, tmp_path)
    # first compaction: establish generation 2 normally
    sim.compact_ann_index(spark, path, files_per_partition=1)
    gen1 = sim.active_data_root(path)
    assert gen1.endswith("_gen-000002")
    real_rmtree = _fs.rmtree

    def dying_rmtree(p):
        if p.rstrip("/") == gen1.rstrip("/"):
            raise OSError("injected crash before old-gen GC")
        return real_rmtree(p)

    monkeypatch.setattr(_fs, "rmtree", dying_rmtree)
    with _pytest.raises(OSError, match="injected crash"):
        sim.compact_ann_index(spark, path, files_per_partition=1)
    monkeypatch.undo()
    # generation 2 is committed and active despite the leftover tree;
    # the stale lock (crash before removal) is reclaimed by next call
    assert sim.active_data_root(path).endswith("_gen-000003")
    assert _os.path.isdir(gen1)
    assert topk() == want
    sim.compact_ann_index(spark, path, files_per_partition=1)
    assert not _os.path.isdir(gen1)
    assert sim.active_data_root(path).endswith("_gen-000004")
    assert len(_glob.glob(_os.path.join(path, "_gen-*.ptr"))) == 1
    assert topk() == want


def test_compact_detects_in_place_overwrite_of_part_file(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The re-list gate compares (path, size, mtime), not bare file
    names (ADVICE r6): a rogue writer that replaces an existing part
    file IN PLACE — same name, different content — mid-rewrite must
    abort the swap, or its data would be silently lost."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    sim, path, topk, want = _ivf_crash_fixture(spark, sf_dir, tmp_path)
    parts = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    assert len(parts) >= 2
    # pick two valid part files of different size so the overwritten
    # directory stays readable parquet (only size/mtime change)
    a, b = parts[0], parts[1]
    if _os.path.getsize(a) == _os.path.getsize(b):
        for cand in parts[2:]:
            if _os.path.getsize(cand) != _os.path.getsize(a):
                b = cand
                break
    real_meta_write = sim._write_ann_meta
    state = {"fired": False}

    gen1 = sim.active_data_root(path)

    def overwrite_in_place_then_write(p, meta):
        if not state["fired"] and p != gen1:
            state["fired"] = True
            _shutil.copyfile(b, a)  # same name `a`, different bytes
        real_meta_write(p, meta)

    monkeypatch.setattr(sim, "_write_ann_meta", overwrite_in_place_then_write)
    with _pytest.raises(RuntimeError, match="changed during compaction"):
        sim.compact_ann_index(spark, path, files_per_partition=1)
    assert state["fired"]
    # gate released the lock and removed the uncommitted generation;
    # the live generation is intact
    assert not _os.path.exists(_os.path.join(path, sim.ANN_COMPACT_LOCK))
    assert sorted(_glob.glob(_os.path.join(path, "_gen-*"))) == [
        gen1, gen1 + ".ptr"
    ]


def test_compact_lock_cleanup_tolerates_vanished_lock(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r6: if the error-path cleanup finds the lock already
    gone (directory swapped/removed concurrently), os.remove must not
    mask the original exception with FileNotFoundError."""
    import os as _os

    import pytest as _pytest

    sim, path, _topk, _want = _ivf_crash_fixture(spark, sf_dir, tmp_path)
    real_meta_write = sim._write_ann_meta

    gen1 = sim.active_data_root(path)

    def remove_lock_then_die(p, meta):
        if p != gen1:
            _os.remove(_os.path.join(path, sim.ANN_COMPACT_LOCK))
            raise RuntimeError("original failure to surface")
        real_meta_write(p, meta)

    monkeypatch.setattr(sim, "_write_ann_meta", remove_lock_then_die)
    # the ORIGINAL error must surface, not the cleanup's FileNotFoundError
    with _pytest.raises(RuntimeError, match="original failure to surface"):
        sim.compact_ann_index(spark, path, files_per_partition=1)
