"""At-rest embedding near-dup index (``kind="srp"``) — the cosine
family's incremental-dedup story: the third near-dup index kind next
to ``operators/dedup_index.py``'s minhash (Jaccard) and simhash
(Hamming), giving :func:`~.similarity.embedding_near_duplicate_pairs`
the same O(batch + matched buckets) shape. Without it, embedding-cosine
near-dup is the one family where a daily 0.1% increment still pays a
full-corpus re-bucketing pass. This module holds the kind's
:data:`SRP` family record; append routing, the probe, the in-batch
pairs and compaction are the shared ``dedup_index`` /
``compact_ann_index`` steps.

Layout (:func:`write_srp_index`, ``"normalized"`` since r10): ONE
parquet table partitioned by ``pb``, holding two row roles —

- *posting rows* at ``pb = tbl · n_buckets + (xxhash64(bucket) mod
  n_buckets)``: (tbl, bucket, id, nrm), NO vector payload. The
  multi-table OR-construction's table index ``tbl`` plays the role
  the minhash index's ``band`` plays, and the sign-projection
  ``bucket`` id is mixed through xxhash64 before the mod because its
  low bits are raw sign bits (a plain mod would route on the first
  log2(n_buckets) hyperplanes only).
- *vector rows* at ``pb = VEC_PB_BASE − (xxhash64(id) mod
  n_vec_buckets)`` (reserved negative directories): (id, vec, nrm),
  exactly ONCE per vector.

The r9 layout carried the vector on every posting row — zero joins at
probe time, but an ``n_tables``× storage/scan multiplier (10× at the
1M auto geometry). The r10 A/B at 1M vectors (SCALE.md) measured the
normalized layout **7.9× smaller at rest** (330 MB vs 2.61 GB),
compaction 2.8× faster, probe +16% wall (one extra pruned join) —
at 100 TB of embeddings the storage term dominates, so normalized is
the only layout; a sidecar without ``layout: "normalized"`` is
rejected. Probes verify through a vb-pruned vector fetch (candidate
ids → their vector directories, :func:`_fetch_vectors` — the one
kind-specific probe step), and LSM delta appends (``pb = −1``) still
carry the payload inline — a delta is small and transient, and
inlining keeps the append a single atomic file; compaction splits it
into the two roles (:func:`split_row_roles`).

Probe (:func:`embedding_batch_against_index`): bit-identical, as a
set, to running the in-memory operator over corpus ∪ batch at the
same (n_planes, n_tables, seed) geometry and keeping the cross pairs
(pinned by ``tests/test_srp_index.py``) — same
:func:`~.similarity.lsh_bucket_col` bucket ids, same
:func:`~.similarity._cosine_with_norms` verify over the same float32
arrays and float64 norms.

Recall contract: the geometry is sized at BUILD time for
``design_threshold`` (``n_tables = auto_lsh_tables(n_planes,
design_threshold, recall_target)`` — recall ``1−(1−r1)^t`` at the
boundary, measured against the SRP closed form in
``tests/test_embedding_recall.py``). Probing at a LOOSER threshold
than the index was designed for silently drops below that floor
(r1 falls with the threshold), so the probe warns — the same
geometry-vs-parameter honesty as the simhash max_hamming-vs-pigeonhole
warning.

Lifecycle: ``regeometry=True`` compaction re-derives the bucket count
from the grown corpus and re-routes from the STORED (tbl, bucket)
columns, bit-identical to a fresh rebuild (planes are never
re-derived — unlike n_buckets they define routing semantics, but they
live in the sidecar, so re-routing needs no vector math at all).
:func:`~.dedup_index.dedup_index_bucket_stats` reports hot (tbl,
bucket) keys for this kind too.

Reference parity note: the reference pipeline has no vector ops at
all; this extends the engine-native embedding dedup family
(SURVEY §2.10 ext) to the incremental-ingest shape a training-data
pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm_col
from .dedup_index import (
    DELTA_PB,
    Family,
    _require_unreserved,
    _write_rows,
    batch_against_index,
    side_col,
)
from .. import fs
from .similarity import (
    _cosine_with_norms,
    auto_lsh_planes,
    auto_lsh_tables,
    crossover_flat_read,
    lsh_bucket_structs_col,
    read_matched_partitions,
)

#: Internal projection names (pb/tbl/bucket/nrm persist in the index;
#: batch_id/corpus_id/cosine_sim are probe output aliases). A caller
#: id_col/vec_col with one of these names would silently collide or
#: misbind — same guard as the minhash/simhash indexes'.
_RESERVED_COLS = frozenset(
    {"pb", "tbl", "bucket", "nrm", "batch_id", "corpus_id", "cosine_sim"}
)

#: Vector rows of a normalized srp index live at
#: ``pb = VEC_PB_BASE − (xxhash64(id) mod n_vec_buckets)`` — reserved
#: NEGATIVE partition values so they can never collide with posting
#: directories (pb ≥ 0) or the LSM delta (pb = −1 = DELTA_PB), and so
#: the whole index stays ONE table under the shared
#: append/compact/lock machinery.
VEC_PB_BASE = -2


def _vec_pb_col(id_col: str, n_vec_buckets: int):
    """Partition value for a vector row — derived from the id alone,
    so compaction/regeometry can re-route vector rows without the
    vector math, exactly like posting pb re-derives from (tbl,
    bucket)."""
    return (
        F.lit(VEC_PB_BASE)
        - F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_vec_buckets))
    ).cast("int")


def _require_normalized(meta: dict) -> None:
    if meta.get("layout") != "normalized":
        raise ValueError(
            f"srp index sidecar has layout={meta.get('layout')!r} — "
            "expected layout='normalized' (posting rows + one vector "
            "row per id); rebuild the index with write_srp_index"
        )


def _two_roles(
    postings: DataFrame, vectors: DataFrame, meta: dict, n_vec_buckets: int
) -> DataFrame:
    """The normalized layout from routed posting rows (payload
    stripped here) and one ``(id, vec, nrm)`` row per vector (routed
    to its vector directory here)."""
    id_c, vec_c = meta["id_col"], meta["vec_col"]
    vec_t = postings.schema[vec_c].dataType
    return postings.select(
        "pb", "tbl", "bucket", id_c, F.lit(None).cast(vec_t).alias(vec_c), "nrm"
    ).unionByName(
        vectors.select(
            _vec_pb_col(id_c, n_vec_buckets).alias("pb"),
            F.lit(None).cast("int").alias("tbl"),
            F.lit(None).cast("long").alias("bucket"),
            F.col(id_c),
            F.col(vec_c),
            F.col("nrm"),
        )
    )


def _srp_rows(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    n_buckets: int,
) -> DataFrame:
    """(pb, tbl, bucket, <id>, <vec>, nrm) rows — ``n_tables`` rows per
    vector, the shared projection for index build, append routing, and
    the batch side of the probe. One scan computes every table's
    bucket id and the norm, then a generator fans each row out to its
    (tbl, bucket) keys — the same one-scan shape (and the same
    seed-per-table bucket ids) as the in-memory operator's multi-table
    path, so index and query always agree on routing."""
    _require_unreserved(_RESERVED_COLS, "_srp_rows", id_col=id_col, vec_col=vec_col)
    # ALL tables' (tbl, bucket) structs in ONE HOF expression over a
    # single parsed plane-matrix literal (r13): same bucket ids
    # bit-for-bit as the former per-table lsh_bucket_col fan-out
    # (pinned by tests/test_srp_properties.py), ~2x cheaper to
    # construct and 2-3x cheaper to execute at probe geometry — see
    # lsh_bucket_structs_col.
    bucket_structs = lsh_bucket_structs_col(
        vec_col, dim=dim, n_planes=n_planes, n_tables=n_tables, seed=seed
    )
    # generator and struct-field access cannot share one select —
    # explode first, then project the fields (withColumn seam)
    exploded = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm_col(vec_col).alias("nrm"),
            F.explode(bucket_structs).alias("__tb"),
        )
        .withColumn("tbl", F.col("__tb.tbl"))
        .withColumn("bucket", F.col("__tb.bucket"))
        .drop("__tb")
    )
    return exploded.select(
        (
            F.col("tbl") * n_buckets
            + F.pmod(F.xxhash64(F.col("bucket")), F.lit(n_buckets))
        )
        .cast("int")
        .alias("pb"),
        "tbl",
        "bucket",
        id_col,
        vec_col,
        "nrm",
    )


def write_srp_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    design_threshold: float = 0.95,
    recall_target: float = 0.9,
    n_planes: int | str = "auto",
    n_tables: int | str = "auto",
    target_bucket_pop: int = 64,
    seed: int = 42,
    n_buckets: int | str = "auto",
    n_rows: int | None = None,
    files_per_partition: int | None = 1,
) -> None:
    """Build the at-rest embedding near-dup index (module docstring).

    Geometry mirrors the in-memory operator's auto sizing exactly:
    ``n_planes="auto"`` holds expected bucket population at
    ``target_bucket_pop`` as the corpus grows
    (:func:`~.similarity.auto_lsh_planes` — one plane per doubling),
    and ``n_tables="auto"`` is the OR-construction count hitting
    ``recall_target`` at ``design_threshold``
    (:func:`~.similarity.auto_lsh_tables`). Both need the row count —
    pass ``n_rows`` if known, else one count job is spent.
    ``design_threshold`` persists in the sidecar so probes can warn
    when called looser than the geometry was sized for.

    ``n_buckets`` is pure partition geometry (``n_tables × n_buckets``
    directories) — refreshable later via
    ``compact_ann_index(regeometry=True)``, unlike planes/seed which
    define routing semantics and are fixed at build. The auto formula
    is :func:`~.dedup_index.auto_dedup_buckets` over ``n_rows``
    ALONE: each table spreads its ``n_rows`` postings over
    ``n_buckets`` directories (``pb`` carries the table index, the
    exact analog of the minhash index's per-band sizing), so the
    per-directory payload is ``n_rows / n_buckets`` regardless of
    ``n_tables``. Sizing over ``n_rows × n_tables`` instead was
    MEASURED 16× over-partitioned at 1M vectors (40,960 dirs of ~244
    rows; the 100-vector probe paid 12.3 s of listing/footer tax and
    compaction 362 s — SCALE.md r9 srp table has the before/after).

    Exact duplicates share every table's bucket, so m exact copies of
    one vector put m postings in ``n_tables`` shared keys and every
    probe that hits them verifies against all m — run exact dedup
    (e.g. group-by-vector min-id, the srp ingest loop's stage 1)
    before indexing, and watch
    :func:`~.dedup_index.dedup_index_bucket_stats` for hot keys.
    ``files_per_partition`` defaults ON (1) for the same measured
    reason as the other index kinds (uniform keys → a shuffle-free
    write puts every input task's rows into every directory)."""
    fs.check_fs(path, "write_srp_index")
    # guards BEFORE the auto-sizing count — invalid inputs must not
    # cost a full corpus scan to discover
    _require_unreserved(
        _RESERVED_COLS, "write_srp_index", id_col=id_col, vec_col=vec_col
    )
    if not -1.0 <= design_threshold <= 1.0:
        raise ValueError(
            f"write_srp_index: design_threshold must be a cosine in "
            f"[-1, 1] (got {design_threshold})"
        )
    if n_planes == "auto" or n_tables == "auto" or n_buckets == "auto":
        if n_rows is None:
            n_rows = df.count()
    if n_planes == "auto":
        n_planes = auto_lsh_planes(
            n_rows, target_bucket_pop=target_bucket_pop
        )
    n_planes = int(n_planes)
    if n_tables == "auto":
        n_tables = auto_lsh_tables(
            n_planes, design_threshold, recall_target=recall_target
        )
    n_tables = int(n_tables)
    if n_planes < 1 or n_tables < 1:
        # n_tables=0 would explode an EMPTY key array — every row
        # silently dropped, an empty index with a valid sidecar
        raise ValueError(
            f"write_srp_index: n_planes ({n_planes}) and n_tables "
            f"({n_tables}) must be >= 1"
        )
    meta = {
        "kind": "srp",
        "layout": "normalized",
        "id_col": id_col,
        "vec_col": vec_col,
        "dim": dim,
        "n_planes": n_planes,
        "n_tables": n_tables,
        "seed": seed,
        "design_threshold": design_threshold,
        "recall_target": recall_target,
    }
    if n_buckets == "auto":
        # per-TABLE payload (pb carries the table index): n_rows /
        # n_buckets rows per directory, independent of n_tables
        n_buckets = SRP.auto_buckets(n_rows, meta)
    # vector rows have the same rows-per-directory target as one
    # table's postings, so the same formula sizes their directories
    meta["n_buckets"] = meta["n_vec_buckets"] = int(n_buckets)
    vectors = df.select(
        F.col(id_col), F.col(vec_col), l2_norm_col(vec_col).alias("nrm")
    )
    _write_rows(
        _two_roles(SRP.project(df, meta), vectors, meta, int(n_buckets)),
        path, meta, files_per_partition,
    )


def split_row_roles(
    df: DataFrame, meta: dict, new_pb, n_vec_buckets: int
) -> tuple[DataFrame, dict]:
    """The srp step of ``compact_ann_index``: posting rows re-route
    from their stored (tbl, bucket) via ``new_pb`` exactly like the
    other near-dup kinds; vector rows re-route from the id alone; and
    LSM delta rows — which carry the payload inline so an append stays
    one atomic file — SPLIT into both roles: their payload is stripped
    from the postings and lands once per id in the vector
    directories. Returns the rewritten rows and sidecar."""
    _require_normalized(meta)
    id_c, vec_c = meta["id_col"], meta["vec_col"]
    is_posting = F.col("tbl").isNotNull()
    vectors = (
        df.where(~is_posting)
        .select(id_c, vec_c, "nrm")
        # delta postings of not-yet-compacted vectors: one vector row
        # per distinct id
        .unionByName(df.where(F.col("pb") == DELTA_PB).select(id_c, vec_c, "nrm"))
        .dropDuplicates([id_c])
    )
    postings = df.where(is_posting).withColumn("pb", new_pb.cast("int"))
    return (
        _two_roles(postings, vectors, meta, n_vec_buckets),
        {**meta, "n_vec_buckets": n_vec_buckets},
    )


def _warn_if_looser_than_design(meta: dict, threshold: float, caller: str):
    """The sidecar's n_tables was sized to hit ``recall_target`` at
    ``design_threshold`` — at a LOOSER probe threshold the per-table
    collision probability r1 is lower, so recall at the new boundary
    falls below the design floor. Warn, mirroring the simhash
    max_hamming-vs-pigeonhole warning."""
    design = meta.get("design_threshold")
    if design is not None and threshold < float(design):
        import warnings

        from .similarity import srp_collision_prob

        r1 = srp_collision_prob(threshold, int(meta["n_planes"]))
        achieved = 1.0 - (1.0 - r1) ** int(meta["n_tables"])
        warnings.warn(
            f"{caller}: threshold={threshold} is looser than the "
            f"index's design_threshold={design} — the geometry "
            f"({meta['n_planes']} planes x {meta['n_tables']} tables) "
            f"reaches recall ~{achieved:.2f} at the new boundary vs "
            f"the {meta.get('recall_target', 0.9)} it was sized for; "
            "rebuild with a lower design_threshold to close the gap",
            UserWarning,
            stacklevel=4,
        )


def _srp_threshold(meta: dict, threshold: float | None, caller: str) -> float:
    """``None`` probes at the sidecar's ``design_threshold`` (the
    boundary the geometry's recall was sized for); an explicit looser
    threshold warns."""
    if threshold is None:
        if "design_threshold" not in meta:
            raise ValueError(
                f"{caller}: srp sidecar has no 'design_threshold' and "
                "no explicit threshold was given — pass one or repair "
                "the sidecar (hand-edited or foreign kind='srp' "
                "metadata?)"
            )
        return float(meta["design_threshold"])
    _warn_if_looser_than_design(meta, threshold, caller)
    return threshold


def _fetch_vectors(spark, cands, rel, pbs, droot, path, meta):
    """The srp step between candidates and scoring (normalized layout,
    module docstring): candidate pairs come from the pruned posting
    directories, and the vector payload for the verify is fetched from
    the CANDIDATES' own vector directories — the distinct candidate
    ids' ``vec pb`` values (bounded by ``n_vec_buckets`` and, for small
    probes, by the candidate count) prune that second read the same way
    the posting ``pb`` values prune the first. r11 derived those values
    from every id in the matched POSTING directories instead — a
    superset that covers essentially all vector buckets once
    ``n_rows / n_buckets`` ids per directory × matched directories ≫
    ``n_vec_buckets`` (at 10M vectors the 100-vector probe read ~the
    whole 2.6 GB vector store; probe wall 9.9 s at 1M → 38.5 s at 10M
    while the posting side stayed O(batch) — SCALE.md r11 stretch, the
    r11 verdict's #1). Candidate-driven pruning restores O(batch):
    measured 43.8 s → see SCALE.md r12 on the same 10M index, pairs
    set-equal. Delta rows (``pb = −1``) carry the payload inline (they
    may hold vectors not yet compacted into vector directories), so
    the verify coalesces inline-over-fetched."""
    _require_normalized(meta)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    v_c = side_col(vec_col, "c")
    # the SAME decision read_matched_partitions made for `rel` — shared
    # helper, so the two sites cannot drift (ADVICE r11: a drifted copy
    # here would fetch from a pruned posting-only relation and silently
    # drop every pair)
    if crossover_flat_read(pbs, SRP.dirs(meta)):
        # Big-batch regime (r11, verdict #3): `rel` was read FLAT past
        # the pruning crossover, so it ALREADY contains every vector
        # row — running the vbs pruning job (a full scan of the matched
        # postings) and then a second read of the vector directories
        # would cost two extra passes to select directories the
        # candidates cover almost entirely anyway. Fetch straight from
        # the flat relation instead: zero extra jobs, one fewer scan.
        # Measured at the sf0.1 bench geometry: probe 1.35 s → 0.94 s
        # (SCALE.md r11).
        def _is_vec_dir(e: str) -> bool:
            if not e.startswith("pb="):
                return False
            try:
                return int(e.split("=", 1)[1]) <= VEC_PB_BASE
            except ValueError:
                return False

        if not any(_is_vec_dir(e) for e in fs.listdir(droot)):
            raise RuntimeError(
                f"srp probe: normalized srp index at {path} has posting "
                "rows but no vector directories (pb <= -2) exist on "
                "disk — the index is missing its vector rows (partial "
                "copy/corruption); rebuild or re-copy it."
            )
        fetched = rel.where(F.col("tbl").isNull())
    else:
        # Small-probe regime (r12, verdict #1): vector-side partition
        # pruning driven by the CANDIDATES themselves. The lazy
        # localCheckpoint pins the bucket join so the vec-pb collect
        # below and the final pair plan share ONE execution of the
        # posting scan (without it the collect would be a second full
        # run of the join); the checkpoint is bounded — candidate pairs
        # after dedup, carrying two vectors each, ≤ batch keys × bucket
        # population. Only rows whose payload is NOT already inline
        # (NULL corpus vector) need the fetch, so they alone contribute
        # vec-pb values — bounded by n_vec_buckets, and for a small
        # probe by the candidate count itself.
        cands = cands.localCheckpoint(eager=False)
        vpb = _vec_pb_col("corpus_id", int(meta["n_vec_buckets"]))
        vbs = [
            r["vpb"]
            for r in cands.where(F.col(v_c).isNull())
            .select(vpb.alias("vpb"))
            .distinct()
            .collect()
        ]
        if not vbs:
            return cands
        vrel = read_matched_partitions(spark, droot, "pb", vbs)
        if vrel is None:
            # candidates with base postings exist (vbs derives from
            # them) but NONE of their vector directories do — a
            # partially copied or corrupted index. Silently continuing
            # would leave every candidate's corpus vector NULL, NULL
            # cosine, every pair dropped — indistinguishable from a
            # genuine no-match probe (ADVICE r10). Fail with the cause
            # named instead.
            raise RuntimeError(
                f"srp probe: normalized srp index at {path} has posting "
                f"rows but none of their vector directories (pb in "
                f"{sorted(vbs)[:8]}...) exist on disk — the index is "
                "missing its vector rows (partial copy/corruption); "
                "rebuild or re-copy it."
            )
        fetched = vrel.where(F.col("pb").isin(vbs))
    fetched = fetched.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("_v_f")
    )
    # A NULL corpus vector winning the candidate dedup is safe: an id
    # whose ONLY copy is inline (appended since the last compact) has
    # no base postings, so every row it can contribute carries the
    # payload; an id with base postings has vector rows, so this fetch
    # covers it either way.
    return (
        cands.join(fetched, "corpus_id", "left")
        .withColumn(v_c, F.coalesce(v_c, "_v_f"))
        .drop("_v_f")
    )


SRP = Family(
    kind="srp",
    payload_key="vec_col",
    project=lambda df, m: _srp_rows(
        df,
        id_col=m["id_col"],
        vec_col=m["vec_col"],
        dim=int(m["dim"]),
        n_planes=int(m["n_planes"]),
        n_tables=int(m["n_tables"]),
        seed=int(m["seed"]),
        n_buckets=int(m["n_buckets"]),
    ),
    keys=("tbl", "bucket"),
    members=lambda m: (m["vec_col"], "nrm"),
    score=lambda a, b: _cosine_with_norms(a[0], b[0], a[1], b[1]),
    score_name="cosine_sim",
    measure="cosine",
    at_most=False,
    pb=lambda nb: F.col("tbl") * nb + F.pmod(F.xxhash64(F.col("bucket")), F.lit(nb)),
    fanout_key="n_tables",
    check_threshold=_srp_threshold,
    fetch=_fetch_vectors,
)


def embedding_batch_against_index(
    spark,
    batch: DataFrame,
    path: str,
    *,
    threshold: float | None = None,
    plan_probe: dict | None = None,
) -> DataFrame:
    """Near-dup pairs between ``batch`` and the indexed corpus under
    cosine similarity — ``(batch_id, corpus_id, cosine_sim)`` with
    cosine ≥ threshold, the cross-set slice of what
    :func:`~.similarity.embedding_near_duplicate_pairs` emits over
    corpus ∪ batch at the sidecar's geometry (pinned, as a set), at
    O(batch + matched buckets) cost instead of O(corpus).
    ``threshold=None`` probes at the sidecar's ``design_threshold``
    (the boundary the geometry's recall was sized for); an explicit
    looser threshold warns (see module docstring). Same
    partition-pruned matched-directories read, bounded driver collect,
    self-pair filter, and per-pair dedup as the minhash/simhash
    probes — and the same decontamination-at-rest usage: index the
    training embeddings once, probe with the benchmark set.

    Batch-size regime (same law as the minhash probe, MEASURED in
    SCALE.md's r9 srp table): a batch of B vectors posts ``n_tables·B``
    near-uniform keys, so the matched-directory fraction per table is
    ≈ ``1 − exp(−B/n_buckets)`` — at the 1M-vector auto geometry
    (256 buckets) a 100-vector batch matched 813/2,560 dirs; at the
    100k geometry (32 buckets) the same batch matched 211/224 (pruning
    gone, probe still bounded at 6.8 s). Probe cost stays flat in
    CORPUS size either way (11.2 s at 1M vs the 969 s in-memory
    re-bucketing pass it replaces). ENFORCED (r10): past
    :data:`~.similarity.FLAT_READ_CROSSOVER` of the directories the
    probe reads the index flat instead of listing matched dirs (same
    rows, one listing pass saved) and warns; split very large batches
    or size ``n_buckets`` above the steady batch size to keep probes
    pruned.

    ``plan_probe`` is a test seam: when a dict is passed, the
    UN-checkpointed candidate frame is stored under
    ``plan_probe["candidates"]`` so plan gates can assert the posting
    scan's ``PartitionFilters`` — the candidate-driven fetch pins the
    bucket join behind a lazy ``localCheckpoint`` (one execution
    shared by the vec-pb collect and the pair plan), which hides that
    scan from the FINAL plan."""
    return batch_against_index(
        spark, batch, path, threshold=threshold, kind="srp",
        caller="embedding_batch_against_index", plan_probe=plan_probe,
    )
