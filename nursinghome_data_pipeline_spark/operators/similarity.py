"""Similarity search over embedding columns (``array<float>``).

Baseline: exact brute-force cosine top-k — one scan, broadcast query,
per-partition heaps (Spark's TakeOrderedAndProject), no full sort.
Scale path: sign-random-projection LSH bucketing so candidate
generation touches only matching buckets instead of every vector.

All scoring uses the sequential-order double arithmetic from
``functions/vectors.py`` so results are reproducible across runs,
partitionings, and the DuckDB oracle.
"""

from __future__ import annotations

import threading

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import dot_product_col, l2_norm_col


def lsh_planes(n_planes: int, dim: int, seed: int = 42):
    """The canonical seeded hyperplane draw for sign-projection LSH.

    Single owner of the (generator, draw shape, draw order) triple:
    both the Spark literal embedding (:func:`random_projection_buckets`)
    and the registry's DuckDB oracle twin (``_lsh_bucket_sql``) embed
    THESE float64s, so bucket-id parity across engines is guaranteed by
    construction rather than by two copies staying in sync."""
    import numpy as np

    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _cosine(a: Column | str, b: Column | str) -> Column:
    # num/(sqrt(aa)*sqrt(bb)) in exactly this operation order — mirrored
    # verbatim in the DuckDB oracle (registry._cosine_sql). Delegates to
    # the shared zero-norm-guarded helper: an all-zero embedding (a
    # padding/missing row) must score NULL — 0/0 would be NaN, which
    # Spark orders ABOVE every real number, so the zero vector would win
    # every top-k and pass every `>= threshold` near-dup filter.
    from ..functions.vectors import cosine_similarity_col

    return cosine_similarity_col(a, b)


def _cosine_with_norms(
    a: Column | str, b: Column | str, na: Column, nb: Column
) -> Column:
    """Cosine from PRE-FOLDED norm columns — bit-identical to
    ``_cosine(a, b)`` when ``na``/``nb`` are
    ``F.sqrt(dot_product_col(v, v))`` of the same vectors (the
    denominator multiplies the same two doubles in the same order;
    only WHERE the norm folds evaluate moves). The point: in a pair
    join / anchor broadcast the naive form folds each vector's
    self-dot once per PAIR — O(pairs) interpreted 64-element folds —
    while the norm is a per-ROW quantity. Callers fold it once per
    member (before the collect/broadcast/join) and pass the column
    through, leaving one a·b fold per pair. Pass ``na`` = the LEFT
    vector's norm to preserve the ``sqrt(aa)*sqrt(bb)`` operand
    order. Zero-norm guard preserved: den == 0 → NULL, so all-zero
    vectors still never win a top-k or pass a threshold filter."""
    from ..functions.vectors import dot_product_col

    den = na * nb
    num = dot_product_col(a, b)
    return F.when(den == 0.0, F.lit(None).cast("double")).otherwise(
        num / den
    )


def _cosine_lit(a: Column | str, vals) -> Column:
    """Cosine against a PYTHON-LITERAL vector — bit-identical to
    ``_cosine(a, F.array(*map(F.lit, vals)))``, ~2.5× cheaper measured.

    The higher-order-function folds (``zip_with`` + ``aggregate``) are
    interpreted per element, so each cosine against a literal pays
    THREE 64-element folds per row: a·b, a·a, and — pointlessly — the
    literal's own b·b. Here b·b folds driver-side with the SAME
    sequential left-to-right double arithmetic as ``dot_product_col``
    (every step an IEEE-754 round-to-nearest mul/add in both CPython
    and the JVM), and ``math.sqrt`` / ``Math.sqrt`` are both
    correctly-rounded, so ``F.lit(math.sqrt(bb))`` is the very double
    ``F.sqrt(dot_product_col(b, b))`` evaluates to — same trick as
    ``clustering.centroid_argmin_col``'s dot(c,c) literal, same
    proof obligation, and verified empirically (512k × 16-seed
    assignment: ``exceptAll`` == 0 rows vs the three-fold form; DuckDB
    oracles unchanged — they compute the same correctly-rounded
    value from the same literal array). The a·a fold stays engine-side
    (it varies per row) and is shared across seeds by subexpression
    reuse when the caller evaluates many ``_cosine_lit`` against one
    row, which is what cuts 16-seed assignment from 48 folds/row to
    17."""
    import math

    from ..functions.vectors import dot_product_col

    fv = [float(v) for v in vals]
    bb = 0.0
    for v in fv:
        bb = bb + v * v
    # one array-literal py4j call, not dim F.lit calls under a
    # CreateArray — same values (and the same construction-cost
    # pathology lsh_bucket_col measured at 5.7 s per 77 folds; an
    # ivf_cell_col over 16 seeds builds 16 of these per call)
    num = dot_product_col(a, F.lit(fv))
    den = F.sqrt(dot_product_col(a, a)) * F.lit(math.sqrt(bb))
    return F.when(den == 0.0, F.lit(None).cast("double")).otherwise(
        num / den
    )


def knn_brute_force(
    candidates: DataFrame,
    query: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k by cosine similarity against a 1-row query DataFrame.

    ``query`` must have a single column ``query_embedding``; it is
    broadcast so the scan side never shuffles. Deterministic tiebreak on
    the id column. The query's norm folds ONCE on the broadcast side
    (:func:`_cosine_with_norms`) — the candidate side pays two folds
    per row (a·b, a·a) instead of three.
    """
    qdf = query.withColumn("__qn", l2_norm_col("query_embedding"))
    scored = candidates.crossJoin(F.broadcast(qdf)).select(
        id_col,
        *extra_cols,
        _cosine_with_norms(
            vec_col, "query_embedding", l2_norm_col(vec_col), qdf["__qn"]
        ).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def random_projection_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Add a sign-random-projection LSH bucket id column (``bucket``).

    Hyperplanes are generated deterministically on the driver (seeded
    numpy) and embedded as literals, so the same bucketing reproduces on
    any cluster. 2^n_planes buckets; near vectors collide with high
    probability. ANN query = compute the query's bucket, scan only that
    bucket (+ optional neighboring buckets by Hamming distance) — at
    100 TB this prunes the scan by ~2^n_planes with bucket-partitioned
    storage.
    """
    return df.withColumn(
        "bucket", lsh_bucket_col(vec_col, dim=dim, n_planes=n_planes, seed=seed)
    )


def lsh_bucket_col(
    vec_col: str, *, dim: int, n_planes: int, seed: int = 42
) -> Column:
    """The sign-projection bucket id as a bare column expression —
    single owner of the literal-planes fold, shared by
    :func:`random_projection_buckets`, the multi-table path in
    :func:`embedding_near_duplicate_pairs`, and the at-rest srp index
    (``embedding_index._srp_rows``).

    Built as ONE ``F.expr`` SQL parse, not per-plane Column DSL calls:
    the Catalyst tree is identical (same zip_with/aggregate/CASE
    nodes, plane values embedded as exact ``repr`` double literals —
    bit-equality across geometries is pinned by the recall batteries
    and ``tests/test_srp_properties.py``'s independent reference), but
    construction cost collapses from one py4j round-trip per
    sub-expression to one parse. Measured (r9, srp probe profile): a
    7-table × 11-plane bucket projection cost **5.7 s to CONSTRUCT**
    through the DSL — the dominant term of the 100-vector index
    probe's wall, dwarfing the 1.2 s execution — vs **0.01 s** as SQL
    text. Earlier rejected shapes, measured at the same scale: a
    fused struct-accumulator fold (InternalRow per element per row)
    1.9× worse at runtime; fully unrolled getItem·literal chains 4.6×
    worse at plan time.

    Because the column name is interpolated into SQL text, names
    containing a backtick are rejected (a backtick would terminate the
    quoting and corrupt — or inject into — the parsed expression).
    ``n_planes == 0`` returns a literal 0 bucket (everything in one
    bucket) rather than emitting an unparseable dangling ``+``."""
    if "`" in vec_col:
        raise ValueError(
            "lsh_bucket_col: vec_col may not contain a backtick "
            f"(got {vec_col!r}); the name is embedded in SQL text"
        )
    if n_planes == 0:
        return F.lit(0).cast("long")
    planes = lsh_planes(n_planes, dim, seed)
    terms = []
    for i in range(n_planes):
        # repr() is the shortest round-trip-exact form of an IEEE
        # double, so the parsed literal is bit-identical to F.lit
        arr = ", ".join(f"{float(v)!r}D" for v in planes[i])
        proj = (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i}L ELSE 0L END)")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def lsh_bucket_structs_col(
    vec_col: str,
    *,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    tbl_alias: str = "tbl",
) -> Column:
    """ALL tables' ``(tbl, bucket)`` structs as ONE array expression —
    the multi-table fan-out's bucket math collapsed into a single
    higher-order-function tree over one parsed hyperplane-matrix
    literal (r13, r12 verdict #3).

    The former shape — ``array(struct(j, lsh_bucket_col(seed+j)) for
    j)`` — built ``n_tables`` independent expression trees, each
    ``n_planes`` aggregate/zip_with folds plus a CASE-sum chain. At
    the 10M-probe geometry (15 tables × 18 planes × 64 dims) that tree
    dominated the probe's fixed cost: measured on this box (warm JVM,
    2000-row exec), per-table-exprs construct (build+analyze) 1.7-2.9 s
    and noop-exec 0.6-0.9 s vs **0.1 s build + ~1.1 s analyze and
    0.27 s exec** for this form — the plane values parse once as one
    ``array(array(array(...)))`` literal (the same repr-exact doubles),
    and one ``transform × zip_with × aggregate`` tree walks it.
    (A nested ``F.lit`` was measured 10-14 s to BUILD — PySpark
    recurses element-wise through py4j — and a 3-D numpy literal is
    unsupported; the parsed text is the fast path.)

    Bit-equality with the per-table form (exceptAll == 0 both ways,
    pinned by ``tests/test_srp_properties.py``): identical plane
    literals (repr round-trip), identical sequential zip_with/aggregate
    dot fold, identical ``>= 0`` sign rule and ``2^i`` weights summed
    left-to-right as longs — so indexes built under either expression
    probe identically under the other.

    ``n_planes == 0`` keeps :func:`lsh_bucket_col`'s contract (bucket
    0 for every table). Like that function, the plane values live in
    SQL text; ``vec_col`` does NOT (it resolves via ``F.col``), so any
    column name is safe here.
    """
    if n_planes == 0:
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias(tbl_alias),
                    F.lit(0).cast("long").alias("bucket"),
                )
                for j in range(n_tables)
            ]
        )
    p3 = [lsh_planes(n_planes, dim, seed + j) for j in range(n_tables)]
    lit3 = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array("
                + ", ".join(f"{float(v)!r}D" for v in plane)
                + ")"
                for plane in tp
            )
            + ")"
            for tp in p3
        )
        + ")"
    )
    weights = F.lit([1 << i for i in range(n_planes)]).cast("array<bigint>")
    v = F.col(vec_col)

    def dot(plane: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                v, plane, lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )

    def bucket(tp: Column) -> Column:
        terms = F.zip_with(
            tp,
            weights,
            lambda plane, w: F.when(dot(plane) >= 0, w).otherwise(
                F.lit(0).cast("long")
            ),
        )
        return F.aggregate(
            terms, F.lit(0).cast("long"), lambda acc, val: acc + val
        )

    return F.transform(
        lit3,
        lambda tp, j: F.struct(
            j.alias(tbl_alias), bucket(tp).alias("bucket")
        ),
    )


def auto_lsh_planes(
    n_rows: int, *, target_bucket_pop: int = 64, lo: int = 4, hi: int = 24
) -> int:
    """Corpus-size-adaptive plane count: ``ceil(log2(N / target_pop))``.

    The failure mode this sizes away (measured, SCALE.md): a FIXED
    ``n_planes`` means 2^n_planes buckets regardless of corpus size, so
    bucket population grows ∝ N and intra-bucket candidate pairs grow
    ∝ N² — the embedding near-dup sf-curve read exponent 1.33 at 30×
    with ``n_planes=8``. Holding the expected population at
    ``target_bucket_pop`` instead (one extra plane per doubling) keeps
    candidate pairs ≈ N·pop/2, i.e. linear. Clamped to [lo, hi]: below
    2^lo buckets the self-join is all-pairs anyway; 2^hi buckets is
    ~16.7M — beyond that, size by hand. Pure driver-side arithmetic so
    the auto choice is pin-testable."""
    import math

    if n_rows <= 0:
        return lo
    return max(
        lo,
        min(hi, math.ceil(math.log2(max(1.0, n_rows / target_bucket_pop)))),
    )


def srp_collision_prob(threshold: float, n_planes: int) -> float:
    """P[all ``n_planes`` sign bits agree] for a pair at exactly
    ``cosine = threshold``: ``(1 - acos(threshold)/π) ** n_planes``
    (Goemans–Williamson / Charikar STOC'02 sign-projection identity).
    This is the per-table recall FLOOR over pairs ≥ threshold — pairs
    more similar than the threshold collide more often."""
    import math

    theta = math.acos(max(-1.0, min(1.0, threshold)))
    return (1.0 - theta / math.pi) ** n_planes


def auto_lsh_tables(
    n_planes: int,
    threshold: float,
    *,
    recall_target: float = 0.9,
    hi: int = 32,
) -> int:
    """OR-amplification table count hitting ``recall_target`` at the
    threshold boundary: smallest ``t`` with ``1-(1-r1)^t ≥ target``
    where ``r1 = srp_collision_prob(threshold, n_planes)``. Capped at
    ``hi`` — when the cap binds, the achievable recall is
    ``1-(1-r1)^hi`` (the caller sees the honest number via
    :func:`srp_collision_prob`). Pure arithmetic, pin-testable."""
    import math

    r1 = srp_collision_prob(threshold, n_planes)
    if r1 >= recall_target:
        return 1
    if r1 <= 0.0:
        return hi
    t = math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - r1))
    return max(1, min(hi, t))


def embedding_near_duplicate_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.95,
    n_planes: int | str = 8,
    n_tables: int | str = 1,
    recall_target: float = 0.9,
    target_bucket_pop: int = 64,
    n_rows: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucket self-join.

    Vectors in the same sign-projection bucket are scored exactly;
    pairs with cosine >= threshold survive. The self-join shuffles on
    the bucket id (2^n_planes uniform buckets), never all-pairs.

    ``n_planes="auto"`` sizes the bucket space from the corpus size
    (:func:`auto_lsh_planes`: one plane per doubling past
    ``target_bucket_pop``), keeping candidate pairs linear in N instead
    of the fixed-bucket-space N² ceiling. Needs the row count — pass
    ``n_rows`` if known, else one ``df.count()`` job is spent (cheap:
    count-star over parquet reads only footers/metadata columns).

    Recall: a pair at exactly ``threshold`` survives one table with
    probability ``(1-θ/π)^n_planes`` (:func:`srp_collision_prob`) —
    auto-growing ``n_planes`` therefore LOWERS single-table recall as
    the corpus grows. ``n_tables`` is the standard OR-construction
    counterweight (Indyk–Motwani; the MinHash-bands analogue): ``t``
    independent plane sets (seeds ``seed..seed+t-1``), a pair survives
    if ANY table buckets it together — recall ``1-(1-r1)^t``, cost one
    shuffle of ``t·N`` rows and ≈``t·N·pop/2`` exactly-verified
    candidates. ``n_tables="auto"`` picks the smallest ``t`` hitting
    ``recall_target`` at the boundary. The LSH triangle is fundamental
    (work ∝ N^(1+ρ) if recall AND threshold are held while N grows) —
    measured against a planted ground truth in
    ``tests/test_embedding_recall.py`` and tabulated in SCALE.md.

    ``n_tables=1`` (default) is bit-identical to the historical
    single-table plan — the frozen registry oracle twin pins that path.
    Multi-table computes all ``t`` bucket ids in ONE projection over a
    single scan, explodes to (table, bucket) keys, and pairs within
    them; cross-table duplicate candidates collapse in the existing
    pair-level ``.distinct()`` (identical (id_a, id_b, cosine) rows —
    same deterministic expression on the same inputs).
    """
    from .dedup import _intra_bucket_pairs

    if n_planes == "auto" or n_tables == "auto":
        if n_rows is None:
            n_rows = df.count()
    if n_planes == "auto":
        n_planes = auto_lsh_planes(n_rows, target_bucket_pop=target_bucket_pop)
    n_planes = int(n_planes)
    if n_tables == "auto":
        n_tables = auto_lsh_tables(
            n_planes, threshold, recall_target=recall_target
        )
    n_tables = int(n_tables)

    # norms fold once per MEMBER here, before collect_list — inside
    # make_pair they'd fold once per PAIR (O(m²) per bucket)
    if n_tables == 1:
        bucketed = random_projection_buckets(
            df, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed
        ).select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm_col(vec_col).alias("__nrm"),
            F.col("bucket"),
        )
        keys = ["bucket"]
    else:
        # one scan computes every table's bucket id, then a generator
        # fans each row out to its t (table, bucket) keys — the
        # upstream scan/norm is shared across tables, unlike a
        # t-way union of per-table projections. All tables' structs
        # come from ONE HOF expression over a single parsed plane
        # literal (r13, bit-equal to the per-table fan-out — see
        # lsh_bucket_structs_col), so this stays in lockstep with the
        # at-rest index's _srp_rows routing.
        bucket_structs = lsh_bucket_structs_col(
            vec_col,
            dim=dim,
            n_planes=n_planes,
            n_tables=n_tables,
            seed=seed,
            tbl_alias="__tbl",
        )
        # generator and struct-field access cannot share one select —
        # explode first, then project the fields (withColumn seam)
        bucketed = (
            df.select(
                F.col(id_col),
                F.col(vec_col),
                l2_norm_col(vec_col).alias("__nrm"),
                F.explode(bucket_structs).alias("__tb"),
            )
            .withColumn("__tbl", F.col("__tb.__tbl"))
            .withColumn("bucket", F.col("__tb.bucket"))
            .drop("__tb")
        )
        keys = ["__tbl", "bucket"]
    pairs = _intra_bucket_pairs(
        bucketed,
        keys,
        [id_col, vec_col, "__nrm"],
        lambda x, y: F.struct(
            x[id_col].alias("id_a"),
            y[id_col].alias("id_b"),
            _cosine_with_norms(
                x[vec_col], y[vec_col], x["__nrm"], y["__nrm"]
            ).alias("cosine_sim"),
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    return pairs.where(F.col("cosine_sim") >= threshold)


def ivf_train_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample_rows: int = 10_000,
    iters: int = 5,
    seed: int = 42,
):
    """Driver-side Lloyd k-means on a bounded, deterministic sample.

    IVF training is the one legitimately driver-side step: the sample
    is capped (``sample_rows`` × dim doubles — a few MB regardless of
    table size) and taken by ``ORDER BY id LIMIT n`` so the index is
    reproducible across partition layouts. Returns a (n_centroids, dim)
    numpy array of L2-normalized centroids.
    """
    import numpy as np

    sample = np.stack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in df.select(vec_col).orderBy(id_col).limit(sample_rows).collect()
        ]
    )
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    norm = lambda m: m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    cent = norm(cent)
    sn = norm(sample)
    for _ in range(iters):
        assign = np.argmax(sn @ cent.T, axis=1)
        for c in range(n_centroids):
            members = sn[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent = norm(cent)
    return cent


def ivf_assign(
    df: DataFrame, centroids, *, vec_col: str = "embedding", out_col: str = "cell"
) -> DataFrame:
    """Assign each vector to its nearest (cosine) centroid cell.

    Vectorized pandas UDF: each Arrow batch becomes one numpy matmul
    (batch × dim) @ (dim × cells) — the right tool for a dense
    all-centroids comparison, unlike per-element HOF expressions.
    Map-only at any scale; persisting the result partitioned by
    ``cell`` gives scan-pruned ANN queries.
    """
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cent.T, axis=1))

    return df.withColumn(out_col, _cell(F.col(vec_col)))


def knn_ivf(
    candidates: DataFrame,
    query_vec,
    centroids,
    *,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` cells whose
    centroids are nearest the query.

    Probing ALL cells is exactly brute force (pinned by test); fewer
    probes trade recall for a ~cells/n_probe scan reduction — more with
    cell-partitioned storage, where pruning happens at the file level.
    """
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(c) for c in np.argsort(-(cent @ qn))[:n_probe]]
    assigned = ivf_assign(candidates, cent, vec_col=vec_col)
    return (
        assigned.where(F.col("cell").isin(probes))
        .select(
            id_col,
            _cosine_lit(F.col(vec_col), [float(v) for v in q]).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def fixed_ivf_seeds(
    df: DataFrame,
    *,
    n_seeds: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic UNTRAINED coarse-quantizer seeds: the ``n_seeds``
    vectors with the smallest ``md5(id)`` (hash order — a uniform,
    reproducible sample with no RNG and no training pass).

    The driver-side collect is bounded: ``n_seeds × dim`` floats
    regardless of table size (same contract as the IVF training
    sample). Trained centroids (``ivf_train_centroids``) give tighter
    cells; hash-chosen seeds give a quantizer every engine can
    reproduce exactly — which is what makes the full IVF plan
    oracle-checkable end to end.
    """
    rows = (
        df.orderBy(F.md5(F.col(id_col).cast("string").cast("binary")), id_col)
        .limit(n_seeds)
        .select(id_col, vec_col)
        .collect()
    )
    return [(int(r[0]), [float(v) for v in r[1]]) for r in rows]


def ivf_probe_cells(
    seeds: list[tuple[int, list[float]]], query_vec, *, n_probe: int
) -> list[int]:
    """The ``n_probe`` seed ids nearest (cosine) the query vector.

    Driver-side over the bounded seed list, with the same sequential
    left-to-right double arithmetic as the engine expressions /
    ``list_sum(list_transform(...))`` oracles — bit-identical probe
    picks on every engine. Ties break to the smaller seed id."""
    probe_scores = []
    for sid, svec in seeds:
        num = 0.0
        aa = 0.0
        bb = 0.0
        for x, y in zip(query_vec, svec):
            num = num + float(x) * float(y)
            aa = aa + float(x) * float(x)
            bb = bb + float(y) * float(y)
        if aa == 0.0 or bb == 0.0:
            # engine cosine (_cosine/_cosine_lit) yields NULL for a
            # zero-norm side; the driver-side twin scores it -inf so
            # the seed sorts last instead of raising ZeroDivisionError
            probe_scores.append((float("-inf"), sid))
        else:
            probe_scores.append((num / (aa**0.5 * bb**0.5), sid))
    return [
        sid
        for _, sid in sorted(probe_scores, key=lambda t: (-t[0], t[1]))[
            :n_probe
        ]
    ]


def ivf_cell_col(
    seeds: list[tuple[int, list[float]]], vec_col: str = "embedding"
) -> Column:
    """cell = argmax cosine(vector, seed), ties to the smallest seed
    id — ONE map-only projection (``array_max`` over a struct array of
    literal seed vectors): no join, no shuffle, at any scale."""

    cell_choices = F.array(
        *[
            F.struct(
                _cosine_lit(F.col(vec_col), svec).alias("cos"),
                F.lit(-sid).cast("long").alias("negseed"),
            )
            for sid, svec in seeds
        ]
    )
    return (-F.array_max(cell_choices)["negseed"]).cast("bigint")


def knn_ivf_fixed(
    candidates: DataFrame,
    query_vec,
    seeds: list[tuple[int, list[float]]],
    *,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over the fixed (hash-chosen) coarse quantizer.

    Same three-phase plan as trained IVF — assign, probe-prune, exact
    re-rank — but every phase is exactly reproducible by a SQL oracle:

    - **assign**: cell = argmax cosine(vector, seed) over the literal
      seed arrays, ties to the smallest seed id. A single map-only
      projection (``array_max`` over a struct array) — no join, no
      shuffle, whole-stage-codegen'd.
    - **probe**: the ``n_probe`` seeds nearest the query, computed
      driver-side over the bounded seed list with the same
      sequential-order double arithmetic as the engine expressions.
    - **re-rank**: exact cosine against the query for rows whose cell
      is in the probe set (a literal IN filter — with cell-partitioned
      storage this prunes at the file level), then TakeOrdered top-k.
    """
    probes = ivf_probe_cells(seeds, query_vec, n_probe=n_probe)
    assigned = candidates.withColumn("cell", ivf_cell_col(seeds, vec_col))
    return (
        assigned.where(F.col("cell").isin(probes))
        .select(
            id_col,
            "cell",
            _cosine_lit(F.col(vec_col), query_vec).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


#: Sidecar filename for at-rest ANN index metadata. The leading
#: underscore keeps it invisible to Spark's parquet discovery (the
#: `_SUCCESS` convention), so `spark.read.parquet(path)` is unaffected.
ANN_META_FILE = "_ann_meta.json"

#: Lockfile dropped by :func:`compact_ann_index` for the duration of a
#: compaction. :func:`append_to_ann_index` refuses to write while it
#: exists — an append that lands between the compactor's read and its
#: generation flip would be silently dropped with the GC'd old
#: generation.
ANN_COMPACT_LOCK = "_compacting.lock"

#: Generation-dir prefix (r12). A compaction writes its rewritten tree
#: to ``<index>/_gen-NNNNNN/`` and commits it by CREATING the empty
#: pointer file ``<index>/_gen-NNNNNN.ptr`` — the generation number is
#: the ptr's NAME, so the flip is one atomic file creation on every
#: store (local create, HDFS create, S3 PUT), replacing the r5-r11
#: demote/promote directory renames that were copy-based (hence
#: non-atomic AND O(data)) on object stores. The leading underscore
#: keeps generation dirs invisible to Spark's parquet discovery, so a
#: LEGACY root-layout index (data dirs at the index root — every fresh
#: build) can be read flat while its first generational compaction is
#: writing inside it. Readers resolve the active data root as the
#: max-numbered pointer's dir, else the root itself; old generations
#: are GC'd after the flip, and a crash at ANY point leaves either the
#: old generation fully active (ptr never created; the orphan tree is
#: GC'd by the next compaction) or the new one fully active (ptr
#: created; leftover old gen/ptr GC'd by the next compaction).
GEN_PREFIX = "_gen-"
GEN_PTR_SUFFIX = ".ptr"


def _active_gen(path: str) -> str | None:
    """Name (``_gen-NNNNNN``) of the active generation, or None for a
    legacy root-layout index. One directory listing; zero-padded
    numbers make lexicographic max the numeric max."""
    from .. import fs

    ptrs = fs.glob_names(path, f"{GEN_PREFIX}*{GEN_PTR_SUFFIX}")
    if not ptrs:
        return None
    return max(ptrs)[: -len(GEN_PTR_SUFFIX)]


def active_data_root(path: str) -> str:
    """The directory holding the index's DATA (partition dirs, LSM
    delta, per-generation sidecar): the active generation dir after a
    generational compaction, else the index root. Public because
    out-of-API readers (``spark.read.parquet`` on the raw tree, file
    counting, scripts) must resolve through it once an index has been
    compacted."""
    from .. import fs

    g = _active_gen(path)
    return fs.join(path, g) if g else path


#: r5-r10 had a ``_require_local_path`` gate here rejecting every
#: ``scheme://`` URI because the sidecar/lock protocol used local
#: ``open()``/``os.rename``. r11 routes the whole lifecycle through
#: :mod:`..fs` (local ``os`` fast path for plain paths, the session's
#: Hadoop FileSystem client for URIs), so the gate is replaced by
#: ``fs.check_fs`` — a reachability probe that still fails fast, but
#: only for schemes whose connector genuinely isn't configured.


def _require_kind(meta: dict, expected: str, probe: str) -> None:
    """A probe pointed at the wrong index kind must fail with the
    mismatch spelled out, not a bare KeyError from a missing
    seeds/dim field."""
    kind = meta.get("kind")
    if kind != expected:
        other = {
            "ivf": "knn_ivf_partitioned",
            "lsh": "knn_lsh_partitioned",
            "minhash": "dedup_index.dedup_batch_against_index",
            "simhash": "dedup_index.simhash_batch_against_index",
            "srp": "embedding_index.embedding_batch_against_index",
        }
        hint = other.get(kind)
        raise ValueError(
            f"{probe} expects a {expected!r} index but the sidecar "
            f"says kind={kind!r}"
            + (f" — use {hint} for this index" if hint else "")
        )


def _write_ann_meta(path: str, meta: dict) -> None:
    """Persist index parameters next to the data so probes are
    self-describing — a reader needs only the path, not a side-channel
    of seeds/planes. Routed through :mod:`..fs`, so the sidecar lands
    on whatever filesystem owns ``path`` (local, file://, hdfs://,
    s3a://) — always the same one Spark wrote the parquet to."""
    import json

    from .. import fs

    fs.write_text(fs.join(path, ANN_META_FILE), json.dumps(meta))


def load_ann_meta(path: str) -> dict:
    """Read the index's ACTIVE sidecar: the one inside the active
    generation dir (written there before the generation's pointer
    flip, so geometry and data commit atomically together — a
    regeometry can never leave new buckets live under an old
    ``n_buckets``), else the root sidecar of a legacy root-layout
    index."""
    return _load_active(path)[0]


def _load_active(path: str) -> tuple[dict, str]:
    """(meta, data_root) resolved in ONE generation lookup — the entry
    point every probe/append/compact path uses, so the sidecar it
    routes with and the tree it reads always come from the same
    generation."""
    import json

    from .. import fs

    droot = active_data_root(path)
    return json.loads(fs.read_text(fs.join(droot, ANN_META_FILE))), droot


#: matched-directory fraction above which a probe reads the index
#: FLAT instead of listing each matched directory. The pruning payoff
#: follows ``matched ≈ 1 − exp(−B/n_buckets)`` (MEASURED, SCALE.md
#: r9 --bigprobe): past ~half the directories the explicit per-dir
#: listing enumerates nearly the whole index anyway, so the flat root
#: read is the same bytes with one listing pass saved. r9 verdict #3
#: promoted this from docstring guidance to an enforced switch.
FLAT_READ_CROSSOVER = 0.5

#: index paths that already emitted the flat-read crossover warning —
#: steady-state small-geometry probes warn once, not per micro-batch
#: (ADVICE r10).
_FLAT_READ_WARNED: set[str] = set()

#: serializes the parallel-discovery-threshold save/restore window in
#: :func:`_read_many_dirs` — see its thread-exclusion note (r13).
_DISCOVERY_CONF_LOCK = threading.Lock()


def crossover_flat_read(values, total_partitions: int | None) -> bool:
    """True when a probe over these partition values is past
    :data:`FLAT_READ_CROSSOVER` and :func:`read_matched_partitions`
    will serve it with a FLAT root read instead of matched-directory
    listing. This is THE flat-read decision — the probe-side fetch
    regimes in ``embedding_index.py`` branch on the same call, so the
    threshold, the reserved-partition exclusion (negative values never
    arm the crossover), and the ``total_partitions`` handling can
    never drift between the reader and its callers (ADVICE r11: two
    hand-inlined copies of this expression drifting apart would make
    the big-batch fetch read a pruned posting-only relation and
    silently drop every pair)."""
    if total_partitions is None or total_partitions <= 0:
        return False
    n = sum(
        1
        for v in set(values)
        if not (isinstance(v, int) and v < 0)
    )
    return n > FLAT_READ_CROSSOVER * total_partitions


def read_matched_partitions(
    spark, path: str, part_col: str, values, *, total_partitions: int | None = None
):
    """Scan ONLY the probed partition directories of an at-rest index.

    ``spark.read.parquet(root).where(part.isin(...))`` prunes the SCAN
    but not the DISCOVERY: above ~32 directories Spark launches a
    listing job over every partition directory before the filter ever
    applies — measured as 7.4 s of an 8.1 s probe at a 4 096-directory
    dedup-index geometry (SCALE.md r7), and the same tax hits
    IVF/LSH probes as their cell/bucket counts grow. Listing the
    matched directories explicitly (``basePath`` recovers the
    partition column) makes discovery cost ∝ probes, not geometry.
    The caller must still apply its ``isin`` filter — it lands in
    ``PartitionFilters`` (plan-gated in tests) and guards against a
    stray directory. Returns None when no probed directory exists on
    disk (empty index or all-miss probe) — callers fall back to the
    root read, which is then trivially empty.

    When the caller passes the geometry's ``total_partitions`` and the
    probe would match more than :data:`FLAT_READ_CROSSOVER` of them
    (the large-batch regime, ``B ≳ n_buckets``), the matched-dirs
    listing is SKIPPED and the whole index is read flat — identical
    rows (the caller's ``isin`` still applies), one listing pass
    cheaper, and a warning names the regime so operators know to split
    the batch or rebuild with more buckets if this is their steady
    state. Reserved partitions (negative values — the LSM delta
    ``pb=-1`` and the normalized-srp vector directories ``pb<=-2``)
    do NOT count toward the crossover: every probe touches them
    regardless of batch size, so counting them made small-geometry
    indexes (n_buckets of a few units) trip the flat read on virtually
    every probe (ADVICE r10). The warning fires once per index path
    per process, not per probe/micro-batch."""
    from .. import fs

    vals = sorted(set(values))
    if crossover_flat_read(vals, total_partitions):
        # only genuine bucket matches armed the crossover — see
        # crossover_flat_read (the single shared decision)
        crossover_n = sum(
            1 for v in vals if not (isinstance(v, int) and v < 0)
        )
        try:
            has_any = any(
                e.startswith(f"{part_col}=") for e in fs.listdir(path)
            )
        except OSError:
            has_any = False
        if not has_any:
            return None
        if path not in _FLAT_READ_WARNED:
            import warnings

            _FLAT_READ_WARNED.add(path)
            warnings.warn(
                f"index probe at {path}: batch matches {crossover_n} of "
                f"~{total_partitions} partition directories (> "
                f"{FLAT_READ_CROSSOVER:.0%}) — past the pruning crossover; "
                "reading the index flat (same rows, one listing pass "
                "saved). If this is your steady batch size, split the "
                "batch or rebuild the index with n_buckets above it. "
                "(Warned once per index path.)",
                UserWarning,
                stacklevel=2,
            )
        return spark.read.option("basePath", path).parquet(path)
    matched = [
        d
        for v in vals
        for d in (fs.join(path, f"{part_col}={v}"),)
        if fs.is_dir(d)
    ]
    if not matched:
        return None
    return _read_many_dirs(spark, path, matched)


def _read_many_dirs(spark, base_path: str, dirs: list[str]):
    """Construct the multi-directory read without paying Spark's
    parallel-discovery job twice over.

    Above ``parallelPartitionDiscovery.threshold`` (32) paths, Spark
    lists AND schema-infers via driver jobs whose per-path task
    overhead dwarfs the actual stat calls on a local filesystem —
    MEASURED on the 10M-vector srp index (SCALE.md r12): constructing
    a 4,096-directory read cost 16.7 s as jobs vs **1.55 s** with
    sequential driver listing + an explicit schema (the listing itself
    is 4,096 ``listStatus`` calls ≈ 40 ms locally). So for plain local
    paths: resolve the schema from ONE matched directory (a single
    footer), then list sequentially by raising the threshold for the
    duration of the construct. ``scheme://`` URIs keep the parallel
    job — against S3 each LIST is a ~30-50 ms RPC and the driver
    serializing 4,096 of them would cost minutes; only the schema
    shortcut applies there.

    Thread-exclusion note (r12 verdict #8): the threshold is a
    session-level SQL conf consulted from the active ``SQLConf`` at
    ``InMemoryFileIndex`` construction — there is NO per-reader
    ``option()`` for it in the public API (reader options are data-
    source options; this one is not), so a save/restore window is the
    only way to scope it. ``_DISCOVERY_CONF_LOCK`` serializes the
    window across THIS module's constructions — without it two
    concurrent constructions could interleave save/restore and leave
    the session threshold permanently raised (A saves default, B
    saves A's raised value, A restores the default, B "restores" the
    raised value). A concurrent read constructed on an unrelated
    driver thread inside the window still lists sequentially —
    harmless for correctness, momentarily slower for it on remote
    stores; callers that construct probes from many driver threads
    against URI stores should funnel them through one thread."""
    from .. import fs

    schema = spark.read.option("basePath", base_path).parquet(dirs[0]).schema
    reader = spark.read.schema(schema).option("basePath", base_path)
    if fs.is_uri(base_path) or len(dirs) <= 32:
        return reader.parquet(*dirs)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with _DISCOVERY_CONF_LOCK:
        saved = spark.conf.get(key)
        try:
            spark.conf.set(key, str(max(len(dirs) + 1, int(saved))))
            return reader.parquet(*dirs)
        finally:
            spark.conf.set(key, saved)


def _compact_for_write(
    df: DataFrame, partition_col: str, files_per_partition: int | None, id_col: str
) -> DataFrame:
    """Optional write-side compaction: shuffle rows so each partition
    directory is produced by at most ``files_per_partition`` writer
    tasks (salted hash of the id within the partition value). Without
    it the write is shuffle-free but every input task may emit a file
    into every directory — at 1000 executors that is 1000 files per
    cell, a metadata tax on every future probe. One shuffle at build
    time, paid once, bounds files-per-directory forever."""
    if files_per_partition is None:
        return df
    return df.repartition(
        F.col(partition_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_partition)),
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    seeds: list[tuple[int, list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_partition: int | None = None,
) -> None:
    """Persist vectors as a parquet IVF index PARTITIONED BY cell.

    This is the read-path payoff the in-memory IVF plans only
    approximate: with one directory per coarse-quantizer cell, a probe
    query's ``cell IN (...)`` filter becomes a PARTITION filter — Spark
    plans the scan over only the probed directories, so at 100 TB a
    4-of-64-cell probe READS ~1/16th of the bytes (file-level pruning,
    before any row is decoded) instead of scanning everything and
    discarding 15/16 post-filter. Assignment is the same map-only
    :func:`ivf_cell_col` projection the query path uses, so index and
    query always agree on cell routing. The shuffle-free write keeps
    each input partition writing its own per-cell files; pass
    ``files_per_partition`` to bound files per cell directory (one
    build-time shuffle) when small-file count matters more than write
    parallelism. Index parameters (seeds, columns) persist in a
    ``_ann_meta.json`` sidecar so :func:`knn_ivf_partitioned` probes
    need only the path."""
    from .. import fs

    fs.check_fs(path, "write_ivf_index")
    assigned = df.select(
        id_col, vec_col, ivf_cell_col(seeds, vec_col).alias("cell")
    )
    _compact_for_write(assigned, "cell", files_per_partition, id_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    _write_ann_meta(
        path,
        {
            "kind": "ivf",
            "seeds": [[int(s), [float(v) for v in vec]] for s, vec in seeds],
            "id_col": id_col,
            "vec_col": vec_col,
        },
    )


def append_to_ann_index(df: DataFrame, path: str) -> None:
    """Incrementally add vectors to an existing at-rest ANN index —
    the production ingest path: a 100 TB corpus grows daily, and a
    full index rebuild per batch is a non-starter. New rows are routed
    with the SIDECAR's own geometry (the IVF seeds / LSH planes the
    index was built with — never recomputed, so old and new rows
    always agree on cell/bucket routing) and appended as new files:
    IVF/LSH batches under their matching cell/bucket directories, the
    dedup kinds (minhash/simhash/srp) as ONE LSM delta file under
    ``pb=-1`` (``dedup_index.DELTA_PB`` — their postings fan out to
    nearly every directory, so per-directory appends cost ∝ geometry;
    the delta costs ∝ batch and compaction folds it in). Existing
    files are untouched and probes see the union immediately. Id
    uniqueness is the CALLER's contract — appending an id that already
    exists stores both copies, exactly like any parquet append; run
    the batch through ``operators/dedup.incremental_ingest`` style
    anti-joins upstream when re-delivery is possible. Use
    :func:`compact_ann_index` when the append cadence accumulates
    small files.

    SINGLE-WRITER contract with compaction, enforced by a Dekker-style
    intent/lock handshake: the append drops an ``_append-*.intent``
    marker FIRST, then checks for the compactor's ``_compacting.lock``
    (backing off and removing its intent if present); the compactor
    creates the lock first, then checks for intents (aborting if any
    exist). Whatever the interleaving of the two first-steps, the
    second-steps run after both flags are up, so at least one side
    sees the other and backs off — a batch can never land after the
    compactor's read and vanish with the demoted directory. The
    intent marker is removed when the append's write commits (or
    fails). The handshake assumes sequentially consistent
    create/exists visibility between the two writer processes — local
    disk and HDFS give that; NFS attribute caching and object-store
    (s3a) create-then-list lag can delay flag visibility, making the
    exclusion advisory there; use local disk/HDFS or an external lock
    service for multi-host writers. Concurrent appends from multiple
    processes are ordinary parquet appends (safe with each other);
    only append-vs-compact needs exclusion. A crashed append can
    strand its intent marker —
    compact_ann_index names the stale file in its error; remove it by
    hand after confirming no append is running."""
    from .. import fs

    fs.check_fs(path, "append_to_ann_index")
    # routing of the near-dup kinds is owned by the dedup-index module
    # (runtime import: dedup_index imports this module's protocol
    # helpers)
    from .dedup_index import FAMILIES, route_append

    meta = load_ann_meta(path)
    if meta.get("kind") in FAMILIES:
        routed, part = route_append(df, meta), "pb"
    elif meta.get("kind") == "ivf":
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        seeds = [(int(s), vec) for s, vec in meta["seeds"]]
        routed = df.select(
            id_col, vec_col, ivf_cell_col(seeds, vec_col).alias("cell")
        )
        part = "cell"
    elif meta.get("kind") == "lsh":
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        routed = random_projection_buckets(
            df,
            vec_col=vec_col,
            dim=int(meta["dim"]),
            n_planes=int(meta["n_planes"]),
            seed=int(meta["seed"]),
        ).select(id_col, vec_col, "bucket")
        part = "bucket"
    else:
        raise ValueError(
            f"append_to_ann_index: unknown index kind "
            f"{meta.get('kind')!r} in {path}/{ANN_META_FILE}"
        )
    append_routed_rows(routed, path, part)


def append_routed_rows(routed: DataFrame, path: str, part: str) -> None:
    """The write half of :func:`append_to_ann_index`: commit
    ALREADY-ROUTED rows under the Dekker intent/lock handshake.

    The caller's contract is that ``routed`` carries the index's full
    row schema with partition values computed from the CURRENT
    sidecar's geometry — either via the routing in
    :func:`append_to_ann_index` or by reusing a near-dup family
    projection (``dedup_index.Family.project``) it already computed
    at that geometry (what the streaming ingest loop does, r9 — one
    fingerprint pass per micro-batch instead of one per stage). Under
    the loop's single-writer contract the sidecar cannot change
    between the caller's meta read and this write; a multi-writer
    deployment must route and append under one external lock.

    Handshake (see :func:`append_to_ann_index` for the full story):
    intent marker FIRST, then the compactor-lock check — whatever the
    interleaving, at least one side sees the other and backs off."""
    import uuid

    from .. import fs

    fs.check_fs(path, "append_routed_rows")
    # intent BEFORE lock-check (the handshake's whole point): if the
    # compactor's lock lands between our check and our write, the
    # compactor's own intent-check — which happens after its lock is
    # up — is guaranteed to see this marker and abort.
    intent = fs.join(path, f"_append-{uuid.uuid4().hex}.intent")
    fs.touch(intent)
    try:
        if fs.exists(fs.join(path, ANN_COMPACT_LOCK)):
            raise RuntimeError(
                f"append_routed_rows: {path} is being compacted "
                f"({ANN_COMPACT_LOCK} present) — retry after compaction "
                "finishes; if no compactor is running, a previous "
                "compaction crashed and the next compact_ann_index call "
                "will repair it (or remove the lockfile by hand)."
            )
        # resolved INSIDE the handshake window: with the intent up and
        # no compactor lock, the active generation cannot flip under
        # this write (intent/lock live at the index ROOT, shared
        # across generations)
        routed.write.mode("append").partitionBy(part).parquet(
            active_data_root(path)
        )
    finally:
        import contextlib

        # the marker can vanish with the directory itself (a swap
        # demoting path→old while this append is aborting) — that is
        # fine, the compactor's rmtree disposes of it; don't let the
        # cleanup mask the real error
        with contextlib.suppress(FileNotFoundError):
            fs.remove(intent)


def compact_ann_index(
    spark, path: str, *, files_per_partition: int = 1,
    regeometry: bool = False,
) -> int:
    """Rewrite an at-rest ANN index with bounded files per partition
    directory, preserving rows, routing, and the sidecar. Returns the
    new data-file count. For the dedup kinds (minhash/simhash/srp)
    this is also the LSM merge: rows appended as ``pb=-1`` deltas
    (``dedup_index.DELTA_PB``) re-route to their true bucket
    directories from the stored routing columns.

    ``regeometry=True`` (``kind="minhash"`` / ``"simhash"`` /
    ``"srp"``) additionally re-derives the bucket count from the
    CURRENT corpus size (``dedup_index.auto_dedup_buckets`` — the same
    formula the builds use) and re-routes every posting under the new
    geometry.
    ``write_dedup_index`` sizes ``n_buckets`` once, at build time; a
    corpus grown 100× by appends keeps that stale geometry, so each of
    the fixed ``bands × n_buckets`` directories accumulates ∝ corpus
    postings — the per-directory scan-task bound the auto-sizing
    exists to hold. Re-routing needs NO re-shingling: the stored
    ``band``/``bkey`` columns recompute ``pb`` exactly as the build
    does (``pb = band·n_buckets' + bkey mod n_buckets'``), so the
    result is bit-identical to a fresh rebuild at the new geometry
    (pinned by ``tests/test_dedup_index.py``) and the sidecar's
    ``n_buckets`` is updated under the same generation-flip + Dekker
    protocol as the plain rewrite. IVF/LSH kinds reject the flag:
    their geometry (seeds/planes) defines routing semantics, not just
    partitioning, and cannot be re-derived from stored rows.

    Closes the index lifecycle: repeated :func:`append_to_ann_index`
    batches each add files to the probed directories, and at some
    cadence the accumulated footer/listing tax exceeds one rewrite
    (the compaction probe measured fragmented probes 27% slower and
    8,192-file layouts at 128-task builds — SCALE.md).

    Commit protocol (r12 — generation pointer, replacing the r5-r11
    demote/promote directory renames, which were copy-based and so
    neither atomic nor O(1) on object stores): the rewritten tree is
    written to a NEW hidden generation dir ``_gen-NNNNNN/`` inside
    the index (invisible to Spark's discovery, so a legacy root
    layout keeps serving flat reads while it is written), its sidecar
    is written INSIDE it (geometry+data commit together), and the
    swap is one empty-file creation: ``_gen-NNNNNN.ptr``. File
    creation with the number in the NAME is atomic on local disk,
    HDFS, and S3 alike — there is no torn state, and a crash at any
    point leaves either the old generation fully active (no ptr; the
    orphan tree is GC'd on the next call) or the new one fully active
    (leftover old generation GC'd on the next call). Probes resolve
    the active generation per call (:func:`active_data_root`); a
    probe mid-flight when the old generation is GC'd can fail and
    must retry — quiesce probes around compaction for strict
    no-retry operation, exactly as the r11 protocol required. Crashed
    pre-r12 rename-swap state (``.compact.old``/``.compact.tmp``
    siblings) is still repaired at entry.

    SINGLE-WRITER contract with :func:`append_to_ann_index`, enforced
    by the Dekker-style intent/lock handshake (described there): this
    side creates ``_compacting.lock`` FIRST, then aborts if any
    ``_append-*.intent`` marker exists — an in-flight append whose
    Spark job has not yet committed files (and so would be invisible
    to any file-listing gate) is still visible through its intent.
    Appends check in the mirrored order, so whatever the interleaving
    at least one side backs off (local-disk visibility assumption —
    see the NFS caveat in :func:`append_to_ann_index`). A
    belt-and-braces re-list gate after the rewrite additionally
    aborts the swap if any data file changed — compared as
    (path, size, mtime) so even a same-name in-place overwrite by a
    writer bypassing the protocol is caught, not just file-set
    additions/removals. Run ONE compactor at a time — a stale lock from a
    crashed compaction is reclaimed by the next call; a stale intent
    from a crashed APPEND blocks compaction with a named error until
    removed by hand (fail-safe: blocking beats deleting a batch)."""
    import contextlib as _contextlib

    from .. import fs

    fs.check_fs(path, "compact_ann_index")
    # pre-r12 rename-swap crash states (``path.compact.old`` holding a
    # demoted copy) are still repaired so an upgraded deployment can
    # compact over whatever a crashed r11 run left behind
    old = path.rstrip("/") + ".compact.old"
    if fs.exists(old):
        if fs.exists(path):
            fs.rmtree(old)
        else:
            fs.rename(old, path)
    legacy_tmp = path.rstrip("/") + ".compact.tmp"
    if fs.exists(legacy_tmp):
        fs.rmtree(legacy_tmp)
    meta, droot = _load_active(path)
    cur_gen = _active_gen(path)
    cur_n = int(cur_gen[len(GEN_PREFIX):]) if cur_gen else 0
    from .dedup_index import FAMILIES, family

    kind = meta.get("kind")
    part = "pb" if kind in FAMILIES else {"ivf": "cell", "lsh": "bucket"}.get(kind)
    if part is None:
        raise ValueError(
            f"compact_ann_index: unknown index kind {kind!r} "
            f"in {path}/{ANN_META_FILE}"
        )
    if regeometry and kind not in FAMILIES:
        raise ValueError(
            f"compact_ann_index: regeometry=True only applies to the "
            f"near-dup kinds {sorted(FAMILIES)} (got {kind!r}) — "
            "IVF seeds / LSH planes define routing semantics and "
            "cannot be re-derived from stored rows"
        )
    new_gen = f"{GEN_PREFIX}{cur_n + 1:06d}"
    new_dir = fs.join(path, new_gen)
    lock = fs.join(path, ANN_COMPACT_LOCK)
    # Reclaim a crashed compaction's lock: singleton-compactor is the
    # caller's contract, so a lock that predates this call is stale.
    fs.write_text(lock, "compact_ann_index in progress")
    # The lock stays up through the flip and the old generation's GC —
    # there is no unlocked instant between the re-list gate and the
    # commit. Error paths below remove it so a failed rewrite doesn't
    # block appends until the next compaction.
    try:
        # Handshake step 2 (after the lock is visible): any append
        # intent means a batch may be mid-write — its files are not
        # reliably listable yet, so no file-set gate could catch it.
        intents = fs.glob_names(path, "_append-*.intent")
        if intents:
            raise RuntimeError(
                f"compact_ann_index: append(s) in flight on {path} "
                f"({', '.join(intents)}) — "
                "retry after they finish; if no append is running, a "
                "crashed append stranded its intent marker — remove it "
                "by hand."
            )
        # GC generation debris under the lock: dirs without a pointer
        # (a crashed rewrite's orphan tree) and stale pointers/dirs
        # below the active generation (a crash between flip and GC)
        for name in fs.glob_names(path, f"{GEN_PREFIX}*"):
            if name.endswith(GEN_PTR_SUFFIX):
                if cur_gen and name[: -len(GEN_PTR_SUFFIX)] != cur_gen:
                    with _contextlib.suppress(FileNotFoundError):
                        fs.remove(fs.join(path, name))
            elif name != cur_gen and fs.is_dir(fs.join(path, name)):
                fs.rmtree(fs.join(path, name))

        # (path, size, mtime) — not bare paths — so a rogue writer
        # that overwrites an existing part file IN PLACE (same name)
        # is still caught before the commit discards its data (see
        # fs.data_file_stats for the vanishing-file sentinel). On the
        # LEGACY layout (active root == index root) the new generation
        # is written INSIDE the listed tree between the two listings,
        # so files under generation dirs are excluded there; when the
        # active root is itself a generation dir, new generations are
        # SIBLINGS and nothing may be excluded — the naive substring
        # exclusion would match the droot's own path prefix and void
        # the gate entirely.
        def _data_stats(root):
            stats = fs.data_file_stats(root)
            if root != path:
                return stats
            return {
                e for e in stats if f"/{GEN_PREFIX}" not in e[0]
            }

        before = _data_stats(droot)
        df = spark.read.parquet(droot)
        if kind in FAMILIES:
            fam = family(meta)
            # pb is DERIVED for these kinds — recompute it from the
            # STORED routing columns (band/bkey or bucket) on EVERY
            # compaction, never re-fingerprinting: base rows map to
            # themselves, and un-compacted LSM delta appends (pb=-1,
            # see dedup_index.DELTA_PB) fold into their true bucket
            # directories, so the result is bit-identical to a fresh
            # rebuild. regeometry additionally re-derives the bucket
            # COUNT from the current corpus size (distinct ids, not
            # row count: every doc posts several rows, and
            # replay-duplicated postings — benign, see
            # append_to_ann_index — must not inflate the estimate),
            # with the same per-kind sizing rule the builds use.
            new_nb = (
                fam.auto_buckets(df.select(meta["id_col"]).distinct().count(), meta)
                if regeometry
                else int(meta["n_buckets"])
            )
            if kind == "srp":
                # the only kind-specific compaction step: the srp
                # normalized layout's two row roles (embedding_index)
                from .embedding_index import split_row_roles

                df, meta = split_row_roles(
                    df, meta, fam.pb(new_nb),
                    new_nb if regeometry else int(meta["n_vec_buckets"]),
                )
            else:
                df = df.withColumn("pb", fam.pb(new_nb).cast("int"))
            meta = {**meta, "n_buckets": new_nb}
        _compact_for_write(
            df, part, files_per_partition, meta["id_col"]
        ).write.mode("overwrite").partitionBy(part).parquet(new_dir)
        # geometry commits WITH the data: the sidecar lives inside the
        # generation, so the ptr flip below activates both atomically
        _write_ann_meta(new_dir, meta)
        # Belt-and-braces: abort the commit if any data file changed
        # anyway (e.g. a writer that bypassed append_to_ann_index).
        if _data_stats(droot) != before:
            fs.rmtree(new_dir)
            raise RuntimeError(
                f"compact_ann_index: {path} changed during compaction "
                "(concurrent append?) — index left untouched, retry."
            )
        # THE FLIP: one atomic empty-file creation. Everything before
        # it leaves the old generation fully active; everything after
        # it is GC of the now-inactive old generation.
        fs.touch(fs.join(path, new_gen + GEN_PTR_SUFFIX))
        if cur_gen:
            with _contextlib.suppress(FileNotFoundError):
                fs.remove(fs.join(path, cur_gen + GEN_PTR_SUFFIX))
            fs.rmtree(droot)
        else:
            # legacy root layout: drop the superseded root-level data
            # dirs, marker file, and sidecar (the per-generation
            # sidecar is now the single authority — a stale root copy
            # would misreport a later regeometry's n_buckets)
            for name in fs.glob_names(path, f"{part}=*"):
                if fs.is_dir(fs.join(path, name)):
                    fs.rmtree(fs.join(path, name))
            for name in ("_SUCCESS", ANN_META_FILE):
                with _contextlib.suppress(FileNotFoundError):
                    fs.remove(fs.join(path, name))
    except BaseException:
        # the lock can vanish with the directory itself (e.g. the
        # whole index removed from under a failing compaction — the
        # same scenario the append side guards against); don't let the
        # cleanup mask the real error
        with _contextlib.suppress(FileNotFoundError):
            fs.remove(lock)
        raise
    with _contextlib.suppress(FileNotFoundError):
        fs.remove(lock)
    return len(fs.data_file_stats(new_dir))


def knn_ivf_partitioned(
    spark,
    path: str,
    query_vec,
    seeds: list[tuple[int, list[float]]] | None = None,
    *,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a :func:`write_ivf_index` layout — scan-pruned probes.

    Identical results to :func:`knn_ivf_fixed` on the same seeds
    (pinned by test): the probe pick, cell routing, and exact cosine
    re-rank are the same code; only WHERE the cell filter applies
    changes — here it lands in the scan's ``PartitionFilters`` (plan-
    gated), so non-probed cells contribute zero I/O. With
    ``seeds=None`` the quantizer (and column names) load from the
    index's ``_ann_meta.json`` sidecar — the probe is self-describing
    from the path alone."""
    if seeds is None:
        meta = load_ann_meta(path)
        _require_kind(meta, "ivf", "knn_ivf_partitioned")
        seeds = [(int(s), vec) for s, vec in meta["seeds"]]
        id_col = meta.get("id_col", id_col)
        vec_col = meta.get("vec_col", vec_col)
    probes = ivf_probe_cells(seeds, query_vec, n_probe=n_probe)
    droot = active_data_root(path)
    rel = read_matched_partitions(spark, droot, "cell", probes)
    if rel is None:
        rel = spark.read.parquet(droot)
    return (
        rel
        .where(F.col("cell").isin(probes))
        .select(
            id_col,
            F.col("cell").cast("bigint").alias("cell"),
            _cosine_lit(F.col(vec_col), query_vec).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_lsh(
    candidates: DataFrame,
    query,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    n_probe_buckets: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict brute force to the query's LSH
    bucket(s).

    ``query`` is either a plain vector (list/tuple of floats — the
    preferred form: the whole plan is lazy, probes computed driver-side
    over the bounded plane list) or a one-row DataFrame with a
    ``query_embedding`` column (API parity with
    :func:`knn_brute_force`).

    ``n_probe_buckets=1`` (default) scans exactly the query's own
    bucket; raising it probes the buckets reached by flipping the
    query's LEAST-CONFIDENT sign bits first (standard multi-probe
    LSH — a near vector that landed across a hyperplane the query
    barely cleared is the likeliest miss). Probe sets use the same
    sequential double fold as the engine's bucket expression, so the
    query's own bucket matches the engine bit-for-bit (the
    :func:`ivf_probe_cells` contract); probing all ``2^n_planes``
    buckets is exactly brute force (pinned by test). With a literal
    query the bucket restriction is a literal IN filter — over
    bucket-partitioned storage it lands in ``PartitionFilters`` and
    non-probed buckets cost zero I/O, the same at-rest story as
    :func:`write_ivf_index`. With a DataFrame query at the default
    single probe, the plan stays FULLY LAZY: the query's bucket is the
    same engine expression and the restriction is a bucket-equality
    broadcast join — no driver-side job is ever triggered at
    DataFrame-construction time (the round-4 bench regression was
    exactly such an eager ``first()``). A DataFrame query with
    multi-probe collects the vector ONCE and takes the literal path
    (one bounded job, single evaluation of the query source).
    Returned schema matches :func:`knn_brute_force`.

    DataFrame-query contract: ONE row. Extra rows are ignored (the
    lazy path takes ``limit(1)``, the multi-probe path ``first()`` —
    the same unordered-first semantics). An EMPTY query DataFrame
    yields an empty top-k on the lazy path (laziness means no job
    exists to raise from) and raises ``ValueError`` on the multi-probe
    path, which must materialize the vector to pick probe buckets.
    """
    if isinstance(query, DataFrame):
        if n_probe_buckets > 1:
            qrow = query.select("query_embedding").first()
            if qrow is None:
                raise ValueError("knn_lsh: query DataFrame is empty")
            query = [float(v) for v in qrow["query_embedding"]]
        else:
            return _knn_lsh_lazy_join(
                candidates,
                query,
                k=k,
                id_col=id_col,
                vec_col=vec_col,
                dim=dim,
                n_planes=n_planes,
                seed=seed,
            )
    probes = lsh_probe_buckets(
        query,
        dim=dim,
        n_planes=n_planes,
        seed=seed,
        n_probe_buckets=n_probe_buckets,
    )
    bucketed = random_projection_buckets(
        candidates, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed
    )
    scored = bucketed.where(F.col("bucket").isin(probes)).select(
        id_col,
        _cosine_lit(F.col(vec_col), query).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def _knn_lsh_lazy_join(
    candidates: DataFrame,
    query: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    seed: int,
) -> DataFrame:
    """Single-probe LSH kNN with a DataFrame query, zero eager jobs.

    Both sides compute ``bucket`` with the SAME engine expression over
    the same plane literals, and the restriction is a bucket-equality
    join against the broadcast one-row query — the plan Catalyst sees
    is scan → map-only bucket projection → broadcast hash join →
    TakeOrderedAndProject, entirely lazy."""
    bucketed = random_projection_buckets(
        candidates, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed
    )
    # select-then-alias (never withColumnRenamed on the whole frame):
    # a query DataFrame also carrying a column named vec_col must not
    # produce a duplicate-name AnalysisException. limit(1) pins the
    # one-row contract LAZILY — extra rows are ignored exactly like
    # the multi-probe path's first(); an empty query yields an empty
    # top-k here (no job exists to raise from — see docstring).
    qb = random_projection_buckets(
        query.select(F.col("query_embedding").alias(vec_col)).limit(1),
        vec_col=vec_col,
        dim=dim,
        n_planes=n_planes,
        seed=seed,
    ).select(
        F.col(vec_col).alias("query_embedding"),
        l2_norm_col(vec_col).alias("__qn"),
        F.col("bucket").alias("qbucket"),
    )
    scored = bucketed.join(
        F.broadcast(qb), F.col("bucket") == F.col("qbucket")
    ).select(
        id_col,
        _cosine_with_norms(
            vec_col,
            "query_embedding",
            l2_norm_col(vec_col),
            F.col("__qn"),
        ).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def lsh_probe_buckets(
    query_vec,
    *,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    n_probe_buckets: int = 1,
) -> list[int]:
    """Multi-probe bucket ids for a query: its own bucket first, then
    buckets by ascending flip cost.

    Flip cost of a bucket = the sum of ``|projection|`` over the sign
    bits that differ from the query's bucket — the standard
    multi-probe ranking (Lv et al., "Multi-Probe LSH", VLDB'07): a
    plane the query barely cleared is cheap to flip because near
    neighbors plausibly sit on its far side, while flipping a
    high-margin plane buys almost no recall. Projections use the SAME
    sequential left-to-right double fold as ``dot_product_col`` over
    the SAME plane literals, so the zero-flip bucket is bit-identical
    to the engine's ``bucket`` column for the query vector. Ties break
    on (popcount, mask) for a deterministic probe order. Flip masks
    are enumerated over the 16 least-confident planes (2^16 driver-
    side costs at most — for wider codes the dropped high-margin
    flips are precisely the ones multi-probe never wants)."""
    planes = lsh_planes(n_planes, dim, seed)
    projs = []
    base = 0
    for i in range(n_planes):
        acc = 0.0
        for x, y in zip(query_vec, planes[i]):
            acc = acc + float(x) * float(y)
        projs.append(acc)
        if acc >= 0:
            base |= 1 << i
    if n_probe_buckets <= 1:
        return [base]
    flippable = sorted(range(n_planes), key=lambda i: (abs(projs[i]), i))[
        :16
    ]
    costed = []
    for m in range(1, 1 << len(flippable)):
        cost = 0.0
        bits = 0
        mask = 0
        for j, plane in enumerate(flippable):
            if (m >> j) & 1:
                cost += abs(projs[plane])
                bits += 1
                mask |= 1 << plane
        costed.append((cost, bits, mask))
    costed.sort()
    return [base] + [base ^ mask for _, _, mask in costed[: n_probe_buckets - 1]]


def write_lsh_index(
    df: DataFrame,
    path: str,
    *,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_partition: int | None = None,
) -> None:
    """Persist vectors as parquet PARTITIONED BY LSH bucket.

    The LSH twin of :func:`write_ivf_index`: with one directory per
    sign-projection bucket, a probe query's ``bucket IN (...)``
    becomes a PARTITION filter, so a ``b``-of-``2^n_planes``-bucket
    multi-probe reads ~``b/2^n_planes`` of the bytes — file-level
    pruning before any row decodes. Bucketing is the same
    plane-literal projection the query path uses
    (:func:`random_projection_buckets`), so index and query always
    agree on routing; the write is shuffle-free (pass
    ``files_per_partition`` to bound files per bucket directory — one
    build-time shuffle — when file count matters more than write
    parallelism). Plane parameters persist in a ``_ann_meta.json``
    sidecar so :func:`knn_lsh_partitioned` probes need only the
    path."""
    from .. import fs

    fs.check_fs(path, "write_lsh_index")
    bucketed = random_projection_buckets(
        df, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed
    ).select(id_col, vec_col, "bucket")
    _compact_for_write(bucketed, "bucket", files_per_partition, id_col).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)
    _write_ann_meta(
        path,
        {
            "kind": "lsh",
            "dim": dim,
            "n_planes": n_planes,
            "seed": seed,
            "id_col": id_col,
            "vec_col": vec_col,
        },
    )


def knn_lsh_partitioned(
    spark,
    path: str,
    query_vec,
    *,
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
    n_probe_buckets: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a :func:`write_lsh_index` layout — scan-pruned probes.

    Identical results to :func:`knn_lsh` on the same planes/seed
    (pinned by test): the probe picks (:func:`lsh_probe_buckets`) and
    the exact cosine re-rank are the same code; only WHERE the bucket
    filter applies changes — here it lands in the scan's
    ``PartitionFilters`` (plan-gated), so non-probed buckets
    contribute zero I/O. Multi-probe raises recall at a directly
    visible byte cost: each extra probed bucket is one more
    directory read. With ``dim=None`` the hash geometry (and column
    names) load from the index's ``_ann_meta.json`` sidecar — the
    probe is self-describing from the path alone."""
    if dim is None:
        meta = load_ann_meta(path)
        _require_kind(meta, "lsh", "knn_lsh_partitioned")
        dim = int(meta["dim"])
        n_planes = int(meta["n_planes"])
        seed = int(meta["seed"])
        id_col = meta.get("id_col", id_col)
        vec_col = meta.get("vec_col", vec_col)
    probes = lsh_probe_buckets(
        query_vec,
        dim=dim,
        n_planes=n_planes,
        seed=seed,
        n_probe_buckets=n_probe_buckets,
    )
    droot = active_data_root(path)
    rel = read_matched_partitions(spark, droot, "bucket", probes)
    if rel is None:
        rel = spark.read.parquet(droot)
    return (
        rel
        .where(F.col("bucket").isin(probes))
        .select(
            id_col,
            _cosine_lit(F.col(vec_col), query_vec).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


#: Moment quantization for whitening: floor(v * 2^20) per value keeps
#: the per-dimension sums in exact int64 arithmetic, so the moments are
#: ORDER-INDEPENDENT (integer addition is associative) and bit-equal on
#: any engine that can floor and add — the same trick as the registry's
#: quantized double aggregates.
WHITEN_Q = float(1 << 20)


def whiten_by_label(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding whitening via grouped ``applyInPandas``.

    Each label's vectors are mean-centered and scaled to unit per-
    dimension std (population, via E[x²]−E[x]²; zero-variance dims
    pass through centered). This is the engine's canonical GROUPED
    Arrow-UDF shape — the path for per-group numerics Spark
    expressions can't reach (same plumbing serves per-group
    PCA/regression). Moments accumulate as :data:`WHITEN_Q`-quantized
    int64 sums, so the result is independent of row order and
    partitioning BY CONSTRUCTION (no sort needed — integer addition is
    associative) and bit-reproducible by the DuckDB oracle. Groups are
    independent, so the single shuffle on the label key is the whole
    distribution cost, and executor memory bounds the LARGEST group,
    not the table.
    """
    import numpy as np

    out_schema = df.select(id_col, label_col, vec_col).schema

    def whiten(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        n = len(mat)
        s1 = np.floor(mat * WHITEN_Q).astype(np.int64).sum(axis=0)
        s2 = np.floor(mat * mat * WHITEN_Q).astype(np.int64).sum(axis=0)
        mean = s1.astype(np.float64) / WHITEN_Q / n
        meansq = s2.astype(np.float64) / WHITEN_Q / n
        std = np.sqrt(np.maximum(meansq - mean * mean, 0.0))
        std[std == 0.0] = 1.0
        white = (mat - mean) / std
        pdf[vec_col] = [row.astype(np.float32).tolist() for row in white]
        return pdf

    return (
        df.select(id_col, label_col, vec_col)
        .groupBy(label_col)
        .applyInPandas(whiten, schema=out_schema)
    )
