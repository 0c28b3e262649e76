"""Randomized differential battery for the at-rest SRP index: the
probe must match an INDEPENDENT Python reference model — not just the
in-memory Spark operator — across random geometries and corpora.

The reference is bit-exact, not approximate: ``dot_product_col`` /
``l2_norm_col`` accumulate left-to-right in double (their documented
contract), which Python floats (IEEE doubles) reproduce operation for
operation, and the plane literals come from the same
``lsh_planes(n_planes, dim, seed)`` driver arithmetic the index
embeds. So bucket ids, collision sets, AND cosine values must all
match exactly — any drift in the banding or verify formula fails the
set comparison, the same differential style as
``tests/test_dedup_properties.py`` for the text fingerprints."""

from __future__ import annotations

import math
import random

import numpy as np

from nursinghome_data_pipeline_spark.operators.dedup_index import (
    batch_against_index,
)
from nursinghome_data_pipeline_spark.operators.embedding_index import (
    write_srp_index,
)
from nursinghome_data_pipeline_spark.operators.similarity import lsh_planes

#: (dim, n_planes, n_tables, n_buckets, seed, threshold) trial grid —
#: seeded, spanning single/multi table and bucket counts small enough
#: that several vectors share directories
_TRIALS = [
    (4, 2, 1, 4, 11, 0.8),
    (8, 3, 2, 4, 22, 0.9),
    (8, 2, 3, 8, 33, 0.7),
    (16, 4, 2, 8, 44, 0.95),
    (16, 3, 3, 4, 55, 0.85),
]


def _seq_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _ref_bucket(vec: list[float], planes) -> int:
    bucket = 0
    for i, plane in enumerate(planes):
        if _seq_dot(vec, [float(v) for v in plane]) >= 0:
            bucket += 1 << i
    return bucket


def _ref_cross_pairs(corpus, batch, *, dim, n_planes, n_tables, seed, thr):
    """Exact reference: pairs (batch_id, corpus_id, cosine) where the
    two vectors share ANY table's bucket, ids differ, and the
    sequential-double cosine clears the threshold."""
    plane_sets = [lsh_planes(n_planes, dim, seed + j) for j in range(n_tables)]

    def buckets(vec):
        return tuple(_ref_bucket(vec, ps) for ps in plane_sets)

    cb = [(i, v, buckets(v), math.sqrt(_seq_dot(v, v))) for i, v in corpus]
    bb = [(i, v, buckets(v), math.sqrt(_seq_dot(v, v))) for i, v in batch]
    out = set()
    for bi, bv, bks, bn in bb:
        for ci, cv, cks, cn in cb:
            if bi == ci:
                continue
            if not any(x == y for x, y in zip(bks, cks)):
                continue
            cos = _seq_dot(bv, cv) / (bn * cn)
            if cos >= thr:
                out.add((bi, ci, cos))
    return out


def _rand_vecs(rng, n, dim, base_id):
    out = []
    for i in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        out.append((base_id + i, [float(np.float32(x)) for x in v]))
    return out


def test_probe_matches_independent_reference(spark, tmp_path):
    for t, (dim, n_planes, n_tables, n_buckets, seed, thr) in enumerate(
        _TRIALS
    ):
        rng = random.Random(1000 + seed)
        corpus = _rand_vecs(rng, 30, dim, 0)
        batch = _rand_vecs(rng, 8, dim, 1 << 20)
        # plant partners of corpus vectors in the batch: exact copies
        # (cosine 1.0) and noisy variants straddling the threshold
        for k in range(4):
            cid, cv = corpus[k * 5]
            if k % 2 == 0:
                pv = list(cv)  # exact copy, different id
            else:
                pv = [
                    float(np.float32(x + rng.gauss(0.0, 0.2)))
                    for x in cv
                ]
            batch.append(((1 << 21) + k, pv))
        want = _ref_cross_pairs(
            corpus, batch, dim=dim, n_planes=n_planes,
            n_tables=n_tables, seed=seed, thr=thr,
        )
        cdf = spark.createDataFrame(
            corpus, "vec_id long, embedding array<float>"
        )
        bdf = spark.createDataFrame(
            batch, "vec_id long, embedding array<float>"
        )
        path = str(tmp_path / f"trial{t}")
        write_srp_index(
            cdf, path, dim=dim, design_threshold=thr, n_planes=n_planes,
            n_tables=n_tables, seed=seed, n_buckets=n_buckets,
        )
        got = {
            (r["batch_id"], r["corpus_id"], r["cosine_sim"])
            for r in batch_against_index(
                spark, bdf, path, threshold=thr
            ).collect()
        }
        assert got == want, (
            f"trial {t} (dim={dim} planes={n_planes} tables={n_tables} "
            f"buckets={n_buckets} thr={thr}): "
            f"got-only={sorted(got - want)[:3]} "
            f"want-only={sorted(want - got)[:3]}"
        )
        # the planted exact copies must always be found (they share
        # every table's bucket and verify at cosine 1.0 >= thr)
        assert all(
            any(b == (1 << 21) + k for b, _, _ in got)
            for k in (0, 2)
        ), f"trial {t}: planted exact copies missing"


def test_bucket_structs_col_bit_equal_to_per_table_form(spark):
    """The single-expression multi-table bucket column must reproduce
    the per-table sign-projection buckets BIT-FOR-BIT: table ``j`` of
    every vector against :func:`_ref_bucket` over
    ``lsh_planes(n_planes, dim, seed + j)``, over random vectors
    including a zero vector and negative components. Table 0 is also
    what ``random_projection_buckets`` (the kNN LSH routing) emits."""
    import numpy as _np
    from pyspark.sql import functions as F

    from nursinghome_data_pipeline_spark.operators.similarity import (
        lsh_bucket_structs_col,
        random_projection_buckets,
    )

    dim, n_planes, n_tables, seed = 16, 7, 5, 99
    rng = _np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(200)]
    rows.append((200, [0.0] * dim))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plane_sets = [lsh_planes(n_planes, dim, seed + j) for j in range(n_tables)]
    want = {
        (i, j, _ref_bucket(v, plane_sets[j]))
        for i, v in rows
        for j in range(n_tables)
    }
    got = {
        (r.vec_id, r.tbl, r.bucket)
        for r in df.select(
            "vec_id",
            F.explode(
                lsh_bucket_structs_col(
                    "embedding",
                    dim=dim,
                    n_planes=n_planes,
                    n_tables=n_tables,
                    seed=seed,
                )
            ).alias("tb"),
        )
        .select("vec_id", "tb.tbl", "tb.bucket")
        .collect()
    }
    assert got == want
    one = random_projection_buckets(df, dim=dim, n_planes=n_planes, seed=seed)
    assert {(r.vec_id, 0, r.bucket) for r in one.collect()} == {
        w for w in want if w[1] == 0
    }
    # n_planes=0 contract: bucket 0 in every table
    z = df.limit(1).select(
        F.explode(
            lsh_bucket_structs_col(
                "embedding", dim=dim, n_planes=0, n_tables=3, seed=seed
            )
        ).alias("tb")
    ).select("tb.tbl", "tb.bucket").collect()
    assert sorted((r.tbl, r.bucket) for r in z) == [(0, 0), (1, 0), (2, 0)]
