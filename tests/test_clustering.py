"""Unit tests for distributed Lloyd k-means (oracle parity is covered
by test_oracle_parity: two full iterations hash-match the unrolled
recursive SQL twin)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.clustering import (
    assign_to_centroids,
    kmeans_lloyd,
    update_centroids,
)


def _points(spark):
    # two tight clusters around (0,0) and (10,10)
    rows = [
        (1, [0.0, 0.1]),
        (2, [0.1, 0.0]),
        (3, [-0.1, 0.0]),
        (4, [10.0, 10.1]),
        (5, [10.1, 10.0]),
        (6, [9.9, 10.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _init(spark):
    # deliberately bad init: both centroids inside cluster 1
    return spark.createDataFrame(
        [(1, [0.0, 0.1]), (2, [0.2, 0.2])], ["cid", "clist"]
    )


def test_kmeans_separates_clusters(spark):
    out = kmeans_lloyd(_points(spark), _init(spark), iterations=3).collect()
    by_cid = {}
    for r in out:
        by_cid.setdefault(r["cid"], {})[r["dim"]] = (r["c_val"], r["n_assigned"])
    assert len(by_cid) == 2
    # each centroid owns 3 points and sits at its cluster's mean
    cents = sorted(
        (v[0][0], v[0][1]) for v in by_cid.values()
    )
    assert abs(cents[0][0] - 0.0) < 0.2 and abs(cents[1][0] - 10.0) < 0.2
    assert all(v[0][1] == 3 for v in by_cid.values())


def test_assignment_tie_breaks_to_smallest_cid(spark):
    pts = spark.createDataFrame([(7, [5.0, 5.0])], ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(2, [4.0, 5.0]), (1, [6.0, 5.0])], ["cid", "clist"]
    )
    # equidistant: must pick cid=1 (smallest), deterministically
    got = assign_to_centroids(pts, cents).collect()
    assert got[0]["cid"] == 1


def test_update_is_partition_layout_invariant(spark):
    pts = _points(spark)
    assign = assign_to_centroids(pts, _init(spark))
    a = update_centroids(pts, assign).orderBy("cid").collect()
    b = (
        update_centroids(pts.repartition(7), assign)
        .orderBy("cid")
        .collect()
    )
    assert [(r["cid"], r["clist"]) for r in a] == [
        (r["cid"], r["clist"]) for r in b
    ]


def test_tol_stops_early_at_fixed_point(spark):
    # after round 1 the two tight clusters are separated and round 2
    # reproduces the same quantized means exactly — movement 0, so a
    # tol run must stop at the round-2 check and still match the
    # full fixed-iteration result bit-for-bit
    from nursinghome_data_pipeline_spark.operators.clustering import (
        lloyd_train,
    )

    pts, init = _points(spark), _init(spark)
    fixed, _, fixed_rounds = lloyd_train(pts, init, iterations=5)
    early, _, early_rounds = lloyd_train(pts, init, iterations=5, tol=0.0)
    assert early == fixed
    assert fixed_rounds == 5
    assert early_rounds < 5  # the stop condition actually fired


def test_max_centroid_movement_edge_cases():
    from nursinghome_data_pipeline_spark.operators.clustering import (
        max_centroid_movement,
    )

    a = [(1, [0.0, 1.0]), (2, [5.0, 5.0])]
    assert max_centroid_movement(a, a) == 0.0
    assert max_centroid_movement(a, [(1, [0.0, 1.5]), (2, [5.0, 5.0])]) == 0.5
    # a dropped (emptied) cluster is never "converged"
    assert max_centroid_movement(a, [(1, [0.0, 1.0])]) == float("inf")


def _per_centroid_argmin_oracle(centroid_rows, vec_col):
    """The former per-centroid form of ``centroid_argmin_col``: one
    literal array and one (dist, cid) struct per centroid. Kept as the
    bit-identity oracle of the single-literal form."""
    from nursinghome_data_pipeline_spark.functions.vectors import dot_product_col

    xx = dot_product_col(vec_col, vec_col)
    choices = []
    for cid, clist in centroid_rows:
        cc = 0.0
        for v in clist:
            cc = cc + v * v
        dist = (
            xx
            - F.lit(2.0) * dot_product_col(vec_col, F.lit([float(v) for v in clist]))
            + F.lit(cc)
        )
        choices.append(F.struct(dist.alias("d"), F.lit(cid).cast("long").alias("cid")))
    return F.array_min(F.array(*choices))["cid"]


def test_centroid_argmin_bit_identical_to_per_centroid_form(spark):
    """One parsed centroid literal walked by one transform assigns
    exactly like one literal per centroid: ties go to the smaller cid,
    -0.0 and a NaN centroid element included."""
    import random

    from nursinghome_data_pipeline_spark.operators.clustering import (
        centroid_argmin_col,
    )

    rnd = random.Random(7)
    dim = 6
    cents = [(cid, [rnd.uniform(-2, 2) for _ in range(dim)]) for cid in (5, 1, 9, 3)]
    cents.append((2, list(cents[0][1])))  # exact tie with cid 5 -> 2 wins
    cents.append((7, [-0.0] * dim))
    cents.append((8, [float("nan")] + [0.5] * (dim - 1)))
    rows = [(i, [rnd.uniform(-3, 3) for _ in range(dim)]) for i in range(200)]
    rows += [
        (1000, list(cents[0][1])),  # on the tied centroid
        (1001, [0.0] * dim),  # on the -0.0 centroid
        (1002, [-0.0] * dim),
        (1003, [float("nan")] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    new = df.select("vec_id", centroid_argmin_col(cents, "embedding").alias("cid"))
    old = df.select("vec_id", _per_centroid_argmin_oracle(cents, "embedding").alias("cid"))
    got = {r["vec_id"]: r["cid"] for r in new.collect()}
    assert got == {r["vec_id"]: r["cid"] for r in old.collect()}
    assert got[1000] == 2
    assert len(set(got.values())) > 2


def test_array_literal_round_trips_every_value(spark):
    """A folded array literal carries every value bit-exactly: NaN,
    ±Infinity, -0.0 and subnormals as doubles, the bigint extremes,
    decimal(38,0) past 2^63, the empty array and a nested struct
    array; a long past 2^63 fails planning instead of folding to
    NULL."""
    import struct
    from decimal import Decimal

    from nursinghome_data_pipeline_spark.functions.vectors import array_literal

    def bits(xs):
        return [struct.pack(">d", v) for v in xs]

    def one(values, ddl):
        return spark.range(1).select(F.expr(array_literal(values, ddl)).alias("a")).first()["a"]

    vals = [0.0, -0.0, 0.1, 1 / 3, -1.5, 1e16, 1e-300, 5e-324, 2.225073858507201e-308,
            1.7976931348623157e308, float("nan"), float("inf"), float("-inf")]
    assert bits(one(vals, "array<double>")) == bits(vals)
    longs = [-(1 << 63), (1 << 63) - 1, 0, -1]
    assert one(longs, "array<bigint>") == longs
    decs = [0, (1 << 63) + 1, 10**38 - 1, -(10**38 - 1)]
    assert one(decs, "array<decimal(38,0)>") == [Decimal(d) for d in decs]
    assert one([], "array<double>") == []
    nested = [{"cid": 3, "c": [-0.0, float("nan"), 5e-324], "cc": float("-inf")},
              {"cid": -(1 << 63), "c": [], "cc": -0.0}]
    got = one(nested, "array<struct<cid:bigint,c:array<double>,cc:double>>")
    assert [(r["cid"], bits(r["c"]), bits([r["cc"]])) for r in got] == [
        (n["cid"], bits(n["c"]), bits([n["cc"]])) for n in nested
    ]
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        one([1 << 63], "array<bigint>")


def test_driver_arrays_fold_to_one_literal(spark):
    """Each driver-held array enters the analyzed plan as ONE
    ``from_json`` call and no per-element ``array(...)`` of constants,
    and constant folding leaves no ``from_json`` in the optimized plan.
    Shapes: SRP 18 planes × 15 tables, k = 256 centroids, 16 minhash
    constants, 16 IVF seeds."""
    import random
    import re

    from nursinghome_data_pipeline_spark.operators.clustering import centroid_argmin_col
    from nursinghome_data_pipeline_spark.operators.dedup import minhash_signature_col
    from nursinghome_data_pipeline_spark.operators.similarity import (
        ivf_cell_col,
        lsh_bucket_structs_col,
    )

    rnd = random.Random(3)
    dim = 64
    cents = [(cid, [rnd.uniform(-1, 1) for _ in range(dim)]) for cid in range(256)]
    df = spark.createDataFrame(
        [(1, [0.5] * dim, "a b c d")], "vec_id long, embedding array<double>, text string"
    )
    cases = {
        "srp": (lsh_bucket_structs_col("embedding", dim=dim, n_planes=18, n_tables=15), 2),
        "centroids": (centroid_argmin_col(cents, "embedding"), 1),
        "minhash": (minhash_signature_col("text", n_hashes=16), 1),
        "ivf": (ivf_cell_col(cents[:16], "embedding"), 1),
    }
    for name, (col, n_literals) in cases.items():
        qe = df.select(col.alias("x"))._jdf.queryExecution()
        analyzed = qe.analyzed().toString()
        assert analyzed.count("from_json(") == n_literals, name
        assert not re.search(r"array\(-?\d", analyzed), name
        assert "from_json" not in qe.optimizedPlan().toString(), name
