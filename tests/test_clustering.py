"""Unit tests for distributed Lloyd k-means (oracle parity is covered
by test_oracle_parity: two full iterations hash-match the unrolled
recursive SQL twin)."""

from __future__ import annotations

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


def test_double_sql_round_trips_every_double(spark):
    """The SQL text of a double parses back to the same bits; NaN and
    ±Infinity never reach SQL as bare ``nan``/``inf``."""
    import struct

    from nursinghome_data_pipeline_spark.functions.vectors import (
        double_array_sql,
        double_sql,
    )

    vals = [0.0, -0.0, 0.1, 1 / 3, -1.5, 1e16, 1e-300, 5e-324,
            1.7976931348623157e308, float("nan"), float("inf"), float("-inf")]
    assert [double_sql(v) for v in vals[-3:]] == [
        "CAST('NaN' AS DOUBLE)", "CAST('Infinity' AS DOUBLE)", "CAST('-Infinity' AS DOUBLE)"
    ]
    got = spark.range(1).select(F.expr(double_array_sql(vals)).alias("a")).first()["a"]
    assert [struct.pack(">d", v) for v in got] == [struct.pack(">d", v) for v in vals]
