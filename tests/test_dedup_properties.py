"""Differential tests: the JVM fingerprint expressions (minhash,
simhash) must match an independent Python reference model given the
same token hashes, and the minhash Jaccard estimate must track true
shingle Jaccard. Random corpus is seeded; docs span the SWAR (<=255
tokens) and fallback (>255) simhash paths."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.dedup import (
    _perm_constants,
    minhash_signature_col,
    simhash_col,
)

M = (1 << 64) - 1


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _rot(x: int, b: int) -> int:
    x &= M
    return ((x << b) | (x >> (64 - b))) & M


def _ref_shingle_hashes(th: list[int], k: int = 3) -> list[int]:
    u = [h & M for h in th]
    n = len(u)
    out = []
    for i in range(max(n - k, 0) + 1):
        parts = [u[i + j] if i + j < n else 0 for j in range(k)]
        acc = parts[0]
        for j in range(1, k):
            acc = _rot(acc, 21) ^ parts[j]
        out.append(acc)
    return out


def _ref_minhash(th: list[int], consts: list[int], k: int = 3) -> list[int]:
    sh = _ref_shingle_hashes(th, k)
    return [min(_signed((s ^ (c & M)) & M) for s in sh) for c in consts]


def _ref_simhash(th: list[int]) -> int:
    u = [h & M for h in th]
    n = len(u)
    out = 0
    for b in range(64):
        if 2 * sum((h >> b) & 1 for h in u) > n:
            out |= 1 << b
    return _signed(out)


def _random_docs() -> list[str]:
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    docs = []
    for n_tok in [1, 2, 3, 5, 30, 100, 254, 255, 256, 300, 400]:
        docs.append(" ".join(rng.choice(vocab) for _ in range(n_tok)))
    return docs


def test_minhash_and_simhash_match_python_reference(spark):
    docs = _random_docs()
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id int, text string"
    )
    token_hashes = F.transform(
        F.split(F.trim(F.col("text")), r"\s+"), lambda s: F.xxhash64(s)
    )
    rows = (
        df.select(
            "doc_id",
            token_hashes.alias("th"),
            minhash_signature_col("text", n_hashes=16).alias("mh"),
            simhash_col("text").alias("sh"),
        )
        .orderBy("doc_id")
        .collect()
    )
    consts = _perm_constants(16)
    for r in rows:
        assert list(r.mh) == _ref_minhash(list(r.th), consts), r.doc_id
        assert r.sh == _ref_simhash(list(r.th)), r.doc_id


def test_minhash_jaccard_estimate_tracks_truth(spark):
    """Signature agreement rate estimates shingle-set Jaccard: for a
    near-dup pair (high J) the estimate must be high, for unrelated
    docs low — with 64 hashes the ±3σ band is ~0.19."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]
    base = [rng.choice(vocab) for _ in range(120)]
    near = list(base)
    near[5] = "CHANGED"
    far = [rng.choice(vocab) for _ in range(120)]
    df = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(near)), (2, " ".join(far))],
        "doc_id int, text string",
    )
    sigs = {
        r.doc_id: list(r.s)
        for r in df.select(
            "doc_id", minhash_signature_col("text", n_hashes=64).alias("s")
        ).collect()
    }

    def agree(a, b):
        return sum(x == y for x, y in zip(a, b)) / len(a)

    def true_jaccard(a, b):
        sa = set(_ref_shingle_hashes([hash(t) for t in a]))
        sb = set(_ref_shingle_hashes([hash(t) for t in b]))
        return len(sa & sb) / len(sa | sb)

    est_near = agree(sigs[0], sigs[1])
    est_far = agree(sigs[0], sigs[2])
    assert abs(est_near - true_jaccard(base, near)) < 0.2
    assert est_far < 0.2 and est_near > 0.7


def test_star_cc_equals_label_propagation_on_random_graphs(spark):
    # property check: both CC algorithms compute the same partition on
    # arbitrary graphs (star is the O(log n) rewiring; label prop the
    # O(diameter) baseline). Python union-find is the reference.
    import random

    from nursinghome_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 50))
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        # canonical labels: min node id per component
        ref = {}
        for x in range(n):
            r = find(x)
            ref.setdefault(r, x)
        expected = {x: ref[find(x)] for x in range(n)}

        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edf = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long"
        )
        lp = {
            r.doc_id: r.component_id
            for r in connected_components(nodes, edf, max_iter=50).collect()
        }
        star, _ = connected_components_star(nodes, edf)
        st = {r.doc_id: r.component_id for r in star.collect()}
        assert lp == expected, f"trial {trial} label-prop"
        assert st == expected, f"trial {trial} star"


def _all_pairs_jaccard(docs, threshold: float) -> dict:
    """Reference: pure-Python all-pairs Jaccard over the Spark-collected
    distinct string-shingle sets → {(id_a, id_b): (n_common, n_union)}."""
    from nursinghome_data_pipeline_spark.operators.dedup import _shingles

    sets = sorted(
        (r.doc_id, set(r.sh))
        for r in docs.select(
            "doc_id", F.array_distinct(_shingles("text", 3)).alias("sh")
        ).collect()
    )
    out = {}
    for i, (id_a, sa) in enumerate(sets):
        for id_b, sb in sets[i + 1 :]:
            n_common = len(sa & sb)
            n_union = len(sa) + len(sb) - n_common
            if n_common / n_union >= threshold:
                out[(id_a, id_b)] = (n_common, n_union)
    return out


def _pairs(df) -> dict:
    return {(r.id_a, r.id_b): (r.n_common, r.n_union) for r in df.collect()}


def test_prefix_filter_join_equals_all_pairs_jaccard(spark):
    """The AllPairs/PPJoin prefix-filtered join must be EXACT: the same
    pair set and the same n_common/n_union as a brute-force all-pairs
    Jaccard at every threshold, on an adversarial corpus of
    partial-overlap edits (deletes, substitutes, inserts) where the
    thresholds actually discriminate. Edge inputs pinned alongside: an
    empty frame, a doc below k tokens, a NULL text, identical docs at
    threshold 1.0."""
    import pandas as pd

    from nursinghome_data_pipeline_spark.operators.dedup import (
        jaccard_pair_join,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    rows, bases = [], []
    for i in range(120):
        if bases and rng.random() < 0.55:
            src = list(rng.choice(bases))
            for _ in range(rng.randint(0, max(1, len(src) // 2))):
                op = rng.random()
                if op < 0.4 and len(src) > 5:
                    src.pop(rng.randrange(len(src)))
                elif op < 0.8:
                    src[rng.randrange(len(src))] = rng.choice(vocab)
                else:
                    src.insert(rng.randrange(len(src) + 1), rng.choice(vocab))
            toks = src
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(3, 40))]
            bases.append(list(toks))
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    for t in (0.3, 0.5, 0.75, 0.9):
        expected = _all_pairs_jaccard(docs, t)
        assert expected, t
        assert _pairs(jaccard_pair_join(docs, threshold=t)) == expected, t

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert jaccard_pair_join(empty, threshold=0.5).count() == 0
    edge = spark.createDataFrame(
        [
            (1, "a b"),  # below k tokens: the whole doc is one shingle
            (2, "a b"),
            (3, None),
            (4, "x y z w"),
            (5, "x y z w"),
            (6, "solo"),
            (7, "x y z q"),
        ],
        "doc_id long, text string",
    )
    got = jaccard_pair_join(edge, threshold=1.0)
    assert _pairs(got) == _all_pairs_jaccard(edge, 1.0) == {
        (1, 2): (1, 1),
        (4, 5): (2, 2),
    }
    assert {r.jaccard for r in got.collect()} == {1.0}
    assert _pairs(jaccard_pair_join(edge, threshold=0.3)) == {
        (1, 2): (1, 1),
        (4, 5): (2, 2),
        (4, 7): (1, 3),
        (5, 7): (1, 3),
    }


@pytest.mark.xfail(
    strict=True,
    reason="two NULL texts, or two empty texts, share the all-zero "
    "shingle hash (and the same fingerprint) and pair at J = 1.0 / "
    "Hamming 0; the DuckDB oracle gives them empty sets and no pair",
)
@pytest.mark.parametrize("text", [None, ""], ids=["null", "empty"])
@pytest.mark.parametrize(
    "operator",
    ["jaccard_pair_join", "near_duplicate_pairs", "simhash_near_duplicate_pairs"],
)
def test_null_texts_do_not_pair(spark, operator, text):
    from nursinghome_data_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "a b c")], "doc_id long, text string"
    )
    kwargs = {} if operator == "simhash_near_duplicate_pairs" else {"threshold": 0.5}
    assert getattr(dedup, operator)(docs, **kwargs).count() == 0


def test_simhash_pair_chunk_keys_match_single_chunk_at_shared_guarantee(spark):
    """The scalable pair-chunk bucketing (chunks_per_key=2) must find
    exactly the pairs the default 4x16 single-chunk banding finds when
    both run at the shared pigeonhole guarantee (h <= n_chunks -
    chunks_per_key: 4-1 = 3 for the default, 5-2 = 3 for the pair-key
    variant — the same bound). Beyond the
    guarantee recall may differ by design; at or below it both are
    complete, so the verified outputs coincide. Also pins the packing
    edge cases (invalid chunks_per_key / n_chunks combinations)."""
    import pandas as pd
    import pytest as _pytest

    from nursinghome_data_pipeline_spark.operators.dedup import (
        simhash_near_duplicate_pairs,
    )

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(80)]
    rows, bases = [], []
    for i in range(150):
        if bases and rng.random() < 0.5:
            src = list(rng.choice(bases))
            for _ in range(rng.randint(0, 4)):
                src[rng.randrange(len(src))] = rng.choice(vocab)
            toks = src
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(8, 60))]
            bases.append(list(toks))
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    base = simhash_near_duplicate_pairs(docs, max_hamming=3)
    pair5 = simhash_near_duplicate_pairs(
        docs, max_hamming=3, n_chunks=5, chunks_per_key=2
    )
    sb = sorted((r.id_a, r.id_b, r.hamming) for r in base.collect())
    sp = sorted((r.id_a, r.id_b, r.hamming) for r in pair5.collect())
    assert sb == sp and len(sb) > 0
    with _pytest.raises(ValueError, match="n_chunks >= 3"):
        simhash_near_duplicate_pairs(docs, n_chunks=2, chunks_per_key=2)
    with _pytest.raises(ValueError, match="chunks_per_key"):
        simhash_near_duplicate_pairs(docs, chunks_per_key=3)
