"""Planted Jaccard-controlled recall measurement for minhash banding
(r7 verdict ask #1): the band index's recall guarantee was the
unmeasured closed form ``1−(1−j^r)^b``, and r7's own test-design notes
proved the all-bands-miss edge is real (a 0.9-Jaccard variant can
deterministically miss all 4 bands at 16 hashes). Here recall is
MEASURED over planted pairs with analytically exact Jaccard — for both
the in-memory operator (``near_duplicate_pairs``) and the at-rest
index probe (``batch_against_index``) — and pinned against
``banding_detection_prob`` within binomial sampling tolerance, the
mirror of ``test_embedding_recall.test_planted_recall_matches_srp_prediction``."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.operators.dedup import (
    banding_detection_prob,
    jaccard_verify_col,
    near_duplicate_pairs,
    shingle_hash_col,
)
from nursinghome_data_pipeline_spark.operators.dedup_index import (
    batch_against_index,
    write_dedup_index,
)

from .minhash_recall_lib import (
    LEVEL_SUBS,
    exact_jaccard,
    measured_recall,
    planted_jaccard_corpus,
)

_PAIRS_PER_LEVEL = 150
#: threshold safely below the loosest planted level (j(4) = 0.6667) so
#: the exact verify never rejects a planted pair — recall then measures
#: BANDING alone
_THRESHOLD = exact_jaccard(max(LEVEL_SUBS)) - 0.01
#: model slack on top of 3σ: the XOR-constant permutation family is
#: not literally independent random permutations; the measurement
#: (SCALE.md "minhash banding recall") shows it tracks the closed form
#: within ~±0.03 at 400 trials/level
_MODEL_SLACK = 0.03


def _tol(p: float, n: int) -> float:
    return 3.0 * math.sqrt(max(p * (1 - p), 1e-9) / n) + _MODEL_SLACK


def _pair_set(rows) -> set[tuple[int, int]]:
    return {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in rows
    }


def test_banding_detection_prob_pinned():
    """Pure driver arithmetic — pin the closed form and its guards."""
    assert banding_detection_prob(1.0, n_hashes=16, bands=4) == 1.0
    assert banding_detection_prob(0.0, n_hashes=16, bands=4) == 0.0
    j = exact_jaccard(1)  # 57/63
    want = 1 - (1 - j**4) ** 4
    assert banding_detection_prob(j, n_hashes=16, bands=4) == pytest.approx(
        want
    )
    # more bands at fixed r is monotone up; longer rows at fixed b, down
    assert banding_detection_prob(
        0.8, n_hashes=32, bands=8
    ) > banding_detection_prob(0.8, n_hashes=16, bands=4)
    assert banding_detection_prob(
        0.8, n_hashes=32, bands=4
    ) < banding_detection_prob(0.8, n_hashes=16, bands=4)
    with pytest.raises(ValueError, match="must divide"):
        banding_detection_prob(0.8, n_hashes=16, bands=5)
    # bands=0 must hit the descriptive guard, not ZeroDivisionError
    # from the divisibility check's modulo (r8 ADVICE)
    with pytest.raises(ValueError, match="must be >= 1"):
        banding_detection_prob(0.8, n_hashes=16, bands=0)
    with pytest.raises(ValueError, match="must be >= 1"):
        banding_detection_prob(0.8, n_hashes=0, bands=0)


def test_planted_construction_is_analytically_exact(spark):
    """The fixture's claim — j(s) = (S−3s)/(S+3s) EXACTLY — verified
    with the engine's own verify column over every planted pair."""
    docs, planted = planted_jaccard_corpus(spark, 25)
    sets = docs.select(
        "doc_id",
        F.array_distinct(shingle_hash_col("text", 3)).alias("sh"),
    )
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    # planted pairs are (even base, base+1)
    joined = a.join(b, F.col("id_b") == F.col("id_a") + 1).where(
        F.col("id_a") % 2 == 0
    )
    got = {
        (r["id_a"], r["id_b"]): r["j"]
        for r in joined.select(
            "id_a",
            "id_b",
            jaccard_verify_col(F.col("sa"), F.col("sb")).alias("j"),
        ).collect()
    }
    for s, pairs in planted.items():
        for pr in pairs:
            assert got[pr] == pytest.approx(exact_jaccard(s), abs=1e-12)


@pytest.mark.parametrize(
    "n_hashes,bands",
    [(16, 4), (32, 8), (32, 4)],
    ids=["r4b4-default", "r4b8", "r8b4"],
)
def test_planted_recall_matches_banding_prediction(spark, n_hashes, bands):
    """The headline measurement: per Jaccard level, recall over the
    planted pairs tracks ``1−(1−j^r)^b`` within sampling tolerance —
    across a grid varying both rows-per-band and band count. Every
    returned pair must be planted (exact verify + unique tokens)."""
    docs, planted = planted_jaccard_corpus(spark, _PAIRS_PER_LEVEL)
    found = _pair_set(
        near_duplicate_pairs(
            docs, threshold=_THRESHOLD, n_hashes=n_hashes, bands=bands
        ).collect()
    )
    all_planted = set().union(*planted.values())
    assert found <= all_planted
    recalls = measured_recall(found, planted)
    for s, rec in recalls.items():
        p = banding_detection_prob(
            exact_jaccard(s), n_hashes=n_hashes, bands=bands
        )
        assert abs(rec - p) < _tol(p, _PAIRS_PER_LEVEL), (
            f"s={s} (j={exact_jaccard(s):.4f}) n_hashes={n_hashes} "
            f"bands={bands}: recall {rec:.3f} vs predicted {p:.3f}"
        )


def test_index_probe_recall_equals_in_memory(spark, tmp_path):
    """The at-rest probe bands with the same formula as the in-memory
    operator, so on (bases→index, variants→batch) it must find the
    IDENTICAL pair set — recall of the index path is the in-memory
    recall, no separate floor needed. (The probe-vs-twin bit-parity on
    organic data is pinned in test_dedup_index.py; this pins it on the
    planted grid where recall is the quantity of record.)"""
    docs, planted = planted_jaccard_corpus(spark, 60)
    bases = docs.where(F.col("doc_id") % 2 == 0)
    variants = docs.where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "recall_idx")
    write_dedup_index(bases, path, n_hashes=16, bands=4)
    probe = {
        (min(r["batch_id"], r["corpus_id"]), max(r["batch_id"], r["corpus_id"]))
        for r in batch_against_index(
            spark, variants, path, threshold=_THRESHOLD
        ).collect()
    }
    in_mem = _pair_set(
        near_duplicate_pairs(
            docs, threshold=_THRESHOLD, n_hashes=16, bands=4
        ).collect()
    )
    assert probe == in_mem
    # and the measured floor holds where the curve is steep: at the
    # default geometry the j≈0.90 level must stay near its ~0.99
    # prediction (this is the level whose all-bands-miss edge r7 hit)
    rec = measured_recall(probe, planted)
    p1 = banding_detection_prob(exact_jaccard(1), n_hashes=16, bands=4)
    assert rec[1] >= p1 - _tol(p1, 60)
