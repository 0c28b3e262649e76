"""Every registry query must match its DuckDB oracle exactly — this is
a local replica of the driver's correctness gate (CORRECTNESS_r{N}.json).

Cross-scale sweep (run once per round — ``scripts/parity_sweep.sh``
runs all four: sf0.001, sf0.01, sf0.1, and a foreign-session config):
the same gate at 10× the driver's data shakes out tiny-data
coincidences —

    SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 \
        pytest tests/test_oracle_parity.py --deselect ...[near_duplicate_pairs_docs] ...

deselecting the quadratic-ORACLE twins (exact all-pairs Jaccard etc.:
near_duplicate_pairs_docs, ngram_jaccard_pairs_docs,
canonical_doc_selection, dedup_components_docs, fuzzy_match_customers,
simhash_near_dup_pairs, embedding_near_dup_pairs, geo_radius_join,
passage_dedup_docs — the ENGINE side is blocked/bucketed, but their
DuckDB twins brute-force all pairs and take hours at sf0.1). The r3
sweep caught a real one: ROUND(double, 6) ties diverge between engines
(see ema_user_values), invisible at sf0.01."""

from __future__ import annotations

import pytest

from nursinghome_data_pipeline_spark import registry

from .oracle_harness import compare, duckdb_connection

SPECS = [s for s in registry.specs() if s.oracle is not None]
# oracle-less specs: none since r4 (the trained-IVF and HLL waivers
# closed) — test_every_registry_query_has_an_oracle is the tripwire,
# and test_rows_only_queries_never_burn_sample_slots pins the rotation
# behavior with a synthetic spec should one ever return.


@pytest.fixture(scope="module")
def sf_dir() -> str:
    """Parity runs at sf0.01 — the DRIVER's correctness scale, not the
    suite-wide sf0.001 default: a bag_set_ops_orders bug once passed at
    sf0.001 because two semantically different counts coincided on the
    tiny data, and only the sf0.01 gate caught it."""
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_query_matches_oracle(spark, sf_dir, duck, spec):
    spark_df = spec.fn(spark, sf_dir)
    oracle_df = duck.sql(spec.oracle).df()
    problems = compare(spark_df, oracle_df)
    assert not problems, f"{spec.name}: " + "; ".join(problems)




def test_auto_rotation_orders_unchecked_before_driver_green(monkeypatch):
    # Past-round driver gates (CORRECTNESS_r*.json) demote queries that
    # already have a green row: every never-driver-checked ORACLED
    # query must precede every driver-green one, in registration order,
    # so future sample prefixes spend slots on local-only evidence.
    # Half the recorded greens are withheld to simulate unchecked ones.
    real_green = registry._driver_green_names()
    assert real_green, "recorded driver gates should yield at least one green row"
    green = set(sorted(real_green)[::2])
    monkeypatch.setattr(registry, "_driver_green_names", lambda: green)
    names = list(registry.queries())
    assert len(names) == len(set(names)) == len(registry._SPECS)
    unchecked = [s.name for s in registry._SPECS if s.name not in green]
    assert names[: len(unchecked)] == unchecked, (
        "an unchecked oracled query sits behind driver-green ones in the rotation"
    )
    assert set(names[len(unchecked):]) == green


def test_driver_green_rotation_is_stalest_evidence_first():
    # Once every query has been driver-green at least once, the only
    # mechanism that detects a silent regression in an OLD query is
    # re-sampling it: within the driver-green block the rotation must
    # order by the round of the LATEST green row ascending (r1-vintage
    # evidence first), ties in registration order, so each 50-slot
    # driver sample re-proves the 50 stalest greens against the
    # current tree.
    rounds = registry._driver_green_rounds()
    names = list(registry.queries())
    green_tail = [n for n in names if n in rounds]
    keys = [rounds[n] for n in green_tail]
    assert keys == sorted(keys), (
        "driver-green queries are not ordered stalest-evidence-first"
    )
    # stability: within one staleness class, registration order holds
    reg_order = {s.name: i for i, s in enumerate(registry._SPECS)}
    for rnd in set(keys):
        cls = [n for n in green_tail if rounds[n] == rnd]
        assert cls == sorted(cls, key=lambda n: reg_order[n])


def test_driver_green_rounds_tracks_latest_round(tmp_path):
    # _driver_green_rounds must record the LATEST round a name was
    # green, count only rows with all three match flags and no err,
    # and parse the round number out of the filename.
    import json

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": {"rows_match": True, "schema_match": True,
              "hash_match": True, "err": None},
        "b": {"rows_match": True, "schema_match": True,
              "hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "a": {"rows_match": True, "schema_match": True,
              "hash_match": True, "err": None},
        # hash mismatch: must NOT refresh (or create) a green row
        "b": {"rows_match": True, "schema_match": True,
              "hash_match": False, "err": None},
        "c": {"rows_match": True, "schema_match": True,
              "hash_match": True, "err": "no_oracle"},
    }))
    rounds = registry._driver_green_rounds(root=str(tmp_path))
    assert rounds == {"a": 3, "b": 1}


def test_every_registry_query_has_an_oracle():
    # r4 closed the last two waivers (trained IVF via quantized-Lloyd
    # CTEs; HLL via the md5-register family) — the full registry is now
    # hash-verifiable. A new oracle-less entry needs a documented
    # waiver in COVERAGE.md; this test is the tripwire.
    no_oracle = [s.name for s in registry._SPECS if s.oracle is None]
    assert no_oracle == [], f"undocumented rows-only entries: {no_oracle}"


def test_rows_only_queries_never_burn_sample_slots(monkeypatch):
    # If an oracle-less query ever exists again (oracle=None: the
    # driver can only record a weaker rows-only row, never a
    # hash-green one), it must sit BEHIND every oracled query — green
    # or not — so the driver's 50-query sample prefix spends every
    # slot on a verifiable check. Pinned with a synthetic spec since
    # the real registry currently has none.
    fake = registry.QuerySpec(
        name="zz_fake_rows_only",
        fn=lambda spark, sf: None,
        oracle=None,
        doc="synthetic",
    )
    monkeypatch.setattr(registry, "_SPECS", registry._SPECS + [fake])
    names = list(registry.queries())
    assert names[-1] == "zz_fake_rows_only", (
        "an oracle-less spec sits ahead of oracled queries"
    )
    assert "zz_fake_rows_only" not in names[:-1]
