"""Seeded input generators for the benchmark workloads.

Every generator takes the run's ``--seed`` and writes plain files
(parquet tables, CMS-shaped CSVs, JSON-lines micro-batches); the same
seed gives byte-identical files. Where outputs are checked against
values other than the registry's oracle SQL, the generator computes
those values here, in Python, never with the package.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "the a line sort window stream big small data column group order "
    "join filter query customer vector"
).split()

MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_NAMES_A = ["red", "small", "hot", "old", "large", "blue", "green", "cold"]
P_NAMES_B = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "nut"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a table never
    shifts the values drawn for another."""
    salt = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(base: datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype(np.int64), type=pa.timestamp("us"))


# --------------------------------------------------------------------------
# TPC-H-shaped star schema plus events, documents and embeddings
# --------------------------------------------------------------------------


def write_tables(out_dir: str, seed: int, *, sf: float, tables=None,
                 docs: int = 0, vectors: int = 0) -> dict[str, int]:
    """Write the relational tables at scale ``sf`` (lineitem ≈ 6M·sf
    rows; ``tables`` limits which) and, when asked, ``documents`` and
    ``embeddings``. Each table draws from its own seeded stream.
    Returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    want = set(tables) if tables is not None else {
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"}
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 1000)
    counts: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows

    if "region" in want:
        put("region", {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        })
    if "nation" in want:
        put("nation", {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        })
    if "customer" in want:
        r = rng_for(seed, "customer")
        put("customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [MKT_SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
        })
    if "supplier" in want:
        r = rng_for(seed, "supplier")
        put("supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
        })
    if "part" in want:
        r = rng_for(seed, "part")
        put("part", {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{P_NAMES_A[a]} {P_NAMES_B[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": [P_TYPES[i] for i in r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(r.uniform(900, 1000, n_part), 1),
        })
    if want & {"orders", "lineitem"}:
        r = rng_for(seed, "orders")
        order_days = r.integers(0, 6 * 365 + 212, n_ord)
        orders = {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts(datetime(1995, 1, 1), order_days * 86_400_000_000),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
        }
        if "orders" in want:
            put("orders", orders)
    if "lineitem" in want:
        r = rng_for(seed, "lineitem")
        lines = r.integers(1, 8, n_ord)
        n_li = int(lines.sum())
        okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
        lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
        qty = r.integers(1, 51, n_li).astype(np.float64)
        ship = np.repeat(order_days, lines) + r.integers(1, 122, n_li)
        put("lineitem", {
            "l_orderkey": okey,
            "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
            "l_shipdate": _ts(datetime(1995, 1, 1), ship * 86_400_000_000),
        })
    if "events" in want:
        r = rng_for(seed, "events")
        n_users = max(n_ev // 67, 10)
        ev_off = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
        put("events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(datetime(2024, 1, 1), ev_off),
            "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
            "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)],
        })
    if docs:
        r = rng_for(seed, "documents")
        texts = corpus_texts(seed, docs)
        put("documents", {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in r.integers(0, len(LANGS), docs)],
            "source": [f"src{i}" for i in r.integers(0, 20, docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if vectors:
        r = rng_for(seed, "embeddings")
        labels = r.integers(0, 10, vectors)
        centers = r.normal(0, 1, (10, 64))
        emb = centers[labels] + r.normal(0, 0.6, (vectors, 64))
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        put("embeddings", {
            "vec_id": np.arange(vectors, dtype=np.int64),
            "embedding": pa.array(list(emb.astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    return counts


def _random_text(r: np.random.Generator, lo: int, hi: int) -> list[str]:
    return [VOCAB[i] for i in r.integers(0, len(VOCAB), r.integers(lo, hi))]


def corpus_texts(seed: int, n: int) -> list[str]:
    """Documents with planted structure: ~5 % exact copies and ~10 %
    near copies (one token appended) of earlier documents, the rest
    random. Random pairs share almost no word 3-grams."""
    r = rng_for(seed, "corpus")
    texts: list[str] = []
    for i in range(n):
        roll = r.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.15:
            texts.append(texts[int(r.integers(0, i))] + " " + VOCAB[int(r.integers(0, len(VOCAB)))])
        else:
            texts.append(" ".join(_random_text(r, 40, 121)))
    return texts


def near_copy(text: str, r: np.random.Generator) -> str:
    """One appended token: word-3-gram Jaccard n/(n+1) with the source,
    ≥ 0.98 for the ≥ 80-token sources this is applied to, so minhash
    banding (16 hashes × 4 bands) finds the pair with probability above
    1 − 1e-5."""
    return text + " " + VOCAB[int(r.integers(0, len(VOCAB)))]


def distractor(text: str, r: np.random.Generator) -> str:
    """Half the tokens replaced: shares a few 3-grams, Jaccard < 0.3."""
    toks = text.split()
    for i in range(0, len(toks), 2):
        toks[i] = f"d{int(r.integers(0, 10**6))}"
    return " ".join(toks)


# --------------------------------------------------------------------------
# streaming ingest micro-batches
# --------------------------------------------------------------------------


class StreamBatches:
    """Closed-loop document micro-batches against a corpus.

    Each batch mixes fresh documents, exact and near copies of corpus
    documents, within-batch exact and near copies of its own fresh
    documents (always with a higher id than their source, since the
    ingest keeps the lower id), near copies of documents accepted in
    earlier batches, and distractors. Only the fresh documents and
    distractors are expected to be accepted."""

    def __init__(self, seed: int, texts: list[str], batch_docs: int = 60):
        self.r = rng_for(seed, "stream")
        self.texts = texts
        self.long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= 80]
        self.batch_docs = batch_docs
        self.accepted_texts: list[str] = []
        self.next_id = 20_000_000

    def _id(self) -> int:
        self.next_id += 1
        return self.next_id

    def next_batch(self) -> tuple[list[tuple[int, str]], set[int]]:
        r = self.r
        n = self.batch_docs
        fresh = [(self._id(), " ".join(_random_text(r, 80, 121)))
                 for _ in range(n // 2)]
        dis = [(self._id(), distractor(self.texts[int(r.integers(0, len(self.texts)))], r))
               for _ in range(n // 10)]
        rows = fresh + dis
        expected = {i for i, _ in rows}
        k = max(n // 12, 1)
        for _ in range(k):
            rows.append((self._id(), self.texts[int(r.integers(0, len(self.texts)))]))
            rows.append((self._id(), near_copy(self.texts[self.long_ids[int(r.integers(0, len(self.long_ids)))]], r)))
            src = fresh[int(r.integers(0, len(fresh)))][1]
            rows.append((self._id(), near_copy(src, r)))
            rows.append((self._id(), src))
            if self.accepted_texts:
                old = self.accepted_texts[int(r.integers(0, len(self.accepted_texts)))]
                rows.append((self._id(), near_copy(old, r)))
        self.accepted_texts.extend(t for _, t in fresh)
        order = r.permutation(len(rows))
        return [rows[i] for i in order], expected


def write_jsonl(rows: list[tuple[int, str]], path: str) -> None:
    """Land one micro-batch atomically: write beside, then rename in."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    with open(tmp, "w", encoding="utf-8") as fh:
        for did, text in rows:
            fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    os.replace(tmp, path)


# --------------------------------------------------------------------------
# CMS-shaped nursing-home CSVs
# --------------------------------------------------------------------------

PENALTY_HEADER = [
    "CMS Certification Number (CCN)", "Penalty Date", "Penalty Type",
    "Fine Amount", "Payment Denial Length in Days", "State", "Provider Name",
]
CLAIMS_HEADER = [
    "CCN", "Measure Code", "Period Start", "Period End", "Score Value",
    "Numerator", "Denominator",
]
STATES = ["TX", "CA", "FL", "NY", "OH", "PA", "IL", "GA", "NC", "MI", "AL", "WA"]

NH_SPECS = {
    "datasets": {
        "penalties": {
            "filename_pattern": "NH_Penalties_*.csv",
            "staging_table": "staging_penalties",
            "natural_key": ["cms_certification_number_ccn", "penalty_date", "penalty_type"],
            "columns": {
                "cms_certification_number_ccn": {"type": "string"},
                "penalty_date": {"type": "date"},
                "penalty_type": {"type": "string"},
                "fine_amount": {"type": "numeric"},
                "payment_denial_length_in_days": {"type": "int"},
                "state": {"type": "string"},
                "provider_name": {"type": "string"},
            },
        },
        "quality_claims": {
            "filename_pattern": "NH_QualityMsr_Claims_*.csv",
            "staging_table": "staging_quality_claims",
            "natural_key": ["ccn", "measure_code", "period_start", "period_end"],
            "columns": {
                "ccn": {"type": "string"},
                "measure_code": {"type": "string"},
                "period_start": {"type": "date"},
                "period_end": {"type": "date"},
                "score_value": {"type": "numeric"},
                "numerator": {"type": "numeric"},
                "denominator": {"type": "numeric"},
            },
        },
    }
}


def _csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _fmt(v) -> str:
    return "" if v is None else (repr(v) if isinstance(v, float) else str(v))


def write_nh_csvs(out_dir: str, seed: int, *, facilities: int,
                  quarters: int = 8) -> dict:
    """Land the CMS-shaped CSVs (FIXTURES.md §1–3) and return the
    expected pipeline outputs: staged rows per dataset, the number of
    ``warn`` rows the duplicate-key audit writes, ``zero_blanked_rows``,
    the metric row count, the sum of ``total_nurse_hours`` and the CSV
    input row count."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "nh")
    # skewed facility counts per state: state i gets weight 1/(i+1)
    w = 1.0 / np.arange(1, len(STATES) + 1)
    fac_state = [STATES[i] for i in r.choice(len(STATES), facilities, p=w / w.sum())]
    provnum = [f"{int(x):06d}" for x in r.choice(10**6, facilities, replace=False)]
    input_rows = 0

    # penalties: two files, the second missing the denial-days column
    pen = []
    base = datetime(2023, 1, 1)
    for i in range(facilities * 2):
        f = int(r.integers(0, facilities))
        date = (base + timedelta(days=int(r.integers(0, 700)))).strftime("%m/%d/%Y")
        if r.random() < 0.03:
            date = "not-a-date"
        ptype = "Fine" if r.random() < 0.8 else "Payment Denial"
        fine = None if r.random() < 0.1 else round(float(r.uniform(0, 50_000)), 2)
        denial = int(r.integers(1, 60)) if ptype == "Payment Denial" else None
        name = f"Home {i}, Inc." if i % 17 == 0 else f"Care Home {i}"
        pen.append([provnum[f], date, ptype, fine, denial, fac_state[f], name])
    n_dups = max(facilities // 50, 1)
    dup_rows = []
    for k in range(n_dups):
        src = pen[k * 2]
        if src[1] == "not-a-date":
            src[1] = "01/02/2024"
        dup_rows.append(list(src[:3]) + [1.0, src[4], src[5], "Duplicate Key Row"])
    pen.extend(dup_rows)
    half = len(pen) // 2
    _csv(os.path.join(out_dir, "NH_Penalties_0.csv"), PENALTY_HEADER,
         [[_fmt(v) for v in row] for row in pen[:half]])
    _csv(os.path.join(out_dir, "NH_Penalties_1.csv"),
         [h for h in PENALTY_HEADER if h != "Payment Denial Length in Days"],
         [[_fmt(v) for j, v in enumerate(row) if j != 4] for row in pen[half:]])
    input_rows += len(pen)

    # quality claims: one file, with NULL scores, zero denominators and a
    # planted duplicate natural key
    claims = []
    for f in range(facilities):
        for code in ("004", "005"):
            num = None if r.random() < 0.05 else float(r.integers(0, 100))
            den = 0.0 if r.random() < 0.05 else float(r.integers(1, 200))
            score = None if num is None or den == 0 else round(num / den, 4)
            claims.append([provnum[f], code, "01/01/2023", "12/31/2023", score, num, den])
    claims.append(list(claims[0]))
    _csv(os.path.join(out_dir, "NH_QualityMsr_Claims_2024.csv"), CLAIMS_HEADER,
         [[_fmt(v) for v in row] for row in claims])
    input_rows += len(claims)

    # PBJ staffing: census + total hours in one file, contract/employed
    # hours in the other, joined on (PROVNUM, CY_Qtr) as written
    pbj_a, pbj_b = [], []
    zero_blanked = 0
    metric_rows = 0
    hours_sum = 0.0
    for f in range(facilities):
        for q in range(quarters):
            year, qn = 2022 + q // 4, q % 4 + 1
            raw_q = (f"{year}Q{qn}", f"{year} Q{qn}", f"{year}-{qn}")[int(r.integers(0, 3))]
            valid_q = r.random() >= 0.01
            if not valid_q:
                raw_q = f"Qtr{q}-unknown"  # no year: normalizes to NULL
            census = round(float(r.uniform(20, 200)), 1)
            hrs = [round(float(r.uniform(10, 400)), 2) for _ in range(3)]
            census_cell = census
            roll = r.random()
            if roll < 0.02:
                census, census_cell = 0.0, 0.0
            elif roll < 0.04:
                census, census_cell = None, "N/A"
            elif roll < 0.06:
                hrs[int(r.integers(0, 3))] = 0.0
            ctr = [None if r.random() < 0.1 else round(float(r.uniform(0, 50)), 2) for _ in range(3)]
            emp = [round(float(r.uniform(1, 300)), 2) for _ in range(3)]
            if r.random() < 0.02:
                emp = [0.0, 0.0, 0.0]
            pbj_a.append([provnum[f], fac_state[f], raw_q, census_cell, *hrs])
            pbj_b.append([provnum[f], raw_q, *ctr, *emp])
            zero = (census == 0.0) or any(h == 0.0 for h in hrs)
            zero_blanked += zero
            if zero or census is None or not valid_q:
                continue
            if sum(emp) == 0.0:
                continue
            metric_rows += 1
            hours_sum += (hrs[0] + hrs[1]) + hrs[2]
    _csv(os.path.join(out_dir, "PBJ_Daily_Nurse_Staffing_A.csv"),
         ["PROVNUM", "STATE", "CY_Qtr", "MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"],
         [[_fmt(v) for v in row] for row in pbj_a])
    _csv(os.path.join(out_dir, "PBJ_Daily_Nurse_Staffing_B.csv"),
         ["PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
          "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"],
         [[_fmt(v) for v in row] for row in pbj_b])
    # decoy: a CSV without the join keys, which the staffing scan skips
    _csv(os.path.join(out_dir, "State_Averages.csv"), ["STATE", "avg_rating"],
         [[s, round(float(r.uniform(1, 5)), 2)] for s in STATES])
    input_rows += len(pbj_a) + len(pbj_b) + len(STATES)
    return {
        "staged": {"penalties": len(pen), "quality_claims": len(claims)},
        "dup_warn_rows": 2,
        "zero_blanked_rows": zero_blanked,
        "metric_rows": metric_rows,
        "total_nurse_hours": hours_sum,
        "input_rows": input_rows,
    }
