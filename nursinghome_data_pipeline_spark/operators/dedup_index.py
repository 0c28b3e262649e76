"""At-rest near-duplicate index: dedup a batch WITHOUT rescanning the corpus.

``incremental_ingest_dedup`` (registry) already shows the exact-dup
half of incremental ingest: anti-join the batch against a persisted
fingerprint column, O(batch) work. This module is the NEAR-dup half —
the one that actually hurts at 100 TB, because the in-memory
:func:`~.dedup.near_duplicate_pairs` re-shingles and re-bands the
ENTIRE corpus on every call: a daily 0.1% increment would pay a
99.9%-redundant full-corpus pass, every day.

Three index kinds share one lifecycle: ``"minhash"`` (Jaccard),
``"simhash"`` (Hamming) and ``"srp"`` (embedding cosine,
``operators/embedding_index.py``). Each kind is one :class:`Family`
record holding only what differs — its projection, bucket join keys,
verify score, ``pb`` routing formula and bucket sizing — and every
kind-independent step is written once against it:
:func:`route_append` (append routing), :func:`batch_against_index` /
:func:`probe_index_with_rows` (the batch probe), :func:`pairs_from_rows`
(the in-batch pair pass), and, in ``similarity.py``,
``compact_ann_index``. :data:`FAMILIES` is the one list of kinds. The
in-memory near-dup operators are the same code too: each is its
family's projection at a one-directory geometry (``n_buckets=1``)
followed by :func:`pairs_from_rows`, so the in-memory, streaming and
at-rest paths cannot drift apart.

Minhash layout (``write_dedup_index``): one parquet table partitioned
by ``pb = band · n_buckets + (band_key mod n_buckets)`` — a bounded
directory count (``bands × n_buckets``) with uniform hash occupancy.
Each row carries the doc's id, its band key, AND its distinct shingle
hashes (``sh``), so a probe is ONE pruned scan + band-key join + exact
Jaccard verify against ``sh`` — no second corpus lookup. The ``sh``
array is duplicated ``bands``× (by default 4×); that is the deliberate
postings-carry-payload trade, MEASURED and kept (r10, after the srp
index switched the other way): at 1M docs the normalized alternative
(postings stripped to (pb, band, bkey, id) + one ``sh`` row per doc
under hash-of-id directories) read 3.6× smaller at rest but probed
2.5× slower (5.62 s vs 2.29 s, pair set equal — SCALE.md r10), because
the variable-length ``sh`` fetch join moves the same heavy arrays the
duplication would have co-located. The srp index's 10×-duplicated
fixed-width vectors cut the other way (7.9× storage for +16% probe) —
the trade is payload-size- and fan-out-dependent, not doctrine.
Shingle hashes, not text — the index never stores corpus text at all.
The simhash layout is the same table partitioned by
``pb = xxhash64(bucket) mod n_buckets``, rows carrying the packed
chunk-bucket key and the full 64-bit fingerprint.

Probe: the batch's routing keys pick the ``pb`` partitions to read —
once the corpus outgrows one directory per band
(:func:`auto_dedup_buckets`) a small batch touches a bounded set of
directories and the scan's ``PartitionFilters`` prune everything else
at FILE level (same mechanism, and the same plan gate in tests, as the
IVF/LSH ANN indexes). Candidates then verify with the exact same score
as the in-memory operator, so the result is BIT-IDENTICAL to running
that operator over corpus ∪ batch and keeping the cross pairs (pinned
by ``tests/test_dedup_index.py``, ``test_simhash_index.py`` and
``test_srp_index.py``).

Lifecycle: the near-dup kinds ride the SAME sidecar + append/compact
protocol as the ANN indexes (:func:`~.similarity.append_to_ann_index`
routes new docs with the sidecar's own geometry;
:func:`~.similarity.compact_ann_index` bounds files per directory
under the Dekker intent/lock handshake). Appends are LSM-style (r9):
each batch lands as ONE file in a ``pb=-1`` delta directory
(:data:`DELTA_PB`) that every probe also reads, and compaction merges
deltas into their true buckets — append cost ∝ batch instead of ∝
``bands × n_buckets`` file creations.

The same probe is decontamination-at-rest: index the TRAINING corpus
once, probe with the evaluation/benchmark set — every returned pair is
a contaminated training doc, found without rescanning the corpus (the
in-memory `corpus.decontaminate` twin re-shingles the corpus per
benchmark sweep).

Reference parity note: the reference pipeline has no dedup at all;
this extends the engine-native dedup family (SURVEY §2.10 ext) to the
incremental-ingest shape a training-data pipeline needs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import (
    _check_banding,
    band_key_col,
    jaccard_verify_col,
    minhash_signature_col,
    shingle_hash_col,
)
from .similarity import (
    _commit_index,
    load_ann_meta,
    read_matched_partitions,
)

from .. import fs


#: Internal projection names of the text kinds (`sig` is
#: _banded_rows-local; pb/band/bkey/sh persist in the minhash index;
#: bucket/sh in the simhash index; batch_id/corpus_id/hamming are probe
#: output aliases). A caller id_col with one of these names would
#: silently collide or misbind, so writers and probes refuse it (as
#: ``skew.bucketed_global_order`` refuses ``__pid`` and its outputs).
_RESERVED_COLS = frozenset(
    {"pb", "band", "bkey", "sh", "sig", "bucket",
     "batch_id", "corpus_id", "hamming"}
)

#: partition value of the LSM-style append delta (r9). Builds route
#: every posting to its real ``pb`` directory; APPENDS instead land
#: whole in the single ``pb=-1`` directory, one file per append —
#: cost ∝ batch, not ∝ ``bands × n_buckets`` (the routed append wrote
#: ≤1 file into EVERY matched directory, measured 3.5 s of a 6.9 s
#: ingest micro-batch for ~230 file creations + commits). Probes read
#: their matched directories PLUS the delta (bounded by the
#: compaction cadence — ~32 micro-batches of postings, a trivial
#: scan); compaction re-routes delta rows to their true buckets from
#: the STORED routing columns, so the compacted index is bit-identical
#: to a fresh rebuild. Real pb values are non-negative by
#: construction (band·n_buckets + pmod ≥ 0), so -1 can never collide.
DELTA_PB = -1


@dataclass(frozen=True)
class Family:
    """One near-dup index kind: only what differs between kinds.

    ``project(df, meta)`` is the kind's routed-row projection at the
    sidecar's geometry (``pb``, the join ``keys``, the id, and the
    ``members(meta)`` payload columns the ``score`` verifies —
    ``score(a, b)`` takes the two sides' member columns in that
    order). A pair passes when its score is ``<=`` the threshold for
    an ``at_most`` family (Hamming) and ``>=`` otherwise. ``pb(nb)``
    recomputes the partition value from the STORED routing columns;
    ``rows_per_doc(meta)`` is how many rows one doc posts into one
    fan-out group (the ``auto_dedup_buckets`` input per doc) and
    ``fanout_key`` names the sidecar value multiplying ``n_buckets``
    into the directory count. ``check_threshold(meta, threshold,
    caller)`` resolves and sanity-checks a probe threshold against the
    geometry; ``fetch`` is the srp-only step between candidates and
    scoring."""

    kind: str
    payload_key: str
    project: Callable[[DataFrame, dict], DataFrame]
    keys: tuple[str, ...]
    members: Callable[[dict], tuple[str, ...]]
    score: Callable[[list[Column], list[Column]], Column]
    score_name: str
    measure: str
    at_most: bool
    pb: Callable[[int], Column]
    fanout_key: str | None
    rows_per_doc: Callable[[dict], int] = lambda meta: 1
    check_threshold: Callable = lambda meta, threshold, caller: threshold
    fetch: Callable | None = None

    def passes(self, score: Column, threshold) -> Column:
        return score <= F.lit(threshold) if self.at_most else score >= F.lit(threshold)

    def dirs(self, meta: dict) -> int:
        """Posting directory count of the sidecar's geometry."""
        fan = int(meta[self.fanout_key]) if self.fanout_key else 1
        return fan * int(meta["n_buckets"])

    def auto_buckets(self, n_docs: int, meta: dict) -> int:
        return auto_dedup_buckets(n_docs * self.rows_per_doc(meta))


def side_col(member: str, side: str) -> str:
    """Probe alias of a member column on the batch (``b``) or corpus
    (``c``) side of a candidate pair."""
    return f"_{member}_{side}"


def as_delta_append(rows: DataFrame, *, pinned: bool = False) -> DataFrame:
    """Stamp a routed family projection as one LSM delta append: every
    row goes to the ``pb=-1`` directory in a single file (micro-batch
    appends are small by contract — a bulk backfill should use the
    kind's writer or compact right after). The routing columns stay
    untouched — they are what compaction re-routes from and what
    probes join on, so delta rows match candidates exactly like base
    rows. Rows computed from a ``pinned`` (checkpointed) projection
    gather into the one file without a shuffle job; otherwise a
    shuffle keeps the projection itself parallel."""
    stamped = rows.withColumn("pb", F.lit(DELTA_PB).cast("int"))
    return stamped.coalesce(1) if pinned else stamped.repartition(1)


def _require_unreserved(reserved, caller: str, **cols: str) -> None:
    for role, name in cols.items():
        if name in reserved:
            raise ValueError(
                f"{caller}: {role} {name!r} collides with an internal "
                f"index column — rename it (reserved: {sorted(reserved)})"
            )


def _require_columns(df: DataFrame, meta: dict, what: str) -> None:
    """An input (build corpus, append or probe batch) lacking the
    index's id/payload columns fails with the columns NAMED, not a raw
    AnalysisException from the projection."""
    pk = family(meta).payload_key
    missing = {meta["id_col"], meta[pk]} - set(df.columns)
    if missing:
        raise ValueError(
            f"{what} {meta['kind']} index: input lacks column(s) "
            f"{sorted(missing)} — the index uses "
            f"id_col={meta['id_col']!r}, {pk}={meta[pk]!r}"
        )


def _banded_rows(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    n_buckets: int,
) -> DataFrame:
    """(pb, band, bkey, <id>, sh) rows — bands rows per doc, the shared
    projection for index build, append routing, the batch side of the
    probe and the in-memory operator. One pass: tokenize/shingle once,
    signature once."""
    _require_unreserved(_RESERVED_COLS, "_banded_rows", id_col=id_col)
    _check_banding(n_hashes, bands)
    rows_per_band = n_hashes // bands
    sig = df.select(
        F.col(id_col),
        minhash_signature_col(
            text_col, n_hashes=n_hashes, shingle_k=shingle_k
        ).alias("sig"),
        F.array_distinct(shingle_hash_col(text_col, shingle_k)).alias("sh"),
    )
    banded = sig.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key_col(F.col("sig"), b, rows_per_band).alias(
                            "bkey"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    )
    return banded.select(
        (F.col("bh.band") * n_buckets + F.pmod(F.col("bh.bkey"), F.lit(n_buckets)))
        .cast("int")
        .alias("pb"),
        F.col("bh.band").alias("band"),
        F.col("bh.bkey").alias("bkey"),
        id_col,
        "sh",
    )


def _simhash_rows(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    hash_family: str,
    n_chunks: int,
    chunks_per_key: int,
    n_buckets: int,
) -> DataFrame:
    """(pb, bucket, <id>, sh) rows — keys_per_doc rows per doc, the
    shared projection for build, append routing, the probe's batch
    side and the in-memory operator. Fingerprint once, explode the
    packed keys once. The bucket formula is owned by
    :func:`~.dedup.simhash_bucket_keys`; ``pb`` mixes the packed key
    through xxhash64 before the mod because the key's low bits are raw
    chunk bits (a plain mod would route every combo's chunk-value
    residue to the same few directories)."""
    from .dedup import simhash_bucket_keys, simhash_col

    _require_unreserved(_RESERVED_COLS, "_simhash_rows", id_col=id_col)
    sig = df.select(
        F.col(id_col),
        simhash_col(text_col, hash_family=hash_family).alias("sh"),
    )
    keys = simhash_bucket_keys(
        F.col("sh"), n_chunks=n_chunks, chunks_per_key=chunks_per_key
    )
    banded = sig.select(
        id_col, "sh", F.explode(F.array(*keys)).alias("bucket")
    )
    return banded.select(
        F.pmod(F.xxhash64(F.col("bucket")), F.lit(n_buckets))
        .cast("int")
        .alias("pb"),
        "bucket",
        id_col,
        "sh",
    )


def simhash_keys_per_doc(n_chunks: int, chunks_per_key: int) -> int:
    """Rows each doc posts: n_chunks single-chunk keys, or
    C(n_chunks, 2) pair-chunk keys."""
    if chunks_per_key == 1:
        return n_chunks
    return n_chunks * (n_chunks - 1) // 2


def _warn_if_beyond_pigeonhole(meta: dict, max_hamming: int, caller: str):
    """The simhash banding guarantees candidate generation only for
    pairs within ``n_chunks − chunks_per_key`` bits (the pigeonhole
    bound — see ``dedup.simhash_near_duplicate_pairs``); a looser
    ``max_hamming`` is a verify threshold, not a recall promise. Warn,
    mirroring the srp looser-than-design warning. Returns
    ``max_hamming`` (the :attr:`Family.check_threshold` contract)."""
    guarantee = int(meta["n_chunks"]) - int(meta["chunks_per_key"])
    if max_hamming > guarantee:
        import warnings

        warnings.warn(
            f"{caller}: max_hamming={max_hamming} "
            f"exceeds the index geometry's pigeonhole guarantee "
            f"(h <= {guarantee} for {meta['n_chunks']} chunks x "
            f"{meta['chunks_per_key']}-chunk keys) — pairs at "
            f"Hamming {guarantee + 1}..{max_hamming} may be missed "
            "by banding",
            UserWarning,
            stacklevel=3,
        )
    return max_hamming


MINHASH = Family(
    kind="minhash",
    payload_key="text_col",
    project=lambda df, m: _banded_rows(
        df,
        id_col=m["id_col"],
        text_col=m["text_col"],
        n_hashes=int(m["n_hashes"]),
        bands=int(m["bands"]),
        shingle_k=int(m["shingle_k"]),
        n_buckets=int(m["n_buckets"]),
    ),
    keys=("band", "bkey"),
    members=lambda m: ("sh",),
    score=lambda a, b: jaccard_verify_col(a[0], b[0]),
    score_name="jaccard",
    measure="jaccard",
    at_most=False,
    pb=lambda nb: F.col("band") * nb + F.pmod(F.col("bkey"), F.lit(nb)),
    fanout_key="bands",
)

SIMHASH = Family(
    kind="simhash",
    payload_key="text_col",
    project=lambda df, m: _simhash_rows(
        df,
        id_col=m["id_col"],
        text_col=m["text_col"],
        hash_family=m["hash_family"],
        n_chunks=int(m["n_chunks"]),
        chunks_per_key=int(m["chunks_per_key"]),
        n_buckets=int(m["n_buckets"]),
    ),
    keys=("bucket",),
    members=lambda m: ("sh",),
    score=lambda a, b: F.bit_count(a[0].bitwiseXOR(b[0])),
    score_name="hamming",
    measure="hamming",
    at_most=True,
    pb=lambda nb: F.pmod(F.xxhash64(F.col("bucket")), F.lit(nb)),
    fanout_key=None,
    rows_per_doc=lambda m: simhash_keys_per_doc(
        int(m["n_chunks"]), int(m["chunks_per_key"])
    ),
    check_threshold=_warn_if_beyond_pigeonhole,
)

#: THE near-dup index kinds. The srp record lives in embedding_index
#: (which imports this module), so :func:`family` resolves it lazily.
FAMILIES: dict[str, Family | None] = {
    "minhash": MINHASH,
    "simhash": SIMHASH,
    "srp": None,
}


def family(meta: dict, caller: str = "near-dup index") -> Family:
    """The :class:`Family` of a sidecar; a non-near-dup kind (ivf/lsh,
    a foreign sidecar) fails with the kinds named, not later with a
    KeyError on a missing geometry field."""
    kind = meta.get("kind")
    if kind not in FAMILIES:
        *head, last = [repr(k) for k in FAMILIES]
        raise ValueError(
            f"{caller}: kind={kind!r} is not supported — the near-dup "
            f"index kinds are {', '.join(head)}, or {last}"
        )
    if kind == "srp":
        from .embedding_index import SRP

        return SRP
    return FAMILIES[kind]


def dedup_index_bucket_stats(
    spark, path: str, *, top_k: int = 10
) -> dict:
    """Hot-bucket debug stat (r9): postings per BAND KEY of an at-rest
    dedup index — the ``top_k`` hottest keys plus max/mean/key-count,
    so one small collect answers "is this index poisoned by a hot
    bucket?".

    Probe cost is O(batch + matched-bucket population) and a bucket's
    pair contribution is population², so ONE hot key — mass-duplicated
    boilerplate that survived exact dedup because of trivial
    variations — quietly turns a bounded probe into a quadratic scan.
    Band keys hash 4-row signature slices, so under uniform content
    the max should sit within a small factor of
    ``n_docs / distinct keys``; a max orders of magnitude above that
    is the boilerplate signature. Remedies, in order: run
    ``exact_dedup_fingerprints`` (and ``passage_dedup`` for shared
    passages) BEFORE indexing; raise ``shingle_k`` so boilerplate
    shingles stop dominating the minhash; drop the offending docs.
    Works for all three dedup kinds — for ``kind="simhash"`` the key
    is the packed chunk ``bucket`` (reported with ``band = -1``); for
    ``kind="srp"`` it is the per-table sign-projection ``bucket``
    (reported with ``band = tbl``, and the remedy for a hot key is
    exact-dedup-by-vector before indexing).

    One aggregation over the index, one bounded (top_k+1)-row collect —
    at 100 TB run it on the cadence that runs compaction, not per
    probe. Returns a plain dict:
    ``{kind, n_postings, n_keys, max_postings_per_key,
    mean_postings_per_key, top: [(band, bkey, n_postings), ...]}``."""
    meta = load_ann_meta(path)
    keys = family(meta, "dedup_index_bucket_stats").keys
    band = F.col(keys[0]) if len(keys) == 2 else F.lit(-1)
    # srp vector rows (NULL tbl/bucket) are storage, not postings
    keyed = spark.read.parquet(fs.active_data_root(path)).dropna(
        subset=list(keys)
    ).select(band.alias("band"), F.col(keys[-1]).alias("bkey"))
    counts = keyed.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).alias("n_postings")
    )
    summary = counts.agg(
        F.sum("n_postings").alias("total"),
        F.count(F.lit(1)).alias("keys"),
        F.max("n_postings").alias("mx"),
    ).collect()[0]
    top = (
        counts.orderBy(F.desc("n_postings"), "band", "bkey")
        .limit(top_k)
        .collect()
    )
    n_keys = int(summary["keys"] or 0)
    total = int(summary["total"] or 0)
    return {
        "kind": meta["kind"],
        "n_postings": total,
        "n_keys": n_keys,
        "max_postings_per_key": int(summary["mx"] or 0),
        "mean_postings_per_key": (total / n_keys) if n_keys else 0.0,
        "top": [
            (int(r["band"]), int(r["bkey"]), int(r["n_postings"]))
            for r in top
        ],
    }


def auto_dedup_buckets(
    n_docs: int,
    *,
    target_docs_per_dir: int = 4096,
    hi: int = 4096,
) -> int:
    """Payload-sized ``n_buckets``: hold directory payload constant as
    the corpus grows — the same sizing logic as
    :func:`~.similarity.auto_lsh_planes`, applied to the dedup index's
    partition geometry. Each fan-out group (band / srp table) spreads
    its ``n_docs`` rows over ``n_buckets`` directories, so
    ``n_buckets`` is the next power of two of ``n_docs /
    target_docs_per_dir`` (floor 1): one directory stays a comfortable
    scan-task unit at any corpus size (the fixed 64-bucket default
    reads 15M rows/dir at a 10⁹-doc corpus); callers pass rows per
    group (:meth:`Family.auto_buckets`). A power of two keeps bucket
    populations uniform under the pmod. A small index is ONE directory
    per group: below the target the probe reads most of the index
    anyway, and every extra directory is a write-time file plus, on a
    local FS without native IO, a ``chmod`` fork per file — MEASURED
    (SCALE.md "Near-dup index geometry, payload-sized"): a 100-doc
    build 1.30 s at the former 16-bucket floor vs 0.58 s at 1, and the
    probe no slower at 1 up to 20k docs. Above ``hi`` (4 096 dirs ≈
    the measured discovery-tax regime the matched-dirs read already
    absorbs) size by hand. Pure driver arithmetic — pin-testable."""
    want = max(1, -(-n_docs // target_docs_per_dir))
    return min(hi, 1 << (want - 1).bit_length())


def route_append(df: DataFrame, meta: dict) -> DataFrame:
    """Append routing for the near-dup kinds — called by
    :func:`~.similarity.append_to_ann_index` so new batches route with
    the SIDECAR's geometry (never recomputed parameters).

    Appends are LSM-style deltas (r9, see :data:`DELTA_PB`): the whole
    batch lands as ONE file in the ``pb=-1`` directory instead of ≤1
    file in every matched directory. The r8 routed-append cadence
    measured probe latency +25% after 32 appends and 3.0× after 128
    from exactly that per-directory file growth; the delta form writes
    one file per append regardless of geometry, and probes pay one
    small extra directory scan bounded by the compaction cadence.
    **Compact every ~32 appends** still — compaction
    (``compact_ann_index``) re-routes delta rows to their true buckets
    from the stored routing columns, bit-identical to a fresh
    rebuild."""
    _require_columns(df, meta, "append to")
    return as_delta_append(family(meta).project(df, meta))


def write_dedup_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    n_buckets: int | str = "auto",
    n_docs: int | None = None,
    files_per_partition: int | None = 1,
) -> None:
    """Build the at-rest near-dup index (see module docstring).

    ``n_buckets`` trades directory count against pruning granularity:
    ``bands × n_buckets`` directories total, and a probe reads the
    batch's matched buckets only — size it so one directory's postings
    fit comfortably in a scan task (the same dial as the ANN indexes'
    cell/bucket count). The default ``"auto"`` sizes it from the
    payload alone (:func:`auto_dedup_buckets`; pass ``n_docs`` to skip
    the internal count): a corpus under ~4k docs is ONE directory per
    band, read flat by every probe, and the geometry doubles with the
    corpus the way ``n_planes="auto"`` does for the embedding LSH
    (``compact_ann_index(regeometry=True)`` re-sizes a grown index).
    An explicit ``n_buckets`` builds any geometry; answers never
    depend on it, since the bucket is a function of the band key.

    ``(n_hashes, bands)`` set the recall curve, and the curve is
    MEASURED, not assumed (tests/test_minhash_recall.py + SCALE.md
    "minhash banding recall"): recall at Jaccard j is
    ``dedup.banding_detection_prob(j, n_hashes=…, bands=…)`` =
    ``1−(1−j^r)^b`` within sampling tolerance for this signature
    family. Guidance from the measured table: the default 16×4
    (r=4) reads ~0.99 at j≈0.90 but only ~0.59 at j≈0.67 — size for
    the LOOSEST threshold you probe at. Holding r=4 and doubling
    bands (32×8) lifts the j≈0.67 floor to ~0.83 at 2× signature
    cost; 64×16 reaches ~0.97. Raising r at fixed bands (32×4, r=8)
    COSTS recall at every level (~0.91 at j≈0.90) — do that only to
    suppress low-j candidate noise, never to "use more hashes".
    Recall composes with the banding only — the exact verify never
    rejects a true pair above ``threshold``.

    Probe cost is O(batch + matched-bucket population), so a corpus
    carrying m exact copies of one document makes every probe that
    hits their bucket verify against all m (same population² caveat
    as the in-memory operator): run ``exact_dedup_fingerprints``
    before indexing — the streaming ingest loop does this as its
    stage 1, so index growth through the loop stays copy-free.

    Unlike the IVF/LSH writers, ``files_per_partition`` DEFAULTS ON
    (1): band keys are uniform by construction, so a shuffle-free
    write puts every input task's rows into every directory — measured
    121,776 files for a 600k-row index at 4×1024 geometry, and the
    probe paid 13.4 s of listing/footer tax to read 9% of the bytes
    (SCALE.md r7). One build-time shuffle bounds it to
    ``bands × n_buckets × files_per_partition`` files forever. Pass
    ``None`` only when the caller compacts separately."""
    fs.check_fs(path, "write_dedup_index")
    # before the auto-sizing count — a reserved id_col must not cost
    # a full corpus scan to discover
    _require_unreserved(_RESERVED_COLS, "write_dedup_index", id_col=id_col)
    # validate BEFORE the auto-sizing count — invalid parameters must
    # not cost a full corpus scan to discover
    _check_banding(n_hashes, bands)
    meta = {
        "kind": "minhash",
        "id_col": id_col,
        "text_col": text_col,
        "n_hashes": n_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
    }
    _require_columns(docs, meta, "build")
    if n_buckets == "auto":
        n_buckets = MINHASH.auto_buckets(
            n_docs if n_docs is not None else docs.count(), meta
        )
    meta["n_buckets"] = int(n_buckets)
    _commit_index(MINHASH.project(docs, meta), path, meta, files_per_partition)


def batch_against_index(
    spark,
    batch: DataFrame,
    path: str,
    *,
    threshold,
    caller: str = "batch_against_index",
    plan_probe: dict | None = None,
) -> DataFrame:
    """Near-dup pairs between ``batch`` and the indexed corpus, for any
    near-dup kind — the sidecar decides the family. Returns
    ``(batch_id, corpus_id, <score_name>)`` with the score passing
    ``threshold`` (jaccard ≥ for minhash, hamming ≤ for simhash,
    cosine_sim ≥ for srp, where ``None`` means the sidecar's
    ``design_threshold``): the cross-set slice of what the kind's
    in-memory operator emits over corpus ∪ batch at the sidecar's
    geometry, at O(batch + matched buckets) cost instead of O(corpus).
    "Fresh" docs for ingest are the batch anti-joined against this
    result's ``batch_id``.

    Loads the sidecar, names missing batch columns, resolves/checks
    the threshold against the geometry (:attr:`Family.check_threshold`
    — a simhash ``max_hamming`` past the pigeonhole guarantee or an
    srp threshold looser than the design warns), pins the batch
    projection and its bucket set (:func:`pin_rows`) and probes
    (:func:`probe_index_with_rows`).

    Batch-size regime (MEASURED, SCALE.md r9 ``--bigprobe``, 1M-doc
    minhash corpus at the auto 4×256 geometry): a batch of B docs
    posts ``bands·B`` near-uniform band keys, so the matched-directory
    fraction is ≈ ``1 − exp(−B/n_buckets)`` — measured 39/1024 dirs at
    B=10, 323 at B=100, 1002 at B=1000, all 1024 at B=10⁴, walls
    0.84/1.60/3.58/4.45 s. Partition pruning pays while
    ``B ≪ n_buckets`` (the daily-increment shape); past
    :data:`~.similarity.FLAT_READ_CROSSOVER` of the directories the
    probe reads the index flat (same rows, no per-directory existence
    check) with a warning naming the regime — the designed read of a
    payload-sized index below ~4k docs per band (one directory each).
    Probe cost stays flat in CORPUS size either way: 100-doc probes
    measured 1.17/1.32/1.72 s against 5k/150k/1M-doc indexes.

    ``plan_probe`` is a test seam: when a dict is passed, the
    candidate frame (before the srp vector fetch pins it behind a lazy
    ``localCheckpoint``) is stored under ``plan_probe["candidates"]``
    so plan gates can assert the posting scan's ``PartitionFilters``."""
    meta = load_ann_meta(path)
    fam = family(meta, caller)
    _require_columns(batch, meta, "probe")
    threshold = fam.check_threshold(meta, threshold, caller)
    b, pbs = pin_rows(fam.project(batch, meta))
    return probe_index_with_rows(
        spark, b, path, meta, threshold=threshold, pbs=pbs, plan_probe=plan_probe
    )


def pin_rows(rows: DataFrame) -> tuple[DataFrame, list[int]]:
    """Eagerly pin a family projection and return it with its
    distinct ``pb`` values — ONE job: the bucket set rides the pin as
    an observed ``collect_set`` (bounded by the geometry's directory
    count, the same bound as a separate distinct collect, which would
    cost its own job per probe)."""
    from ..functions.obs import observed_checkpoint

    pinned, m = observed_checkpoint(rows, "family_rows", pbs=F.collect_set("pb"))
    return pinned, sorted(m["pbs"])


def probe_index_with_rows(
    spark,
    rows: DataFrame,
    path: str,
    meta: dict,
    *,
    threshold,
    pbs: list[int],
    plan_probe: dict | None = None,
) -> DataFrame:
    """The probe body of every near-dup kind, taking the batch side as
    an ALREADY-COMPUTED family projection (at the sidecar's geometry —
    the caller's contract). Exists so the streaming ingest loop can
    fingerprint each micro-batch ONCE and feed the same projection to
    the in-batch pass, this probe, and the append routing (r9 — the
    fixed per-batch fingerprint redundancy measured as part of the
    loop's ~7 s cadence). ``pbs`` — the distinct ``pb`` values of
    ``rows``, the partition-pruning literal — comes from the caller,
    which pins ``rows`` and observes the set in the same job
    (:func:`pin_rows`); the probe itself runs no job to find it.
    Returns ``(batch_id, corpus_id, <score_name>)``.

    ``plan_probe`` is a test seam: when a dict is passed, the
    candidate frame (before the srp vector fetch pins it) is stored
    under ``plan_probe["candidates"]`` so plan gates can assert the
    posting scan's ``PartitionFilters``."""
    fam = family(meta)
    id_col = meta["id_col"]
    members = fam.members(meta)
    # the active generation dir (every build and compaction commits one)
    droot = fs.active_data_root(path)
    # un-compacted LSM delta appends (pb=-1, see DELTA_PB) hold recent
    # postings for EVERY bucket, so every probe reads them too — a
    # single small directory bounded by the compaction cadence. An
    # empty batch (no pb) reads nothing: the typed empty result below.
    if pbs and fs.is_dir(fs.join(droot, f"pb={DELTA_PB}")):
        pbs = [*pbs, DELTA_PB]
    # Matched-directories-only read: above ~32 directories Spark's
    # partition discovery launches a listing JOB over every directory
    # — measured 7.4 s of the probe's 8.1 s at a 4×1024 geometry
    # (4 096 dirs), paid even though the scan then pruned 91% of the
    # bytes. See read_matched_partitions; the redundant isin filter
    # below still lands in PartitionFilters (plan-gated) as a guard.
    # total_partitions arms the flat-read crossover (r9 verdict #3):
    # a batch matching > half the directories reads the index flat
    # instead of listing ~every directory explicitly; one bucket per
    # group cannot prune, so that flat read is not warned.
    rel = None
    if pbs:
        rel = read_matched_partitions(
            spark,
            droot,
            "pb",
            pbs,
            total_partitions=fam.dirs(meta),
            prunable=int(meta["n_buckets"]) > 1,
        )

    def side(df: DataFrame, id_alias: str, s: str) -> DataFrame:
        return df.select(
            *fam.keys,
            F.col(id_col).alias(id_alias),
            *[F.col(m).alias(side_col(m, s)) for m in members],
        )

    def scored(s_b: str, s_c: str) -> Column:
        return fam.score(
            [F.col(side_col(m, s_b)) for m in members],
            [F.col(side_col(m, s_c)) for m in members],
        ).alias(fam.score_name)

    if rel is None:
        from pyspark.sql.types import StructField, StructType

        # the typed empty result: score type read off the analyzed
        # batch projection (no job)
        score_t = side(rows, "batch_id", "b").select(scored("b", "b")).schema[0]
        idt = rows.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("batch_id", idt),
                    StructField("corpus_id", idt),
                    StructField(fam.score_name, score_t.dataType),
                ]
            ),
        )
    cands = (
        side(rows, "batch_id", "b")
        .join(side(rel.where(F.col("pb").isin(pbs)), "corpus_id", "c"), list(fam.keys))
        # a re-probed doc whose id already lives in the index would
        # match its own postings — the in-memory operator over
        # corpus ∪ batch can never emit a self-pair (id_a < id_b), so
        # neither does this probe
        .where(F.col("batch_id") != F.col("corpus_id"))
        .select(
            "batch_id", "corpus_id",
            *[side_col(m, s) for s in "bc" for m in members],
        )
        # a pair sharing several keys must verify once, not per key
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    if plan_probe is not None:
        plan_probe["candidates"] = cands
    if fam.fetch is not None:
        cands = fam.fetch(spark, cands, rel, pbs, droot, path, meta)
    return cands.select("batch_id", "corpus_id", scored("b", "c")).where(
        fam.passes(F.col(fam.score_name), threshold)
    )


def _intra_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    member_cols: list[str],
    make_pair,
    keep,
) -> DataFrame:
    """Generate unordered pairs WITHIN hash buckets, bucket-locally.

    ``collect_list`` gathers each bucket's members, sorted by the
    leading id column, then a nested ``transform`` pairs each member
    with the members AFTER it — each unordered pair is built and scored
    once, ``x`` before ``y`` in id order, instead of all m² ordered
    pairs — and ``keep`` prunes before the explode. Compared to a
    bucket self-join this computes the upstream (signature) subtree
    ONCE and shuffles once (measured 8.0s → 2.5s on simhash pairs at
    sf0.1 — Spark does not share the scan/projection between the two
    sides of a self-join). Scoring each unordered pair once is what
    keeps the minhash registry pass, which verifies inside the bucket,
    at least as fast as the former candidate join + verify re-join:
    ``near_duplicate_pairs_docs`` at sf0.1, medians over 6 interleaved
    warm processes on 4 shared cores, 2.88 s for the re-join form,
    2.81 s over all ordered pairs, 2.55 s over unordered ones.

    Scale note: bucket membership lists must fit in memory — fine for
    uniform hash buckets; a pathologically hot bucket (mass-duplicated
    content) should be removed by EXACT dedup first
    (:func:`~.dedup.exact_dedup_fingerprints`), which collapses
    identical payloads before any near-dup pass.
    """
    ms = F.col("ms")
    bucketed = rows.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list(F.struct(*member_cols))).alias("ms")
    )
    nested = F.filter(
        F.flatten(
            F.transform(
                ms,
                lambda x, i: F.transform(
                    F.slice(ms, i + 2, F.size(ms) - i - 1),
                    lambda y: make_pair(x, y),
                ),
            )
        ),
        keep,
    )
    return (
        bucketed.select(F.explode(nested).alias("p")).select("p.*").distinct()
    )


def pairs_from_rows(rows: DataFrame, meta: dict, *, threshold) -> DataFrame:
    """Within-set near-dup pairs from a precomputed family projection —
    ``(id_a, id_b, <score_name>)`` with ``id_a < id_b`` and the score
    passing ``threshold``. THE in-batch pair pass of every near-dup
    kind: the in-memory operators (``dedup.near_duplicate_pairs``,
    ``dedup.simhash_near_duplicate_pairs``,
    ``similarity.embedding_near_duplicate_pairs``) are their family's
    projection at ``n_buckets=1`` followed by this call, and the
    streaming ingest loop runs it on the micro-batch projection that
    also feeds the index probe and the append routing (r9: one
    fingerprint pass). Verification happens inside the bucket (before
    the pair explode), so sub-threshold candidates are pruned without
    a second sets-join. ``meta`` needs only ``kind`` and ``id_col``
    (plus ``vec_col`` for srp)."""
    fam = family(meta)
    id_col = meta["id_col"]
    members = fam.members(meta)
    return _intra_bucket_pairs(
        rows,
        list(fam.keys),
        [id_col, *members],
        lambda x, y: F.struct(
            x[id_col].alias("id_a"),
            y[id_col].alias("id_b"),
            fam.score([x[m] for m in members], [y[m] for m in members]).alias(
                fam.score_name
            ),
        ),
        lambda p: (p["id_a"] < p["id_b"])
        & fam.passes(p[fam.score_name], threshold),
    )


def write_simhash_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    n_chunks: int = 5,
    chunks_per_key: int = 2,
    n_buckets: int | str = "auto",
    n_docs: int | None = None,
    files_per_partition: int | None = 1,
) -> None:
    """Build the at-rest SimHash near-dup index.

    Defaults to the SCALE-PATH banding (5 chunks, pair keys → C(5,2)
    keys of ~2^26 space, pigeonhole guarantee h ≤ 3) rather than the
    in-memory operator's 4×1 default: an index exists because the
    corpus is large, which is exactly the regime where 16-bit
    single-chunk buckets saturate (measured r6: candidates 24.6M→7.4M,
    wall 15.4→2.8 s at 50k docs). ``n_buckets="auto"`` holds directory
    payload constant like the minhash index — each doc posts
    ``keys_per_doc`` rows, so the bucket count derives from
    ``n_docs × keys_per_doc``. Probes verify with ``bit_count`` ≤ the
    caller's max_hamming; pairs beyond the geometry's pigeonhole
    guarantee may be missed (same recall trade as the in-memory
    operator — the guarantee, not a probability, is the contract).
    ``files_per_partition`` defaults ON for the same measured reason
    as :func:`write_dedup_index` (uniform keys → shuffle-free write
    explodes file count) — and the same exact-dedup-before-indexing
    guidance applies (m exact copies share every bucket; the ingest
    loop's stage 1 already guarantees this for loop-grown indexes)."""
    from .dedup import simhash_bucket_keys as _validate

    fs.check_fs(path, "write_simhash_index")
    _require_unreserved(_RESERVED_COLS, "write_simhash_index", id_col=id_col)
    # parameter validation (raises on bad n_chunks/chunks_per_key)
    # BEFORE the auto-sizing count — same rule as write_dedup_index
    _validate(F.lit(0), n_chunks=n_chunks, chunks_per_key=chunks_per_key)
    meta = {
        "kind": "simhash",
        "id_col": id_col,
        "text_col": text_col,
        "hash_family": hash_family,
        "n_chunks": n_chunks,
        "chunks_per_key": chunks_per_key,
    }
    _require_columns(docs, meta, "build")
    if n_buckets == "auto":
        n_buckets = SIMHASH.auto_buckets(
            n_docs if n_docs is not None else docs.count(), meta
        )
    meta["n_buckets"] = int(n_buckets)
    _commit_index(SIMHASH.project(docs, meta), path, meta, files_per_partition)

