"""Streaming corpus ingest with near-dup rejection — the production loop.

Composes the r7 at-rest minhash index (operators/dedup_index.py) with
the exactly-once ``foreachBatch`` protocol of
``streaming/ingest_stream.streaming_upsert_sink``: documents arrive as
a stream, each micro-batch is deduplicated (exact within batch →
near within batch → near against the INDEXED corpus, never a corpus
text rescan), the accepted docs land in a parquet sink AND are
appended to the index — so batch N+1 dedups against everything batch N
accepted. This is the loop a 100 TB training corpus actually grows by:
per batch, cost is O(batch + matched index buckets); corpus size never
appears in it.

Idempotency is CRASH-POINT-COMPLETE, not just commit-gated:

- the committed-batch marker files (:mod:`.commitlog`, same protocol
  as the upsert sink) skip re-delivered batch ids outright;
- a crash AFTER the index append but BEFORE the commit marker is the
  dangerous replay: the re-run probes an index that already contains
  this batch's accepted docs, so every one of them would match
  "the corpus" (itself, jaccard 1.0), accept nothing, and overwrite
  the batch's target directory with an empty set. The corpus-match
  step therefore EXCLUDES matches whose ``corpus_id`` is an id of the
  current batch — with stable ids (re-delivery replays the same
  source rows; id uniqueness across the stream is the caller's
  contract, as for ``append_to_ann_index``), the re-run reproduces the
  first run's accepted set exactly: the target overwrite rewrites
  identical content and the duplicate index postings are benign
  (probes ``dropDuplicates`` candidate pairs; the duplicates are
  storage only, reclaimed by a rebuild — ``compact_ann_index``
  preserves rows, it does not dedup);
- the target write is per-batch-directory overwrite
  (``ingest_batch=<id>/``), so replays rewrite in place instead of
  double-appending.

One fingerprint pass per micro-batch (r9): the index kind's family
projection (``dedup_index.Family.project``) is computed once and
pinned, then read by all three consumers — the within-batch pair pass
(``dedup_index.pairs_from_rows``), the index probe
(``dedup_index.probe_index_with_rows``), and the append
(``append_routed_rows`` over the accepted slice of the same rows).
Earlier rounds fingerprinted up to three times per batch; the r8
ingest-loop probe measured the resulting fixed per-batch cadence at
~7 s, dominated by redundant job count rather than data volume, which
bought this cross-module API (the sharing is pinned accepted-set-
identical to the composed in-memory operators by
``tests/test_streaming_dedup_ingest.py``).

Null-payload rows (no text/vector to fingerprint) bypass every dedup
stage: they pass straight to the sink and are never posted to the
index — filter them upstream if the corpus should not carry them.
Degenerate srp vectors (zero-norm / NULL-element) bypass only the
NEAR stages; bit-identical copies within a batch are collapsed by the
exact min-id rule (r11, ADVICE r10), and ACROSS batches by the
at-rest ``_degen.d`` marker set under the target (r12, r11 verdict
#4): one marker per distinct degenerate payload ever accepted, probed
per batch with the same winner-id self-exclusion the main probe uses
for crash replay, so exactly one copy survives the whole stream.

Within-batch near-dup policy: after exact dedup (min-id winner per
``md5(text)``; min-id per identical vector for the srp family — no
text fingerprint exists for float arrays), any doc that is the
HIGHER id of a verified near-dup
pair is dropped — the greedy min-id-survives rule. On a chain
a<b<c with pairs (a,b),(b,c) this keeps only ``a`` (b and c both
appear as a higher id), matching what canonical connected-component
selection would keep; they differ only on pairs whose lower id was
itself dropped for an unrelated reason, where greedy is the more
conservative (drops more). Full CC canonicalization per micro-batch
(operators/dedup.connected_components) is deliberately not run here —
batches are small and the iterative job cadence would dominate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: marker directory under the TARGET recording every degenerate
#: payload ever accepted — ``<md5>__<hex(winner_id)>`` per entry. Under
#: the target (not the index) because the index tree belongs to the
#: compaction lifecycle (generation GC, legacy rename recovery, and a
#: full rebuild's mode('overwrite') all reclaim index state; the
#: target is the stream's own durable root). Same no-torn-state marker
#: protocol as streaming/commitlog.py.
DEGEN_DIR = "_degen.d"


def _degen_entries(target_dir: str) -> dict[str, str]:
    """{payload_md5: winner_id_str} of every degenerate payload a
    previous batch accepted. Reads loose markers plus compacted packs
    (:mod:`.markerpack`) so the per-batch listing stays O(markers
    since the last compaction), not O(stream lifetime) — r13, r12
    verdict #9."""
    from .. import fs
    from . import markerpack

    names = markerpack.list_markers(fs.join(target_dir, DEGEN_DIR))
    out: dict[str, str] = {}
    for n in names:
        md5, sep, hexid = n.partition("__")
        if not sep:
            continue  # foreign file
        try:
            out[md5] = bytes.fromhex(hexid).decode("utf-8")
        except ValueError:
            continue
    return out


def _degen_record(target_dir: str, payload_md5: str, winner_id: str) -> None:
    from .. import fs

    d = fs.join(target_dir, DEGEN_DIR)
    fs.makedirs(d)
    fs.touch(
        fs.join(d, f"{payload_md5}__{winner_id.encode('utf-8').hex()}")
    )


def streaming_dedup_ingest(
    stream: DataFrame,
    index_path: str,
    target_dir: str,
    *,
    threshold: float = 0.8,
    max_hamming: int = 8,
    cosine_threshold: float | None = None,
    checkpoint_dir: str,
    compact_every: int | None = 32,
    regeometry_on_compact: bool = True,
):
    """Start the dedup-ingest stream; returns the StreamingQuery.

    ``stream`` must carry the index sidecar's ``id_col`` and payload
    column — ``text_col`` for the text families, ``vec_col`` for
    ``kind="srp"`` (extra columns pass through to the sink). Accepted
    docs land under ``target_dir/data/ingest_batch=<batch_id>/`` and
    are appended to the index at ``index_path``.

    The dedup FAMILY follows the index sidecar's kind (r8; srp r9): a
    ``kind="minhash"`` index dedups by exact Jaccard ≥ ``threshold``;
    a ``kind="simhash"`` index by Hamming ≤ ``max_hamming``; a
    ``kind="srp"`` index by embedding cosine ≥ ``cosine_threshold``
    (``None`` = the sidecar's ``design_threshold``, the boundary its
    recall geometry was sized for — an explicit looser value warns at
    stream start, see ``embedding_index``) — in every family the
    within-batch pass and the corpus probe band with the sidecar's own
    geometry, so in-batch and cross-corpus decisions can never
    diverge. The unused knobs of the other families are ignored. Any
    other sidecar kind (ivf/lsh) raises a ValueError at stream start
    (the index must already exist when the stream is constructed) —
    those indexes hold a kNN corpus, not near-dup postings.

    ``max_hamming`` (simhash family) is a VERIFY threshold, not a
    recall promise: the banding only guarantees candidate generation
    for pairs within ``n_chunks − chunks_per_key`` bits of each other
    (the pigeonhole bound — see ``dedup.simhash_near_duplicate_pairs``).
    The default index geometry (5 chunks × pair keys) guarantees
    h ≤ 3, so with the default ``max_hamming=8`` pairs at Hamming 4–8
    are caught only when they happen to share a clean chunk pair —
    both in the in-batch pass and the index probe. A ``UserWarning``
    is emitted when ``max_hamming`` exceeds the sidecar geometry's
    guarantee; tighten ``max_hamming`` or widen ``n_chunks`` at index
    build time to close the gap.

    ``compact_every``: every N committed batches the index is
    compacted in place (after the manifest commit, so acceptance is
    never gated on maintenance). Appends are single-file ``pb=-1``
    LSM deltas (r9 — see ``dedup_index.DELTA_PB``), so the compaction
    is the LSM merge: it folds delta rows into their true bucket
    directories. The re-measured cadence (SCALE.md r9,
    ``scaling_probe --dedupcadence``): probe latency is FLAT through
    128 delta appends (1.77/1.47/1.23/1.14 s at 0/1/32/128 — within
    warm-up noise; the r8 per-directory appends read +25% at 32 and
    3.0× at 128), and file count grows exactly +1 per append (192
    total at 128 appends vs 8,245 under the old routing). The default
    32 now guards the two remaining growth terms — the delta's
    full-scan row count on every probe and the delta directory's own
    file listing — both trivial at micro-batch sizes; one compaction
    (≈1 s at this corpus) restores the fresh build exactly.
    ``regeometry_on_compact`` additionally re-derives the bucket
    count from the grown corpus on each cadence compaction
    (bit-identical to a fresh rebuild — pinned), so directory payload
    stays ∝ corpus/auto_buckets no matter how far appends outgrow the
    build-time geometry. Compaction here is crash-safe maintenance:
    a cadence point skipped by a crash is simply picked up at a later
    multiple, and a Dekker-handshake abort (a foreign writer's
    in-flight append) defers to the next cadence point instead of
    failing the batch. Pass ``compact_every=None`` to manage
    compaction externally.
    """
    from pyspark.sql import SparkSession

    from ..operators.dedup import exact_dedup_fingerprints
    from ..operators.dedup_index import (
        as_delta_append,
        family,
        pairs_from_rows,
        probe_index_with_rows,
    )
    from .. import fs
    from ..operators.similarity import (
        append_routed_rows,
        load_ann_meta,
    )

    # committed-batch bookkeeping is the per-batch marker protocol in
    # streaming/commitlog.py (r12: markers cannot tear, unlike the
    # appended manifest file) — routed through fs (r11), so a
    # file://-or-remote target keeps the exactly-once bookkeeping on
    # the SAME filesystem as the data, never a cwd-relative local file
    from . import commitlog

    fs.check_fs(target_dir, "streaming_dedup_ingest")
    fs.check_fs(index_path, "streaming_dedup_ingest")

    def _payload_col(meta: dict) -> str:
        col = meta[family(meta).payload_key]
        if "`" in col:
            # the srp zero-norm bypass (and lsh_bucket_col beneath the
            # projection) embed the column name in SQL text
            raise ValueError(
                "streaming_dedup_ingest: the sidecar's payload column "
                f"may not contain a backtick (got {col!r})"
            )
        return col

    # fail/warn at stream START (the index must already exist): a bad
    # index kind raises synchronously instead of inside the first
    # micro-batch's StreamingQueryException, and the threshold is
    # resolved and checked against the geometry once, up front (the
    # simhash pigeonhole and srp looser-than-design warnings).
    # n_chunks/planes/design_threshold never change after build
    # (regeometry only re-derives n_buckets), so start-time is the
    # right scope.
    meta0 = load_ann_meta(index_path)
    kind = meta0.get("kind")
    fam = family(meta0, f"streaming_dedup_ingest: index at {index_path}")
    _payload_col(meta0)
    thr = fam.check_threshold(
        meta0,
        {"minhash": threshold, "simhash": max_hamming}.get(kind, cosine_threshold),
        "streaming_dedup_ingest",
    )

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        spark = SparkSession.getActiveSession()
        if commitlog.is_committed(target_dir, batch_id):
            return  # re-delivered batch: idempotent skip
        # re-read per batch: a regeometry compaction changes n_buckets
        meta = load_ann_meta(index_path)
        if meta.get("kind") != kind:
            # an index swapped out underneath a running stream: the
            # start-time family and threshold no longer apply
            raise ValueError(
                f"streaming_dedup_ingest: index at {index_path} changed "
                f"kind from {kind!r} to {meta.get('kind')!r} under a "
                "running stream"
            )
        id_col = meta["id_col"]
        # re-checked per batch (ADVICE r10): a swapped/edited sidecar's
        # payload column reaches F.expr SQL text below
        payload_col = _payload_col(meta)
        if kind == "srp":
            def exact_winners(df):
                # exact-by-payload for vectors: identical float arrays
                # group together (no text fingerprint exists); min-id
                # wins, the same rule as exact_dedup_fingerprints
                return df.groupBy(payload_col).agg(
                    F.min(id_col).alias(id_col)
                ).select(id_col)
        else:
            def exact_winners(df):
                # the canonical min-id-per-md5 winner rule lives in
                # ONE place (exact_dedup_fingerprints)
                return exact_dedup_fingerprints(
                    df, text_col=payload_col, id_col=id_col
                ).select(id_col)
        # Null-payload rows carry no content to fingerprint: they
        # cannot be near-dups of anything, so they bypass every dedup
        # stage and pass straight to the sink (never the index — there
        # is nothing to post). A null-unsafe md5/group join here would
        # silently DROP them instead (NULL == NULL is NULL under an
        # inner join).
        bypass_pred = F.col(payload_col).isNull()
        if kind == "srp":
            # Zero-norm (all-zero/empty) and NULL-element vectors have
            # NULL cosine to everything, so they can never clear the
            # threshold — yet every one of them projects to the SAME
            # bucket of every table (sign(0) ≥ 0 → all-ones; NULL
            # projection → all-zeros), an unbounded hot key at stream
            # scale. They take the same bypass: sunk, never indexed.
            nrm2 = F.expr(
                f"aggregate(`{payload_col}`, 0.0D, (acc, x) -> "
                "acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
            )
            bypass_pred = bypass_pred | nrm2.isNull() | (nrm2 == 0.0)
        null_payload = batch.where(bypass_pred)
        degen_new: list[tuple[str, str]] = []
        if kind == "srp":
            # Degenerate vectors rightly skip the NEAR stages (NULL
            # cosine can never clear a threshold) — but bit-identical
            # copies are still EXACT duplicates, the one class a dedup
            # pipeline can always catch (ADVICE r10). Within the
            # batch, stage 1's own rule applies: group identical
            # payload arrays, min-id wins. ACROSS batches (r12, r11
            # verdict #4): degenerate vectors are never posted to the
            # index, so the loop keeps its own at-rest record — one
            # empty marker file per distinct degenerate payload under
            # the TARGET (``_degen.d/<md5>__<hex(winner_id)>``; inside
            # the index it would not survive the compaction swap).
            # Marker names carry both fields, so there is no torn
            # state (same protocol as commitlog), and the winner id
            # enables the same self-exclusion the main probe uses for
            # crash replay: a marker whose winner IS one of this
            # batch's rows means the marker came from this very
            # batch's earlier, uncommitted run — keep the row, so the
            # replay reproduces the first run's accepted set exactly.
            # Truly-NULL payloads carry no content to compare and pass
            # through unchanged. Driver boundedness: one row per
            # DISTINCT degenerate payload (zero vectors of one dim are
            # a single md5), not per row.
            degen = null_payload.where(F.col(payload_col).isNotNull())
            md5e = F.md5(
                F.col(payload_col).cast("string").cast("binary")
            ).alias("__md5")
            surv = [
                (r["__md5"], r["__win"])
                for r in degen.groupBy(md5e)
                .agg(F.min(id_col).alias("__win"))
                .collect()
            ]
            known = _degen_entries(target_dir)
            keep_ids = [
                w
                for m, w in surv
                if m not in known or known[m] == str(w)
            ]
            degen_new = [
                (m, str(w)) for m, w in surv if m not in known
            ]
            import pandas as _pd

            keep_schema = degen.select(id_col).schema
            if keep_ids:
                # pandas-backed: ships via Arrow as a JVM
                # LocalTableScan (see test_plan_quality's source lint)
                keep_df = spark.createDataFrame(
                    _pd.DataFrame({id_col: keep_ids}), schema=keep_schema
                )
            else:
                keep_df = spark.createDataFrame([], keep_schema)
            null_payload = null_payload.where(
                F.col(payload_col).isNull()
            ).unionByName(degen.join(keep_df, id_col, "left_semi"))
        null_payload = null_payload.localCheckpoint(eager=False)
        batch = batch.where(~bypass_pred)
        # stage 1 — exact within batch (family-dispatched winner rule
        # above); a semi-join on the winning ids recovers the full
        # rows (ids are unique across the stream by contract)
        winners = exact_winners(batch)
        exact = batch.join(winners, id_col, "left_semi")
        # the batch is re-read by the projection, the own-ids guard,
        # and the accepted anti-joins — pin it
        exact = exact.localCheckpoint(eager=False)
        # THE one fingerprint pass: every later stage reads these rows.
        # The in-batch pass and the index probe band/verify with the
        # SIDECAR's family and geometry, so batch-vs-batch and
        # batch-vs-corpus dedup can never diverge.
        rows = fam.project(exact.select(id_col, payload_col), meta).localCheckpoint(
            eager=False
        )
        # stage 2 — near within batch: drop the higher id of each
        # verified pair (id_a < id_b by construction); the pair set is
        # identical to the in-memory operator's (pinned — see
        # pairs_from_rows)
        pairs = pairs_from_rows(rows, meta, threshold=thr)
        drop = (
            pairs.select(F.col("id_b").alias(id_col))
            .distinct()
            # consumed three times (survivor rows for the probe, the
            # accepted anti-join, and through them the append's
            # semi-join) — pin the pair shuffle
            .localCheckpoint(eager=False)
        )
        # stage 3 — near against the indexed corpus, EXCLUDING matches
        # to this very batch's ids (the crash-replay guard — module
        # docstring): O(batch + matched buckets), corpus never
        # rescanned. The probe reuses the projection (survivor rows =
        # the pinned rows minus in-batch drops), never re-fingerprints.
        surv_rows = rows.join(drop, id_col, "left_anti")
        matches = probe_index_with_rows(
            spark, surv_rows, index_path, meta, threshold=thr
        )
        own_ids = exact.select(F.col(id_col).alias("corpus_id"))
        dup_ids = (
            matches.join(own_ids, "corpus_id", "left_anti")
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )
        # the accepted set is materialized TWICE below (target write +
        # index append) — pin it so the probe/anti-join subtree runs once
        accepted = (
            exact.join(drop, id_col, "left_anti")
            .join(dup_ids, id_col, "left_anti")
            .localCheckpoint(eager=False)
        )
        # commit order: target (idempotent per-batch overwrite) →
        # index append (replay-benign) → manifest (gates the skip)
        accepted.unionByName(null_payload).write.mode("overwrite").parquet(
            fs.join(target_dir, "data", f"ingest_batch={batch_id}")
        )
        # index append: the accepted docs' slice of the SAME projection
        # (already banded at the sidecar's geometry), written as one
        # LSM delta file (as_delta_append) — no re-fingerprint, no
        # per-directory file fan-out. Safe under the loop's
        # single-writer contract (see append_routed_rows).
        routed = rows.join(accepted.select(id_col), id_col, "left_semi")
        append_routed_rows(as_delta_append(routed), index_path, "pb")
        fs.makedirs(target_dir)
        # record NEW degenerate payloads before the commit marker:
        # marker creation is idempotent, and a crash between here and
        # the commit replays the batch with the self-exclusion above
        # reproducing the identical accepted set
        for m, w in degen_new:
            _degen_record(target_dir, m, w)
        commitlog.record_commit(target_dir, batch_id)
        if compact_every:
            # the batch is already committed above — NOTHING in this
            # maintenance block may fail it. RuntimeError is the
            # handshake's defer signal (a foreign writer's in-flight
            # append / stranded intent); OSError covers a rename or
            # permission failure mid-swap; ValueError a corrupted
            # sidecar. All defer to the next cadence point.
            try:
                # bound the per-batch marker listings (commit ids +
                # degen payloads) the same way the index LSM bounds
                # delta files: threshold-gated pack compaction (r13,
                # r12 verdict #9). Crash-safe and idempotent — see
                # streaming/markerpack.py.
                from . import markerpack

                commitlog.compact_markers(target_dir)
                markerpack.compact(fs.join(target_dir, DEGEN_DIR))
                if commitlog.n_committed(target_dir) % compact_every == 0:
                    from ..operators.similarity import compact_ann_index

                    compact_ann_index(
                        spark, index_path,
                        regeometry=regeometry_on_compact,
                    )
            except (RuntimeError, OSError, ValueError) as e:
                import sys as _sys

                print(
                    f"streaming_dedup_ingest: cadence compaction "
                    f"deferred at batch {batch_id}: {e}",
                    file=_sys.stderr,
                )

    return (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
