"""Deduplication operators for corpus-scale (100 TB) text pipelines.

Extends the reference's duplicate-*detection* audit
(``/root/reference/build.py:39-53`` — GROUP BY natural key HAVING
COUNT(*)>1) into duplicate-*resolution* operators:

- exact dedup: content-hash groupBy (uniform md5 keys → no skew);
- near-dup: MinHash signatures + LSH banding, expressed entirely with
  native higher-order functions (``transform``/``aggregate``/``slice``)
  so signature computation is a single codegen'd projection — no UDF,
  no shuffle. Only the band-bucket grouping shuffles, and it shuffles
  band keys and shingle hashes, never document text;
- n-gram Jaccard: exact verification for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import array_literal
from .fixpoint import both_directions, fixpoint


def exact_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keep one arbitrary row per key (pandas drop_duplicates analog)."""
    return df.dropDuplicates(keys)


def exact_dedup_fingerprints(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-row index: md5 fingerprint → lowest id + copy count.

    Deterministic (MIN id wins), unlike ``dropDuplicates`` which keeps
    an arbitrary row — determinism matters for reproducible training
    corpora.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("fingerprint")).agg(
        F.min(F.col(id_col)).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as an array<string>; whole string if < k tokens."""
    c = F.col(text) if isinstance(text, str) else text
    tokens = F.split(F.trim(c), r"\s+")

    def mk(arr: Column) -> Column:
        starts = F.sequence(F.lit(1), F.greatest(F.size(arr) - (k - 1), F.lit(1)))
        return F.transform(starts, lambda i: F.array_join(F.slice(arr, i, k), " "))

    return _bind(tokens, mk)


def _perm_constants(n: int, seed: int = 0x9E3779B97F4A7C15) -> list[int]:
    """Deterministic 64-bit XOR constants (splitmix64 sequence)."""
    out = []
    x = seed
    for _ in range(n):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        # to signed 64-bit for Spark LongType literals
        out.append(z - (1 << 64) if z >= (1 << 63) else z)
    return out


def _rot(c: Column, bits: int) -> Column:
    """64-bit rotate-left from shift primitives (overflow-free under ANSI)."""
    return F.shiftleft(c, bits).bitwiseOR(F.shiftrightunsigned(c, 64 - bits))


def _bind(arr: Column, fn) -> Column:
    """Evaluate the array expression ``arr`` ONCE and pass it to ``fn``
    as a bound lambda variable.

    Catalyst does not share non-trivial subexpressions referenced from
    inside higher-order-function lambdas: ``F.get(arr_expr, i)`` inside a
    ``transform`` re-evaluates ``arr_expr`` for EVERY element — quadratic
    blowup (measured 19.6s → 0.7s on 5k docs × 54 tokens for minhash).
    Wrapping in a 1-element array and using the HOF lambda variable forces
    single evaluation: ``get(transform(array(arr), a -> fn(a)), 0)``.
    """
    return F.get(F.transform(F.array(arr), fn), 0)


def shingle_hash_col(text: Column | str, k: int = 3) -> Column:
    """Hashes of k-token shingles WITHOUT materializing shingle strings.

    Tokens are xxhash64'd individually (one string hash per token), and
    a shingle hash combines k consecutive token hashes with rotate/XOR
    mixing — order-sensitive, uniform, and ~8× cheaper than building
    and hashing shingle strings. The token-hash array is lambda-bound
    (see :func:`_bind`) so it is computed once per row, not once per
    shingle. ``F.get`` (0-based, NULL out of range — never throws,
    ANSI-safe) pads short documents so a <k-token doc still yields one
    shingle.
    """
    c = F.col(text) if isinstance(text, str) else text
    th = F.transform(F.split(F.trim(c), r"\s+"), lambda s: F.xxhash64(s))

    def shingles(arr: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(arr) - k, F.lit(0)))

        def one(i: Column) -> Column:
            parts = [
                F.coalesce(F.get(arr, i + j), F.lit(0).cast("long"))
                for j in range(k)
            ]
            out = parts[0]
            for j in range(1, k):
                out = _rot(out, 21).bitwiseXOR(parts[j])
            return out

        return F.transform(idx, one)

    return _bind(th, shingles)


def minhash_signature_col(
    text: Column | str, *, n_hashes: int = 16, shingle_k: int = 3
) -> Column:
    """MinHash signature (array<bigint>) of the text's shingle set.

    Cost model: one xxhash64 per *token* (no shingle strings — see
    :func:`shingle_hash_col`); the ``n_hashes`` "permutations" are XORs
    with fixed splitmix64 constants (a bijection on int64, the standard
    cheap minhash permutation family), each reduced with ``array_min``
    over the lambda-bound shingle array (computed once per row — see
    :func:`_bind`). All JVM-side expressions — embarrassingly parallel
    map work at 100 TB, no shuffle.
    """
    # the constants are ONE folded literal walked by ONE
    # transform: n_hashes separate array_min(transform(...)) trees cost
    # n_hashes × (lambda + literal) construction and analysis per call
    # (warm build + analysis of the 16×4 index projection, median of
    # 10 on 4 shared cores: 0.35 s → 0.24 s); the XORs and minima are
    # the same, bit for bit
    consts = F.expr(array_literal(_perm_constants(n_hashes), "array<bigint>"))
    sh = shingle_hash_col(text, shingle_k)

    def mins(arr: Column) -> Column:
        return F.transform(
            consts, lambda c: F.array_min(F.transform(arr, lambda h: h.bitwiseXOR(c)))
        )

    return _bind(sh, mins)


#: modulus for the cross-engine minhash permutation family — the
#: largest prime below 2^32, so (a·h + b) stays under 2^63 and is
#: exact in BIGINT arithmetic on BOTH engines (no overflow, no
#: unsigned types needed)
MINHASH_XENGINE_PRIME = 4294967291


def minhash_xengine_constants(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) multiply-add constants, a odd and < 2^31
    so a·h + b < 2^63 for any 32-bit base hash h."""
    raw = _perm_constants(2 * n, seed=0x5851F42D4C957F2D)
    out = []
    for i in range(n):
        a = (raw[2 * i] & 0x7FFFFFFE) | 1
        b = raw[2 * i + 1] & 0x7FFFFFFF
        out.append((a, b))
    return out


def minhash_signature_md5_col(
    text: Column | str, *, n_hashes: int = 16, shingle_k: int = 3
) -> Column:
    """Cross-engine-CHECKABLE MinHash signature (array<bigint>).

    Same estimator as :func:`minhash_signature_col` (per-"permutation"
    minimum over the shingle set) but built so DuckDB reproduces every
    value bit-for-bit: the base hash is the first 8 md5 hex chars of
    the shingle string (``('0x' || substr(md5(sg), 1, 8))::UBIGINT``
    on the oracle side), and the ``n_hashes`` permutations are the
    classic universal-hash family ``(a·h + b) mod p`` with ``p`` the
    largest prime below 2^32 and ``a < 2^31`` — ONE md5 per shingle,
    then pure BIGINT multiply-add-mod per permutation, exact on both
    engines with no unsigned/overflow edge (a first cut hashed md5
    per (shingle, permutation): 16x the hashing work, 6.5 s vs ~1 s
    at sf0.1). The production LSH path keeps the cheaper
    xxhash64-per-token family; this variant exists so the sketch
    *internals* have an oracle twin (same tradeoff as the KMV/CMS
    sketches vs DataSketches HLL). Still a single map-side
    projection: no UDF, no shuffle, embarrassingly parallel at
    100 TB.
    """
    consts = minhash_xengine_constants(n_hashes)
    sh = _shingles(text, shingle_k)

    def base_hashes(arr: Column) -> Column:
        return F.transform(
            arr,
            lambda s: F.conv(
                F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10
            ).cast("bigint"),
        )

    def mins(harr: Column) -> Column:
        def one(a: int, b: int) -> Column:
            return F.array_min(
                F.transform(
                    harr,
                    lambda h: (h * F.lit(a) + F.lit(b))
                    % F.lit(MINHASH_XENGINE_PRIME),
                )
            )

        return F.array(*[one(a, b) for a, b in consts])

    return _bind(_bind(sh, base_hashes), mins)


def band_key_col(sig: Column, band: int, rows_per_band: int) -> Column:
    """64-bit key of one LSH band: xxhash64 over the band's signature
    slice rendered as a comma-joined string. THE single owner of the
    band-key formula, read only by the minhash family's projection
    (``dedup_index._banded_rows``), which feeds the in-memory
    :func:`near_duplicate_pairs`, the at-rest index build, append
    routing and batch probe alike — so index and query can never
    disagree on bucket routing."""
    return F.xxhash64(
        F.array_join(
            F.transform(
                F.slice(sig, band * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
            ",",
        )
    )


def _check_banding(n_hashes: int, bands: int) -> None:
    """Reject a minhash banding that is not an exact split: each of
    ``bands`` bands takes ``n_hashes // bands`` signature rows, so
    ``bands`` must be a positive divisor of a positive ``n_hashes`` —
    silently dropping the trailing ``n_hashes % bands`` rows would
    shift the collision-probability curve away from the (bands,
    rows_per_band) tuning the caller asked for."""
    for name, value in (("n_hashes", n_hashes), ("bands", bands)):
        if value < 1:
            raise ValueError(f"{name} must be >= 1 (got {value})")
    if n_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}); "
            f"{n_hashes % bands} trailing signature rows would be "
            f"silently unused, changing the LSH collision curve"
        )


def banding_detection_prob(jaccard: float, *, n_hashes: int, bands: int) -> float:
    """P[a pair at exactly this Jaccard shares ≥1 band] under the
    standard minhash banding model: each of the ``n_hashes`` rows
    collides independently w.p. ``jaccard`` (the minhash identity), so
    a band of ``r = n_hashes/bands`` rows collides w.p. ``jaccard^r``
    and detection is ``1 − (1 − jaccard^r)^bands`` (Broder '97 /
    MMDS ch.3). This is the recall FLOOR over pairs ≥ the threshold —
    more-similar pairs collide more often. MEASURED against planted
    Jaccard-controlled pairs in ``tests/test_minhash_recall.py`` and
    SCALE.md ("minhash banding recall"): the xxhash64-XOR signature
    family tracks this closed form within sampling tolerance, so the
    formula is safe to size (n_hashes, bands) with. The dual of
    :func:`~.similarity.srp_collision_prob` for the Jaccard family."""
    _check_banding(n_hashes, bands)
    j = max(0.0, min(1.0, jaccard))
    return 1.0 - (1.0 - j ** (n_hashes // bands)) ** bands


def jaccard_verify_col(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard of two DISTINCT-shingle-hash arrays — the single
    owner of the verify expression: the minhash family's ``score``
    (``dedup_index.MINHASH``), so :func:`near_duplicate_pairs`, the
    streaming ingest's in-batch pass and the at-rest index probe
    (``dedup_index.batch_against_index``) all verify with THIS column
    and their outputs stay bit-identical (pinned by
    ``tests/test_dedup_index.py``)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


SIMHASH_BITS = 64


def simhash_col(text: str, *, hash_family: str = "xxhash64") -> Column:
    """64-bit SimHash of the whitespace-token multiset.

    ``hash_family="md5"`` swaps the xxhash64 token hash for the first
    16 md5 hex chars (as a same-bit-pattern signed long) — the
    cross-engine family a DuckDB oracle can reproduce bit-for-bit
    (same tradeoff as :func:`minhash_signature_md5_col`); the cheaper
    xxhash64 stays the production default.

    Classic scheme: each token hash votes ±1 per bit position; the
    fingerprint sets bits with positive vote sums. Built as a single
    ``aggregate`` fold over the token-hash array, packed into one long
    with shift/OR — all JVM expressions, map-only at any scale.
    Near-duplicate docs differ in a few bits (use ``hamming_distance_col``).

    ±1 voting means bit b is set iff 2*count_set(b) > n_tokens, so only
    the 64 per-bit set-counts are needed. SWAR packing: fold j (0..7)
    accumulates ``(h >> j) & 0x0101..01`` — byte k of accumulator j
    counts bit 8k+j — 8 scalar folds of 2 ops/token instead of 64.
    Byte counters hold ≤255, so docs longer than 255 tokens take a
    per-bit fallback fold keeping a 64-counter array (CASE WHEN
    evaluates lazily — one path per row).

    The whole expression is generated as ONE SQL string handed to
    ``F.expr`` rather than composed from ~10⁴ Column-API calls: the
    Column tree for the 64-way unpack costs ~3 s of driver-side py4j
    round-trips per plan build; one string parse is ~0.1 s (measured at
    sf0.1). Takes a column *name* (spliced into generated SQL).
    """
    # bit masks as int64 literals (bit 63 is the sign bit → negative;
    # -2^63 won't parse as a single SQL literal, so it's built by
    # subtraction)
    def mask(b: int) -> str:
        return f"{1 << b}L" if b < 63 else "(-9223372036854775807L - 1L)"

    swar_mask = 0x0101010101010101
    if hash_family == "md5":
        # cross-engine token hash: uint64 from the first 16 md5 hex
        # chars, re-expressed as the same-bit-pattern SIGNED long
        # (subtract 2^64 above 2^63-1, exact in decimal(38,0)) so the
        # SWAR shift/mask fold below works unchanged. DuckDB mirrors
        # with ('0x' || substr(md5(s), 1, 16))::UBIGINT.
        th = (
            f"transform(transform(split(trim(`{text}`), '\\\\s+'), "
            "s -> cast(conv(substring(md5(cast(s as binary)), 1, 16), 16, 10) "
            "as decimal(38,0))), "
            "d -> cast(CASE WHEN d >= 9223372036854775808 "
            "THEN d - 18446744073709551616 ELSE d END as bigint))"
        )
    else:
        th = f"transform(split(trim(`{text}`), '\\\\s+'), s -> xxhash64(s))"
    packed = (
        "array("
        + ", ".join(
            f"aggregate(th, 0L, (acc, h) -> acc + (shiftrightunsigned(h, {j}) & {swar_mask}L))"
            for j in range(8)
        )
        + ")"
    )
    unpack = " | ".join(
        f"if(((shiftrightunsigned(get(pa, {b % 8}), {8 * (b // 8)}) & 255) * 2)"
        f" > size(th), {mask(b)}, 0L)"
        for b in range(SIMHASH_BITS)
    )
    fast = f"get(transform(array({packed}), pa -> ({unpack})), 0)"
    # >255-token fallback: ONE fold keeping a 64-counter int array
    # (zip_with) — slower per token than SWAR but branch-local.
    bit_extracts = ", ".join(
        f"cast((shiftrightunsigned(h, {b}) & 1) as int)" for b in range(SIMHASH_BITS)
    )
    counts = (
        f"aggregate(th, array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, array({bit_extracts}), (x, y) -> x + y))"
    )
    slow_unpack = " | ".join(
        f"if((get(ca, {b}) * 2) > size(th), {mask(b)}, 0L)"
        for b in range(SIMHASH_BITS)
    )
    slow = f"get(transform(array({counts}), ca -> ({slow_unpack})), 0)"
    body = f"CASE WHEN size(th) <= 255 THEN {fast} ELSE {slow} END"
    return F.expr(f"get(transform(array({th}), th -> {body}), 0)")


def hamming_distance_col(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bucket_keys(
    sh: Column, *, n_chunks: int, chunks_per_key: int
) -> list[Column]:
    """Packed chunk-bucket keys of one SimHash fingerprint — THE
    single owner of the bucket formula (pigeonhole banding, see
    :func:`simhash_near_duplicate_pairs` for the guarantee): the
    in-memory candidate join and the at-rest index
    (``dedup_index.write_simhash_index`` / append routing / batch
    probe) must compute byte-identical keys or index and query
    silently stop agreeing on bucket routing. Each key packs
    (combo index, chunk value(s)) into one bigint; chunk values are
    < 2^width so the shifted fields never collide."""
    if chunks_per_key not in (1, 2):
        raise ValueError("chunks_per_key must be 1 or 2")
    if not 2 <= n_chunks <= 16:
        # above 16 chunks each key carries < 4 bits and buckets stop
        # discriminating (population → N/2^width): the intra-bucket
        # pair generator would materialize ~population² candidates.
        # The pigeonhole use case needs n_chunks ≈ max_hamming + 1 (or
        # + chunks_per_key) — single digits.
        raise ValueError("n_chunks must be in [2, 16]")
    if chunks_per_key == 2 and n_chunks < 3:
        # 2 chunks of 32 bits packed pairwise would need a 64-bit
        # shift — past bigint range (and pointless: one pair-combo of
        # both chunks is plain full-fingerprint equality)
        raise ValueError("chunks_per_key=2 needs n_chunks >= 3")
    bounds = [SIMHASH_BITS * i // n_chunks for i in range(n_chunks + 1)]
    width = max(bounds[i + 1] - bounds[i] for i in range(n_chunks))

    def chunk(i: int) -> Column:
        lo, hi = bounds[i], bounds[i + 1]
        return F.shiftrightunsigned(sh, lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1)
        )

    if chunks_per_key == 1:
        return [chunk(i) + F.lit(i << width) for i in range(n_chunks)]
    from itertools import combinations

    return [
        chunk(i) * F.lit(1 << width)
        + chunk(j)
        + F.lit(c << (2 * width))
        for c, (i, j) in enumerate(combinations(range(n_chunks), 2))
    ]


def simhash_near_duplicate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    hash_family: str = "xxhash64",
    n_chunks: int = 4,
    chunks_per_key: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs: chunk bucketing + Hamming verify.

    Pigeonhole banding: ``h`` bit errors can corrupt at most ``h`` of
    ``n_chunks`` chunks, so two fingerprints within Hamming distance
    ``n_chunks - chunks_per_key`` share at least ``chunks_per_key``
    CLEAN chunks — and with every ``chunks_per_key``-sized chunk
    combination emitted as a bucket key, some key matches exactly.
    Banding makes candidate generation a grouping on equal keys (one
    shuffle on uniform buckets), then ``bit_count`` verifies the full distance ≤
    ``max_hamming`` (candidates beyond the pigeonhole guarantee may be
    missed — standard recall trade-off).

    The default (4 chunks, single-chunk keys) guarantees h ≤ 3 and
    buckets on 16-bit values — fine until corpus size approaches 2^16,
    where bucket population (and so pair generation, at population²
    per bucket) grows linearly with N. For corpora ≫ 65k docs set
    ``chunks_per_key=2``: C(n_chunks, 2) keys over chunk-PAIRS widen
    the effective bucket space to ~2^(2·64/n_chunks) (e.g. 5 chunks →
    ~2^25 buckets, guarantee h ≤ 3 still), collapsing per-bucket
    population by the same 2^w factor — the AND-amplification that
    keeps candidate counts tracking near-duplicate density instead of
    corpus size. Both variants verify identically, so for pairs within
    the WEAKER guarantee the outputs coincide exactly (pinned by
    differential test).

    The pass is the simhash index family's: ``SIMHASH.project`` at a
    one-directory geometry (``n_buckets=1``) fingerprints each doc once
    and explodes its keys (:func:`simhash_bucket_keys`), and
    ``dedup_index.pairs_from_rows`` verifies every co-bucketed pair
    inside its bucket — ONE fingerprint computation and ONE shuffle,
    the same rows the at-rest index and the streaming ingest use."""
    from .dedup_index import SIMHASH, pairs_from_rows

    meta = {
        "kind": "simhash",
        "id_col": id_col,
        "text_col": text_col,
        "hash_family": hash_family,
        "n_chunks": n_chunks,
        "chunks_per_key": chunks_per_key,
        "n_buckets": 1,
    }
    return pairs_from_rows(SIMHASH.project(df, meta), meta, threshold=max_hamming)


def jaccard_pair_join(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold (no LSH approximation,
    never a cross join); ``threshold`` must lie in (0, 1].

    AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Xiao et al., WWW'08) over each document's distinct 64-bit shingle
    hashes (:func:`shingle_hash_col` — no shingle strings are built; a
    collision needs ~10¹⁰ distinct shingles in one corpus for even odds,
    and the DuckDB oracle checks against string shingles). Each doc's
    shingles sort by ASCENDING global document frequency (ties by
    shingle value — any global total order is valid) and only the first
    ``sz - ceil(t·sz) + 1`` — the RAREST shingles — are posted into the
    candidate join; candidates pass the size-ratio prune
    ``min(|A|,|B|) >= t·max(|A|,|B|)`` inside the join condition, then
    verify exactly against the full shingle arrays with
    ``|A∩B| / (|A| + |B| - |A∩B|)``.

    Exactness: ``J(A,B) ≥ t`` forces ``|A∩B| ≥ ceil(t·|A|)``, and if
    every common element sat outside A's prefix the intersection would
    fit in the last ``ceil(t·|A|)-1`` positions — contradiction;
    symmetrically for B, so some common element lands in BOTH posted
    prefixes. Pinned against a pure-Python all-pairs Jaccard by
    ``tests/test_dedup_properties.py``.

    Scale: pair cost is Σ df² over PREFIX postings only — a stop-shingle
    shared by f·n docs almost never appears in a prefix (it is the
    commonest, prefixes keep the rarest), so pair cost stops scaling
    with the square of corpus-wide phrase frequency. Measured on the r6
    sf-curve (organic 10× growth at sf0.1): the plain postings join
    walked 33.3 s wall (fitted exponent 1.30); prefix restores
    ≈linear for three extra LINEAR passes (df count, df join, per-doc
    rank). Complements :func:`near_duplicate_pairs` (LSH), which trades
    exactness for a near-linear candidate set; this one is the
    auditable ground truth.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    # materialize the SHINGLE SETS once: both posting sides, the df
    # ranking and the verification arrays would otherwise re-evaluate
    # the shingle projection (the expensive subtree; measured 12s → 7s
    # at sf0.1 when the old postings-level checkpoint was introduced,
    # and the checkpoint moved up to the sets so the verify join shares
    # it instead of paying a fourth evaluation). At cluster scale this
    # is the standard "write the inverted index, then join it" shape.
    sets = (
        df.select(
            F.col(id_col),
            F.array_distinct(shingle_hash_col(text_col, shingle_k)).alias("sh"),
        )
        .select(id_col, "sh", F.size("sh").alias("sz"))
        .localCheckpoint(eager=False)
    )
    post = sets.select(id_col, "sz", F.explode("sh").alias("shingle"))
    size_ratio_ok = F.least(F.col("a.sz"), F.col("b.sz")) >= F.greatest(
        F.col("a.sz"), F.col("b.sz")
    ) * F.lit(threshold)
    # document frequency via a COUNT window over the shingle partition,
    # not groupBy+join: one shuffle on the shingle key instead of an
    # aggregate plus a sort-merge join back (measured 3.2 s → 2.3 s at
    # sf0.1, bit-identical output)
    ranked = post.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    rank = F.row_number().over(
        Window.partitionBy(id_col).orderBy(
            F.col("_df").asc(), F.col("shingle").asc()
        )
    )
    # The 1e-9 slack keeps a float product that is mathematically
    # integral from ceiling one too high (which would SHORTEN the
    # prefix — the unsafe direction; too-long prefixes only add
    # candidates).
    sz = F.col("sz")
    prefix = (
        ranked.select(
            id_col,
            "sz",
            "shingle",
            rank.alias("_rk"),
            (sz - F.ceil(sz * F.lit(threshold) - F.lit(1e-9)) + F.lit(1)).alias(
                "_plen"
            ),
        )
        .where(F.col("_rk") <= F.col("_plen"))
        .select(id_col, "sz", "shingle")
        # NOT checkpointed, deliberately: both self-join sides re-run
        # the df-ranking pipeline (explode + two window shuffles), but
        # the two copies run CONCURRENTLY across cores while a
        # checkpoint is a serializing barrier — measured 1.96 s →
        # 2.40 s at sf0.1 when a lazy localCheckpoint was tried here
        # (r12). The `sets` checkpoint above already bounds the
        # duplicated work to the ranking passes over in-memory postings.
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ratio_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    inter = (
        cands.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("_sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("_sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("n_common"),
        )
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return inter.select(
        "id_a",
        "id_b",
        "n_common",
        union_sz.alias("n_union"),
        (F.col("n_common").cast("double") / union_sz.cast("double")).alias(
            "jaccard"
        ),
    ).where(F.col("jaccard") >= threshold)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components → canonical ids.

    Pair generation (:func:`jaccard_pair_join`,
    :func:`near_duplicate_pairs`) yields edges; dedup RESOLUTION needs
    the transitive closure: if A≈B and B≈C, keep one of {A,B,C}. Each
    node gets ``component_id`` = the minimum reachable id (its cluster's
    canonical document); singletons map to themselves. The output
    covers ``nodes`` ∪ every edge endpoint (as does
    :func:`connected_components_star`) — an id
    appearing only in the edge list still belongs to a component and
    may be its minimum, so it can be neither dropped nor ignored when
    labeling its neighbors.

    Iterative min-label propagation: every round each node takes the
    min of its own label and its neighbors' labels (one equi-join + one
    groupBy-min per round, both shuffling on uniform ids). Near-dup
    graphs are unions of near-cliques, so convergence takes
    O(cluster diameter) ≈ 2-3 rounds, not O(graph size).
    ``localCheckpoint`` truncates lineage each round — without it the
    plan doubles per iteration and planning time explodes by round 10.

    Scale: for adversarial long-chain graphs call the alternating
    large-star/small-star variant :func:`connected_components_star`
    (Kiveris et al., "Connected Components in MapReduce"), which bounds
    rounds at O(log n) where label propagation needs O(diameter);
    near-dup clusters (diameter 2-3) keep this cheaper one.
    """
    # Symmetrize in ONE pass (fixpoint.both_directions): the (possibly
    # expensive — LSH/Jaccard join) edge subtree runs exactly once. The
    # former union-of-two-references needed its own eager checkpoint of
    # the raw pairs first (two barriers, two scans); map-side explode
    # needs neither. Same multiset of directed edges, then the same
    # dedup.
    #
    # r13 (§2.4, r12 verdict #7): the adjacency is REPARTITIONED BY
    # THE JOIN KEY and PERSISTED instead of localCheckpoint'd — a
    # checkpoint's LogicalRDD forgets its partitioning (measured:
    # every round re-shuffled e by src, ENSURE_REQUIREMENTS), while a
    # cached plan keeps it, so every propagation round's e-side
    # exchange is ELIDED (plan-verified: rounds carry only the labels
    # and groupBy exchanges; at scale |E| >> |labels|, so this removes
    # the round's dominant shuffle). repartition(src) BEFORE the dedup
    # also satisfies the dedup aggregate's clustering (src ⊆
    # {src,dst}), so the build still pays exactly ONE shuffle of E.
    # The cache is safe to drop before returning: every round's label
    # relation is eagerly checkpointed, so the returned labels never
    # re-read e. (r13 closed the lazy-result lifecycle gap for the
    # other graph loops by eagerly checkpointing their results before
    # a finally-unpersist; measurement then decided per operator —
    # triangle's wedge self-join and pagerank's |V|-sized per-iteration
    # joins took the pattern, while bfs and pagerank's ADJACENCY
    # rejected it because their big side is broadcast-streamed, never
    # shuffled — see operators/graph.py.)
    e = (
        both_directions(edges, src_col, dst_col)
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )

    def _propagate(labels: DataFrame) -> DataFrame:
        prop = e.join(
            labels.select(F.col("node").alias("src"), F.col("component_id")),
            "src",
        ).select(F.col("dst").alias("node"), "component_id")
        return (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("component_id").alias("component_id"))
        )

    # label base = nodes ∪ edge endpoints: an id appearing only in the
    # edge list still belongs to a component (and may BE its minimum),
    # so seeding from `nodes` alone would both drop it from the output
    # and mislabel its neighbors. Same contract as the star variant.
    # Convergence test: the node set is fixed after seeding (e is
    # symmetric, so every propagation target is already a label row)
    # and min-label propagation can only DECREASE labels, so over a
    # constant count an equal sum between rounds ⟺ no label changed
    # (decimal(38,0) so huge id sums cannot overflow under ANSI); the
    # count guards the invariant — a count change means the node set
    # moved and sums are incomparable, so iterate. The (count, sum)
    # metrics ride each round's checkpoint job (observed_checkpoint).
    try:
        labels, _ = fixpoint(
            nodes.select(F.col(id_col).alias("node"))
            .union(e.select(F.col("src").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("component_id")),
            _propagate,
            max_rounds=max_iter,
            name="connected_components",
            aggs={
                "n": F.count(F.lit(1)),
                "s": F.sum(F.col("component_id").cast("decimal(38,0)")),
            },
            done=lambda _prev, _new, prev_m, new_m: new_m == prev_m,
        )
    finally:
        # rounds are eagerly materialized above, so nothing downstream
        # re-reads e — release the cached adjacency before returning
        # (long-lived sessions run CC per ingest batch; leaking one
        # cache entry per call would accumulate)
        e.unpersist(blocking=False)
    return labels.select(F.col("node").alias(id_col), "component_id")


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components.

    The O(log n)-round fallback :func:`connected_components` documents
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): min-label propagation moves a label ONE hop per round, so
    an adversarial long chain needs O(diameter) rounds; the star
    operations instead rewire every node toward its neighborhood
    minimum, halving component depth per alternation.

    - large-star (per node u, over the symmetric edge set): connect
      every neighbor v > u to m = min(Γ(u) ∪ {u});
    - small-star (per node u, over edges directed larger→smaller):
      connect u and its smaller neighbors to their minimum.

    Both are one groupBy-min plus one equi-join per round — the same
    shuffle shape as a label-propagation round, just O(log n) of them.
    The fixed point is a star per component centered at its minimum
    id, read off directly as the label map. ``localCheckpoint``
    truncates lineage per round (see :func:`connected_components`).

    Returns ``(labels, rounds)`` so callers/tests can assert the
    logarithmic round bound; raises ``RuntimeError`` instead of
    returning partial labels when ``max_iter`` rounds do not converge.
    """
    def _star_round(e: DataFrame) -> DataFrame:
        # large-star over the symmetric closure
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        # (v, m) for v > u: v > u >= m, so the output is already in
        # larger→smaller canonical form and self-loop free
        e_ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the directed (u > v) set
        mins2 = e_ls.groupBy("u").agg(F.min("v").alias("m"))
        return (
            e_ls.join(mins2, "u")
            .select(F.col("v").alias("n"), "m")
            .union(mins2.select(F.col("u").alias("n"), "m"))
            .where(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    # converged ⟺ the distinct edge set is unchanged: equal observed
    # counts, then the exact anti-join emptiness test
    e, rounds = fixpoint(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct(),
        _star_round,
        max_rounds=max_iter,
        name="connected_components_star",
        aggs={"n": F.count(F.lit(1))},
        done=lambda prev, new, prev_m, new_m: new_m == prev_m
        and new.join(prev, ["u", "v"], "left_anti").isEmpty(),
    )

    # label base = nodes ∪ edge endpoints (same output contract as the
    # label-propagation path — see connected_components docstring).
    # The original e is endpoint-complete; the converged star edges
    # only point non-minimum members at their minimum, so the minimum
    # itself (and any edge-only singleton absorbed into a star center)
    # must come from this union, not from the star edge list.
    base = (
        nodes.select(F.col(id_col).alias("node"))
        .union(edges.select(F.col(src_col).alias("node")))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    labels = base.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("component_id")),
        "node",
        "left",
    ).select(
        "node",
        F.coalesce("component_id", F.col("node")).alias("component_id"),
    )
    return labels.select(F.col("node").alias(id_col), "component_id"), rounds


def near_duplicate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidates verified by exact n-gram Jaccard >= threshold.

    MinHash signatures split into ``bands`` bands of
    ``n_hashes // bands`` rows (``bands`` must divide ``n_hashes``, see
    :func:`_check_banding`); documents sharing any identical band key
    (:func:`band_key_col`) land in the same bucket. The shuffle key is
    (band, band key) — uniformly distributed, so no skew; bucket sizes
    stay tiny for non-pathological corpora.

    The pass is the minhash index family's: ``MINHASH.project`` at a
    one-directory geometry (``n_buckets=1``) shingles each document
    ONCE into its distinct hashed shingles (the same 64-bit family
    :func:`jaccard_pair_join` carries, with the same ~2⁻⁶⁴ collision
    tolerance vs string shingles) and carries them on every band row,
    and ``dedup_index.pairs_from_rows`` verifies each co-bucketed pair
    with one array-intersect INSIDE its bucket — no candidate join
    followed by a re-join to the shingle sets. An earlier formulation
    joined raw text and re-shingled per PAIR — on a mass-duplicated
    corpus a text copied m times sits in one LSH bucket and is
    re-shingled C(m,2)·2 times, which measured 126 s for a
    16×-duplicated sf0.1 corpus vs 4.2 s with per-doc shingling
    (SCALE.md "Shuffle inventory", LSH band join row;
    ``git show 3b25c0b:scripts/scaling_probe.py``). (For corpora with
    heavy exact duplication, still run :func:`exact_dedup_fingerprints`
    first — it collapses the m copies before any pair is generated.)
    """
    from .dedup_index import MINHASH, pairs_from_rows

    meta = {
        "kind": "minhash",
        "id_col": id_col,
        "text_col": text_col,
        "n_hashes": n_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "n_buckets": 1,
    }
    return pairs_from_rows(MINHASH.project(df, meta), meta, threshold=threshold)


def passage_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_chars: int = 100,
) -> DataFrame:
    """Sub-document exact dedup: split each document into fixed
    ``window_chars``-character passages, fingerprint each, and keep one
    winner per distinct passage — the first occurrence in corpus order
    (lowest (id, offset)).

    This is the passage-granularity complement of
    :func:`exact_dedup_fingerprints` (whole-document): boilerplate
    repeated ACROSS otherwise-distinct documents (headers, footers,
    license blocks) survives whole-doc dedup but is caught here.

    Output: one row per document — total passages, passages retained
    after global dedup, and the exact characters dropped.

    Scale: passage explosion is map-side (sequence+transform, no
    shuffle); the only shuffle is the groupBy on the passage hash,
    whose keys are uniform md5 values. The winner is chosen with one
    ``min`` over the (id, offset) struct — deterministic under any
    partition layout, no window sort over the corpus, and valid for
    arbitrary 64-bit ids and document lengths (an arithmetic pack
    would overflow or collide).
    """
    c = F.col(text_col)
    n_wins = F.floor((F.length(c) - 1) / window_chars).cast("int") + 1
    passages = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_wins - 1),
                lambda i: F.struct(
                    i.alias("off"),
                    F.substring(c, F.lit(1) + i * window_chars, window_chars).alias(
                        "passage"
                    ),
                ),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.off").alias("off"), F.col("p.passage").alias("passage"))
    # winner per distinct passage text = lowest (doc_id, offset) via a
    # MIN over the (id, off) STRUCT — lexicographic comparison is
    # partial-aggregable like a scalar min, and unlike an arithmetic
    # pack (id * K + off) it cannot overflow int64 for hash-sized ids
    # or collide when a document has more than K passages
    pk = F.struct(F.col(id_col).alias("i"), F.col("off").alias("o"))
    winners = passages.groupBy(F.md5("passage").alias("fp")).agg(
        F.min(pk).alias("win")
    )
    kept = (
        passages.join(winners, F.md5("passage") == F.col("fp"))
        .where(
            (F.col(id_col) == F.col("win.i")) & (F.col("off") == F.col("win.o"))
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.length("passage")).alias("chars_kept"),
        )
    )
    totals = passages.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.length("passage")).alias("chars_total"),
    )
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            "n_passages",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "chars_total",
            (F.col("chars_total") - F.coalesce("chars_kept", F.lit(0))).alias(
                "chars_dropped"
            ),
        )
    )
