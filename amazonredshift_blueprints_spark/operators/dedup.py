"""Deduplication operators for large-scale text corpora.

All pure DataFrame/Catalyst — no RDDs, no Python UDFs, no driver-side
materialization — so every operator distributes and scales by adding
executors.

100 TB design notes:
- Exact dedup is a hash aggregate on a fingerprint — one shuffle keyed by
  the fingerprint, and AQE handles skew (e.g. the empty document).
- MinHash-LSH: candidate generation is ``explode(bands)`` → equi-join on
  (band index, band hash). Cost is bounded by bucket collision counts,
  never the |docs|² cross product. Bands/rows tune precision/recall:
  with b bands of r rows, P(candidate) = 1-(1-j^r)^b.
- SimHash: 64-bit signature; blocking splits the signature into
  (max_distance+1) blocks — pigeonhole guarantees any pair within the
  Hamming radius shares at least one exact block, so the join is again
  an equi-join.
- n-gram Jaccard is the exact (verification) path: explode n-grams and
  count shared grams per pair. At scale you run it only on LSH candidate
  pairs (``verify=True`` below does exactly that).
- Embedding near-dup quantizes components to integers so the dot product
  is exact integer arithmetic — deterministic across engines, partition
  orders, and SIMD strategies.
- Input rebalance is GUARDED, not blanket: sketching is CPU-bound
  (~ms/doc of hashing), so when the scan's parallelism is far below the
  cluster's — e.g. single-row-group parquet files, which Spark cannot
  split — one round-robin repartition before the persisted signature
  stage restores map-side parallelism (measured 2× end-to-end at
  sf0.1). When the scan already arrives well-split (any real at-scale
  input), the guard makes it a no-op, so no extra shuffle exists at
  100 TB. An UNGUARDED repartition ahead of a NON-persisted
  multi-consumer subtree was the round-3 mistake (~8× slower: every
  broadcast stage re-executed it); the persist is what makes the
  rebalanced subtree materialize exactly once.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import random as _random

# Carter-Wegman universal-hash family h_i(x) = (a_i * x31 + b_i) mod p
# over the 31-bit reduction of the base hash. The mod is what makes each
# h_i a (near-)permutation — without it a*x+b is MONOTONE in x and every
# "permutation" would select the same min shingle, collapsing the whole
# signature to one hash function. Products stay < 2^62, so the arithmetic
# never overflows a BIGINT — important because Spark 4 runs ANSI mode by
# default and would *throw* on wraparound, not wrap. Constants are a
# fixed seeded draw: deterministic across sessions and clusters.
_MERSENNE_P = (1 << 31) - 1  # 2^31-1, prime
_rng = _random.Random(42)
_HASH_A = [_rng.randrange(1, _MERSENNE_P) for _ in range(512)]
_HASH_B = [_rng.randrange(0, _MERSENNE_P) for _ in range(512)]


def rebalance_for_compute(df: DataFrame, *, factor: int = 4) -> DataFrame:
    """Round-robin repartition to cluster parallelism, ONLY when the
    input's scan parallelism is more than ``factor``× below it.

    Spark cannot split a parquet file below its row groups, so a
    single-row-group file serializes every downstream per-row sketch
    into one task no matter the cluster size. This guard restores the
    parallelism such an input would naturally have at scale; for any
    well-split input (every real 100 TB table) it is a no-op — no added
    shuffle.

    Multi-consumer note: consumers that branch off the rebalanced
    subtree (simhash's block self-join, n-gram's rare/a/b fan-out) may
    re-execute the repartition where the optimizer doesn't reuse the
    exchange — acceptable, because the shuffle only FIRES on
    pathologically under-split inputs (where it is small by
    construction) and is a no-op on any well-split at-scale input.
    Persist explicitly only when expensive map-side work sits between
    the rebalance and multiple consumers — e.g. an Arrow sketch kernel —
    since recomputing THAT is never cheap (which is why the MinHash
    signature stage and the portable-LSH sketch persist; see module
    header).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * factor <= target:
        return df.repartition(target)
    return df


def tokens(text: Column | str, *, lowercase: bool = True) -> Column:
    """Whitespace tokens, empty-safe."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def _ngrams_expr(toks: Column, n: int) -> Column:
    """Word n-grams of a token array (array transform: stays JVM-side).

    Guarded: Spark's ``sequence(1, 0)`` counts *down* ([1, 0]), so short
    docs must short-circuit to an empty array explicitly.

    ``toks`` is let-bound through a one-element ``transform`` before the
    per-gram lambda touches it: a lambda that captures ``toks`` as an
    expression re-evaluates the whole upstream chain (lower → split →
    filter) for EVERY gram index — O(tokens × grams) per row, measured
    18× slower at sf0.1 — whereas the lambda variable binds the
    materialized array once.
    """

    def over(t: Column) -> Column:
        size = F.size(t)
        grams = F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
        return F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(toks), over)[0]


def word_ngrams(toks: Column, n: int) -> Column:
    """Distinct word n-grams of a token array."""
    return F.array_distinct(_ngrams_expr(toks, n))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct content with
    the smallest id as the keeper (hash-groupBy; single shuffle).

    Returns (fp, keep_id, n_copies).
    """
    norm = F.lower(F.trim(F.col(text_col)))
    return (
        df.select(F.md5(norm).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingle_hashes(toks: Column, *, shingle_size: int) -> Column:
    """Distinct word shingles → 31-bit base hashes (one xxhash64 each)."""
    return F.transform(
        F.array_distinct(_ngrams_expr(toks, shingle_size)),
        lambda s: F.xxhash64(s).bitwiseAND(F.lit((1 << 31) - 1)),
    )


def minhash_signature(base_hashes: Column, *, num_hashes: int) -> Column:
    """Array of ``num_hashes`` minhash values from a base-hash array.

    The universal-hash family derives every permutation arithmetically
    from the one base hash — no string re-hashing.

    IMPORTANT: pass a *materialized column reference* (stage the base
    hashes with a ``select`` first). The expression repeats num_hashes
    times; an inlined tokenize/shingle subtree repeated 64× makes
    Catalyst analysis + codegen take minutes instead of milliseconds.
    """
    if num_hashes > len(_HASH_A):
        raise ValueError(f"num_hashes must be <= {len(_HASH_A)}")

    # Closure factory, not `lambda h, i=i`: PySpark counts lambda params
    # to pick the (element) vs (element, index) calling convention, so a
    # defaulted second parameter changes the semantics.
    def _perm(i: int):
        a, b = F.lit(_HASH_A[i]), F.lit(_HASH_B[i])
        return lambda h: F.pmod(h * a + b, F.lit(_MERSENNE_P))

    return F.array(
        *[F.array_min(F.transform(base_hashes, _perm(i))) for i in range(num_hashes)]
    )


def minhash_bands(sig: Column, *, bands: int, rows_per_band: int) -> Column:
    """Hash each band of the signature to one 64-bit key → array<band key>."""
    keys = [
        F.xxhash64(*[sig[b * rows_per_band + r] for r in range(rows_per_band)])
        for b in range(bands)
    ]
    return F.array(*keys)


def jaccard_pairs_from_candidates(
    docs: DataFrame,
    cand: DataFrame,
    id_col: str,
    set_col: str,
    *,
    threshold_pct: int | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate (id_a, id_b) pairs via set intersection.

    With ``threshold_pct`` the caller's Jaccard gate
    ``(n_union > 0) AND (100·n_common >= t·n_union)`` is applied here in
    the algebraically rewritten form
    ``(|A|+|B| > 0) AND ((100+t)·I >= t·(|A|+|B|))`` — exactly
    equivalent in integers because ``U = |A|+|B| − I`` and
    ``I <= min(|A|,|B|)`` gives ``U > 0 ⟺ |A|+|B| > 0``. The point is
    performance, not semantics: the predicate Catalyst pushes into the
    verify join then references ``array_intersect`` ONCE per candidate
    pair; filtering on n_common/n_union after the projection re-inlines
    the intersection into the pushed predicate three times (once for
    the U>0 guard, twice for the ratio test).
    """
    a = docs.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("set_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("set_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    if threshold_pct is not None:
        t = int(threshold_pct)
        joined = joined.filter(
            ((F.size("set_a") + F.size("set_b")) > 0)
            & (
                F.lit(100 + t) * F.size(F.array_intersect("set_a", "set_b"))
                >= F.lit(t) * (F.size("set_a") + F.size("set_b"))
            )
        )
    return (
        joined.select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_common"),
            (F.size("set_a") + F.size("set_b")).alias("_sz"),
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            (F.col("_sz") - F.col("n_common")).alias("n_union"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold_pct: int = 60,
    verify: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded MinHash-LSH near-duplicate pairs.

    Returns (id_a, id_b, n_common, n_union, jaccard) with
    jaccard*100 >= threshold_pct (integer predicate: no float-boundary
    nondeterminism). With ``verify=False`` returns unverified candidate
    pairs (the pure LSH recall set).

    ``max_bucket_size`` is the 100 TB degenerate-bucket guard: a band
    key shared by B documents contributes B² candidate pairs, so one
    pathological bucket (boilerplate pages, near-empty docs) can
    dominate the whole join. With a cap, buckets larger than the cap
    are dropped BEFORE the self-join (one extra count aggregate on the
    band keys — tiny next to the join it prevents). Recall note: docs
    co-occurring only in dropped buckets are missed; members of a
    B ≫ cap bucket are typically mutual near-dups reachable through
    their other ``bands - 1`` keys, and exact dedup (c01) is the right
    first pass for the identical-content blowups. Default None keeps
    the exact oracle-checked semantics.

    Scale: |output of explode| = bands × |docs|; the self-join is an
    equi-join on (band index, band hash). No cross product anywhere.
    The (id, base-hashes, signature) stage is persisted (memory+disk):
    three consumers read it — both self-join sides and the verify stage —
    and at ~300 bytes/doc it is orders of magnitude smaller than the raw
    text, so caching it beats recomputing tokenize+shingle+hash three
    times at any scale (measured 1.6× end-to-end at sf0.1). Verification
    runs in the 31-bit hashed-shingle domain (sets already distinct);
    collision probability per pair is |S|²/2³¹ (~1e-5 for 200-shingle
    docs), below the LSH miss rate — the exactness tests still match
    string-domain brute force on the fixtures.
    """
    from pyspark.storagelevel import StorageLevel

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    df = rebalance_for_compute(df)
    # Staged selects: every wide fan-out (64 minhash transforms, band
    # keys) references a materialized column, keeping the plan tree
    # linear in num_hashes rather than multiplicative.
    staged = (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(
            id_col,
            shingle_hashes(F.col("_toks"), shingle_size=shingle_size).alias("_base"),
        )
        .select(
            id_col,
            "_base",
            minhash_signature(F.col("_base"), num_hashes=num_hashes).alias("_sig"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    with_bands = staged.select(
        F.col(id_col),
        F.posexplode(
            minhash_bands(F.col("_sig"), bands=bands, rows_per_band=rows_per_band)
        ).alias("band_idx", "band_key"),
    )
    if max_bucket_size is not None:
        ok = (
            with_bands.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band_idx", "band_key")
        )
        with_bands = with_bands.join(ok, ["band_idx", "band_key"], "left_semi")
    left = with_bands.select(
        "band_idx", "band_key", F.col(id_col).alias("id_a")
    )
    right = with_bands.select(
        "band_idx", "band_key", F.col(id_col).alias("id_b")
    )
    cand = (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if not verify:
        return cand
    # verify in the hashed-shingle domain: reuses the persisted stage
    # instead of re-tokenizing raw text, and joins 8-byte hash arrays
    # instead of string arrays
    shingle_sets = staged.select(F.col(id_col), F.col("_base").alias("shingles"))
    pairs = jaccard_pairs_from_candidates(
        shingle_sets, cand, id_col, "shingles", threshold_pct=threshold_pct
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_common",
        "n_union",
        (F.col("n_common") / F.col("n_union")).alias("jaccard"),
    )


def simhash(hashes: Column, *, bits: int = 64) -> Column:
    """SimHash from an array of 64-bit token hashes, as BIGINT.

    Bit-vote: for each bit position, +1 if the token hash has the bit
    set, -1 otherwise; the signature bit is 1 where the vote is positive.
    One static per-bit array aggregate (shift amounts must be Python
    ints for ``shiftright``), all JVM-side — no UDFs. Bit 63's place
    value is min-long; summing the disjoint bit values is equivalent to
    OR and stays in range.

    Pass a *materialized column* of hashes (stage ``token_hashes`` with a
    select first): the expression repeats ``bits`` times.
    """

    def _voter(b: int):  # closure factory: keep the merge lambda 2-arg
        return lambda acc, h: acc + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        ).cast("int")

    sig = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hashes, F.lit(0), _voter(b))
        place = F.lit(-(1 << 63)).cast("long") if b == 63 else F.lit(1 << b).cast("long")
        sig = sig + F.when(vote > 0, place).otherwise(F.lit(0).cast("long"))
    return sig


def token_hashes(toks: Column) -> Column:
    """Token array → xxhash64 array (the simhash input)."""
    return F.transform(toks, lambda t: F.xxhash64(t))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 3,
) -> DataFrame:
    """SimHash pairs within ``max_distance`` Hamming bits.

    Blocking: split the 64-bit signature into (max_distance+1) equal
    blocks; by pigeonhole, any pair within the radius agrees exactly on
    at least one block → equi-join per block, then exact bit_count(xor)
    verification. Returns (id_a, id_b, hamming).
    """
    # Pigeonhole needs strictly more blocks than differing bits, hence
    # n_blocks = max_distance + 1; each block must be ≥1 bit wide.
    if not 0 <= max_distance <= 63:
        raise ValueError(f"max_distance must be in [0, 63], got {max_distance}")
    n_blocks = max_distance + 1
    block_bits = 64 // n_blocks
    df = rebalance_for_compute(df)
    sig = (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(id_col, token_hashes(F.col("_toks")).alias("_h"))
        .select(F.col(id_col), simhash(F.col("_h")).alias("sig"))
    )
    blocks = [
        F.shiftright("sig", i * block_bits).bitwiseAND(
            F.lit((1 << block_bits) - 1).cast("long")
        ).alias(f"b{i}")
        for i in range(n_blocks)
    ]
    from pyspark.storagelevel import StorageLevel

    # persisted (r16): the signature table feeds 2·n_blocks join inputs
    # (both sides of every per-block equi-join) and nothing dedupes the
    # tokenize + 64-bit-vote subtree across them — unpersisted, the
    # 64-aggregate simhash ran 8× per query (guide §5 multi-consumer
    # subtrees). One compute, eight InMemoryTableScans.
    sig_b = sig.select(id_col, "sig", *blocks).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = None
    for i in range(n_blocks):
        l = sig_b.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), F.col(f"b{i}").alias("blk"))
        r = sig_b.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), F.col(f"b{i}").alias("blk"))
        p = l.join(r, "blk").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "sig_a", "sig_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold_pct: int = 40,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs word-n-gram Jaccard via explode + pair counting.

    The inverted-index shape: explode grams, self-join on the gram,
    count shared grams per pair — never a raw cross join. At 100 TB this
    is the *verification* operator for LSH candidates.

    ``max_doc_freq`` is the standalone-at-scale guard (prefix
    filtering): a gram appearing in B documents contributes B² join
    rows, so one boilerplate phrase can dominate the whole stage. With
    the cap set, grams whose document frequency exceeds it are dropped
    BEFORE the self-join (one count aggregate over the exploded grams —
    tiny next to the B² it prevents). Semantics shift is precision-safe
    but not recall-safe: n_common undercounts by capped grams only
    (pairs can be MISSED near the threshold, never falsely added beyond
    their true jaccard — the computed jaccard is a lower bound).
    Default None keeps the exact oracle-checked contract.

    Integer threshold predicate (n_common*100 >= n_union*pct): exact in
    both Spark and DuckDB, no float rounding at the decision boundary.
    """
    df = rebalance_for_compute(df)
    grams = df.select(
        F.col(id_col),
        F.array_distinct(_ngrams_expr(tokens(text_col), n)).alias("grams"),
    )
    # n_grams rides ALONG the exploded rows (one int per row) instead of
    # re-joining a separate sizes table per pair side: that join shape
    # costs two extra joins AND recomputes the tokenize+ngram projection
    # for each — size-on-row is one column of shuffle width for three
    # fewer plan branches, and both self-join sides then share one
    # reused exchange.
    exploded = grams.select(
        id_col, F.size("grams").alias("n_grams"), F.explode("grams").alias("gram")
    )
    if max_doc_freq is not None:
        rare = (
            exploded.groupBy("gram")
            .count()
            .filter(F.col("count") <= max_doc_freq)
            .select("gram")
        )
        exploded = exploded.join(rare, "gram")
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"), "gram"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"), "gram"
    )
    common = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    return (
        common.withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_common"))
        .filter(
            (F.col("n_union") > 0)
            & (F.col("n_common") * 100 >= F.col("n_union") * threshold_pct)
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_union",
            (F.col("n_common") / F.col("n_union")).alias("jaccard"),
        )
    )


def _portable_perm_hash(p: int):
    """Closure factory for the per-permutation md5 hash. The transform
    lambda MUST stay unary — a second parameter (even defaulted) makes
    pyspark bind it to the array index."""
    prefix = f"{p}:"
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def portable_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    num_perms: int = 8,
) -> DataFrame:
    """The engine-portable MinHash signature table: (id, grams,
    h0..h{p-1}) where ``h_p`` = lexicographic-min md5 over prefixed
    shingles — shared by the self-join pair generator
    (:func:`portable_minhash_pairs`) and the stored-signature
    incremental dedup (:func:`build_minhash_store`). Empty-gram docs
    are dropped (no signature to take a min over)."""
    grams = word_ngrams(tokens(text_col), shingle_size)
    df = rebalance_for_compute(df)
    base = df.select(F.col(id_col), grams.alias("grams")).filter(
        F.size("grams") > 0
    )
    return base.select(
        id_col,
        "grams",
        *[
            F.array_min(
                F.transform(F.col("grams"), _portable_perm_hash(p))
            ).alias(f"h{p}")
            for p in range(num_perms)
        ],
    )


def _portable_band_keys(*, num_perms: int, bands: int) -> list[Column]:
    """Band keys over an ``h0..h{p-1}`` signature row: md5 of the
    '|'-joined signature slice per band."""
    rows_per_band = num_perms // bands
    keys = []
    for b in range(bands):
        parts: list[Column] = []
        for j in range(rows_per_band):
            if j:
                parts.append(F.lit("|"))
            parts.append(F.col(f"h{b * rows_per_band + j}"))
        keys.append(F.md5(F.concat(*parts)))
    return keys


def portable_minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    num_perms: int = 8,
    bands: int = 4,
    threshold_pct: int = 60,
) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs in an engine-portable hash domain.

    Same algorithm as :func:`minhash_near_duplicates`, but every hash is
    ``md5`` over strings and every signature element is the *lexicographic
    minimum of hex digests* — bit-identical in any engine (hex chars are
    ASCII, so binary and lexicographic order agree). That makes the whole
    pipeline, candidates included, reproducible in ANSI SQL: an external
    auditor (the DuckDB oracle in the catalog) can re-derive the exact
    pair set, which xxhash64-based signatures cannot offer.

    The trade-off is hash cost (md5 per shingle per permutation vs one
    xxhash64 + cheap permutations), so the fast path keeps xxhash64 and
    this variant is for verifiable runs. Scale shape is unchanged: band
    bucket equi-join, no |docs|^2 stage; md5 cost is map-side only.
    """
    if num_perms % bands:
        raise ValueError(f"num_perms {num_perms} not divisible by bands {bands}")

    from pyspark.storagelevel import StorageLevel

    # persisted: the md5-per-(perm, shingle) signature pass is the
    # dominant cost and has three consumers (both self-join sides via
    # the band explode, and the verify stage via grams) — same pattern
    # as minhash_near_duplicates
    sig = portable_signatures(
        df, id_col, text_col, shingle_size=shingle_size, num_perms=num_perms
    ).persist(StorageLevel.MEMORY_AND_DISK)

    banded = sig.select(
        id_col,
        F.posexplode(
            F.array(*_portable_band_keys(num_perms=num_perms, bands=bands))
        ).alias("band_idx", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # read grams from the persisted stage, not the raw-text lineage
    pairs = jaccard_pairs_from_candidates(
        sig.select(id_col, "grams"), cand, id_col, "grams",
        threshold_pct=threshold_pct,
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_union").cast("long").alias("n_union"),
        (F.col("n_common").cast("double") / F.col("n_union")).alias("jaccard"),
    )


def portable_simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs in an engine-portable hash domain.

    Same pigeonhole design as :func:`simhash_near_duplicates` (a 64-bit
    signature split into ``blocks`` exact-match blocks catches every pair
    with Hamming distance < ``blocks``), but the per-token hash is the
    first 16 hex nibbles of ``md5(token)`` and all bit arithmetic stays
    in (nibble index, nibble value) space — every step re-derivable in
    ANSI SQL (see the c26 oracle), like :func:`portable_minhash_pairs`.

    Shape: |tokens|×16 vote rows → two hash aggregates (doc×nibble, then
    doc) → 4-block explode → bucket equi-join → exact Hamming verify on
    the 16-nibble signatures. No |docs|² stage; votes are integer sums so
    ties (vote == 0 → bit 0) are engine-exact.
    """
    if 64 % blocks:
        raise ValueError(f"blocks {blocks} must divide 64")
    if max_distance >= blocks:
        # Pigeonhole guarantee is max_distance < blocks: with ≥ blocks
        # differing bits a pair can differ in EVERY block and silently
        # never become a candidate.
        raise ValueError(
            f"max_distance ({max_distance}) must be < blocks ({blocks}); "
            "raise blocks or lower the radius"
        )
    nib_per_block = 16 // blocks
    hexd = "0123456789abcdef"

    df = rebalance_for_compute(df)
    ex = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_tok")).select(
        id_col, F.md5("_tok").alias("_h")
    )
    # (doc, nibble index 0..15, nibble value 0..15) — one row per token nibble
    nib = ex.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: F.conv(F.col("_h").substr(i + 1, F.lit(1)), 16, 10).cast("int"),
            )
        ).alias("i", "val"),
    )
    votes = nib.groupBy(id_col, "i").agg(
        *[
            F.sum(
                F.when(F.shiftright("val", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(4)
        ]
    )
    nibval = votes.select(
        id_col,
        "i",
        sum(
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(4)
        ).alias("nib"),
    )
    sig = nibval.groupBy(id_col).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "nib"))),
                lambda x: F.lit(hexd).substr(x["nib"] + 1, F.lit(1)),
            ),
        ).alias("sig")
    )

    # NOT persisted (measured, r16): the banded signature table is both
    # sides of the bucket self-join, but caching it REGRESSED c26
    # 6.46 → 7.41 s at sf0.1 — the md5-nibble ObjectHashAggregate
    # recomputes cheaper than the columnar cache populates, unlike
    # c03's 64-bit-vote aggregate (which does pay for its persist).
    banded = sig.select(
        id_col,
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.col("sig").substr(1 + b * nib_per_block, nib_per_block)
                    for b in range(blocks)
                ]
            )
        ).alias("block_idx", "block_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"a.sig").alias("sig_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"b.sig").alias("sig_b"),
        )
        .distinct()
    )

    def _nib_at(col: str, i):
        return F.conv(F.col(col).substr(i + 1, F.lit(1)), 16, 10).cast("int")

    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(15)),
        F.lit(0),
        lambda acc, i: acc
        + F.bit_count(_nib_at("sig_a", i).bitwiseXOR(_nib_at("sig_b", i))),
    )
    return (
        cand.select("id_a", "id_b", dist.cast("long").alias("distance"))
        .filter(F.col("distance") <= max_distance)
    )


def build_minhash_store(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    num_perms: int = 8,
) -> DataFrame:
    """Materialize the portable MinHash signature table for a reference
    corpus — the stored-index half of INCREMENTAL text dedup (the c60
    frozen-ANN-index story, for near-dup text): signatures are computed
    ONCE per reference document and persisted as plain parquet columns
    (id, h0..h{p-1}); every later batch dedups against the store
    without re-reading or re-sketching the reference corpus.

    The grams themselves are NOT stored (they are corpus-sized);
    verification against the store uses SIGNATURE AGREEMENT — the
    fraction of matching minhash components, the unbiased estimator of
    Jaccard similarity — which needs only the k hex digests per doc.

    A ``_minhash_meta.json`` sidecar (shingle_size, num_perms) is
    written inside the store directory (``_``-prefixed, so parquet
    readers skip it) and validated at query time: signatures sketched
    with a different shingle_size hash-disagree silently, so a
    mismatched query would return meaningless est_jaccard values
    instead of failing — the sidecar turns that into a loud error.
    """
    (
        portable_signatures(
            df, id_col, text_col, shingle_size=shingle_size, num_perms=num_perms
        )
        .drop("grams")
        .write.mode("overwrite")
        .parquet(path)
    )
    import json
    import os

    with open(os.path.join(path, "_minhash_meta.json"), "w") as fh:
        json.dump({"shingle_size": shingle_size, "num_perms": num_perms}, fh)
    return df.sparkSession.read.parquet(path)


def dedup_against_minhash_store(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    num_perms: int = 8,
    bands: int = 4,
    min_sig_match: int = 4,
) -> DataFrame:
    """Match a NEW document batch against a stored reference signature
    table (:func:`build_minhash_store`): sketch only the new batch,
    candidate-join on band keys derived from the stored signatures, and
    verify by signature agreement (``n_sig_match`` of ``num_perms``
    components equal; ``est_jaccard = n_sig_match / num_perms``).

    Returns (new_id, ref_id, n_sig_match, est_jaccard) for matches with
    ``n_sig_match >= min_sig_match``.

    100 TB: the reference corpus is NEVER rescanned — only its
    signature table (k hex digests per doc, ~0.3 KB/doc) is read, and
    only on band-key candidates; the new batch pays one sketch pass.
    Never a new × ref product: candidates come from the (band_idx,
    band_key) equi-join, exactly the c24 shape with one side frozen.
    """
    if num_perms % bands:
        raise ValueError(f"num_perms {num_perms} not divisible by bands {bands}")
    import json
    import os

    from pyspark.storagelevel import StorageLevel

    meta_path = os.path.join(path, "_minhash_meta.json")
    if os.path.exists(meta_path):  # absent on pre-sidecar stores
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta != {"shingle_size": shingle_size, "num_perms": num_perms}:
            raise ValueError(
                f"minhash store at {path} was built with {meta}; query asked "
                f"shingle_size={shingle_size}, num_perms={num_perms} — "
                "mismatched shingles produce meaningless est_jaccard"
            )

    ref_sig = spark.read.parquet(path)
    new_sig = (
        portable_signatures(
            new_df, id_col, text_col,
            shingle_size=shingle_size, num_perms=num_perms,
        )
        .drop("grams")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keys = _portable_band_keys(num_perms=num_perms, bands=bands)

    def banded(sig: DataFrame, alias: str) -> DataFrame:
        return sig.select(
            F.col(id_col).alias(f"{alias}_id"),
            F.posexplode(F.array(*keys)).alias("band_idx", "band_key"),
        )

    cand = (
        banded(new_sig, "new")
        .join(banded(ref_sig, "ref"), ["band_idx", "band_key"])
        .select("new_id", "ref_id")
        .distinct()
    )
    n_match = sum(
        (F.col(f"a.h{p}") == F.col(f"b.h{p}")).cast("int") for p in range(num_perms)
    )
    return (
        cand.join(new_sig.alias("a"), F.col("new_id") == F.col(f"a.{id_col}"))
        .join(ref_sig.alias("b"), F.col("ref_id") == F.col(f"b.{id_col}"))
        .select(
            "new_id",
            "ref_id",
            n_match.cast("long").alias("n_sig_match"),
        )
        .filter(F.col("n_sig_match") >= min_sig_match)
        .withColumn(
            "est_jaccard",
            F.col("n_sig_match").cast("double") / num_perms,
        )
    )


def duplicate_groups(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Resolve near-duplicate pairs into duplicate GROUPS: connected
    components over the pair graph, labeled by each component's minimum
    id. Returns (doc_id, group_id) for every id that appears in a pair;
    ``WHERE doc_id != group_id`` is then "the rows to drop, keeping the
    lowest-id canonical document" — the step a dedup pipeline actually
    executes after any of the pair generators (c02-c05, c24, c26).

    Algorithm: iterative min-label propagation (the Pregel/GraphX
    connected-components shape as pure DataFrame ops) with ADAPTIVE
    POINTER JUMPING. Plain rounds — each node takes the min of its own
    and its neighbors' labels — run first; they are the cheapest round
    shape and finish star-like components (the shape near-dup graphs
    actually produce, diameter 2-4) in 2-3 rounds with zero overhead.
    If convergence hasn't arrived after ``plain_rounds`` rounds the
    graph has deep chains, and every later round ALSO shortcuts
    label → label-of-label (path compression, the Shiloach-Vishkin
    step) so a diameter-d chain resolves in O(log d) further rounds
    instead of O(d) — templated spam series where doc k only matches
    doc k±1 are exactly this adversarial shape. The loop stops when the
    exact integer sum of labels stops decreasing — a driver-side
    convergence probe on one aggregated BIGINT, not a data collect;
    ``max_iters`` bounds the loop.

    100 TB: each round is one equi-join on src + one groupBy(dst) min
    (+ one label-table self-join in compressed rounds) — all shuffle on
    node ids only; labels are (id, label) pairs, orders of magnitude
    smaller than the documents. When the edge set itself is
    metadata-sized (see the gate below) the rounds are skipped entirely
    for a driver-local union-find with identical output. Deterministic: min over ids, no floats,
    no ordering dependence (a label value is always some node's id, so
    the compression join always finds its target). Compressed rounds
    cut lineage with ``localCheckpoint`` — their self-join references
    the previous round's plan twice, so un-truncated lineage doubles
    per round and the planner blows up exponentially (the standard
    iterative-graph checkpointing pattern; swap for ``checkpoint()`` on
    a cluster where executor loss matters more than the extra I/O).
    """
    from pyspark.storagelevel import StorageLevel

    plain_rounds = 4

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # no distinct(): every pair generator in this package emits unique
    # (id_a < id_b) pairs, so the union with its reverse is already
    # duplicate-free — and even if a caller passes duplicate pairs, the
    # groupBy-min per round absorbs them (min is idempotent); correctness
    # never depended on it. Dropping the distinct removes a full shuffle
    # of the edge table from the one-time setup cost.
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Driver-side union-find gate (r17): when the PERSISTED edge set is
    # metadata-sized, the 3-5 distributed join+agg convergence rounds
    # are pure job/shuffle overhead — a local union-find over the
    # collected edge list computes the identical (id, min id of
    # component) mapping in microseconds. The gate is a hard row bound
    # on the edge cache (default 200k directed edges ≈ ~3 MB of id
    # pairs — the broadcast-threshold class, same size discipline as
    # the k-means centroid collects), so at any real scale the
    # distributed loop below runs exactly as before. The probe is a
    # short-circuiting limit(gate+1).count(): below the gate it scans
    # (and caches) everything the collect needs anyway; above it, it
    # stops after ~one partition instead of paying a full extra pass.
    # SPARK_GRAFT_CC_DRIVER_EDGES overrides (0 disables). Applied only
    # to integral id types: the loop casts labels to long, and the
    # local path must reproduce that exactly.
    gate = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_EDGES", "200000"))
    id_type = dict(edges.dtypes)["src"]  # union-coerced common id type
    if gate > 0 and id_type in ("tinyint", "smallint", "int", "bigint"):
        local = (
            edges.collect()  # bounded by the gate
            if edges.limit(gate + 1).count() <= gate
            else None
        )
        # A NULL endpoint takes the distributed loop: its NULL-key join
        # semantics define the result, which union-find cannot key on.
        if local is not None and all(
            s is not None and d is not None for s, d in local
        ):
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for s, d in local:
                parent.setdefault(s, s)
                parent.setdefault(d, d)
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[rs] = rd
            comp_min: dict = {}
            for node in parent:
                root = find(node)
                cur = comp_min.get(root)
                if cur is None or node < cur:
                    comp_min[root] = node
            edges.unpersist()
            from pyspark.sql.types import LongType, StructField, StructType

            # the loop's shape: both columns are NULL-able iff the ids are
            src = edges.schema["src"]
            out_schema = StructType(
                [
                    StructField("doc_id", src.dataType, src.nullable),
                    StructField("group_id", LongType(), src.nullable),
                ]
            )
            return pairs.sparkSession.createDataFrame(
                [(n, int(comp_min[find(n)])) for n in parent], out_schema
            )
    # init fuses the FIRST propagation round: label(v) = min(v, min
    # neighbor) comes out of the same groupBy that enumerates the node
    # set (edges are symmetrized, so every node appears as src) — one
    # fewer join round than identity-init for every component, and the
    # star-shaped components near-dup graphs produce typically converge
    # in the very next round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src").cast("long"), F.col("_m").cast("long")).alias(
                "label"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for rnd in range(max_iters):
        compress = rnd >= plain_rounds
        neigh = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = labels.join(neigh, labels["id"] == neigh["dst"], "left").select(
            labels["id"],
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        if compress:
            # pointer jumping: label' = min(label, label-of-label); the
            # parent lookup joins the half-updated table against itself
            # on the label value (always a node id).
            half = new_labels.localCheckpoint(eager=True)
            parents = half.select(
                F.col("id").alias("_pid"), F.col("label").alias("_plabel")
            )
            new_labels = (
                half.join(parents, half["label"] == parents["_pid"], "left")
                .select(
                    half["id"],
                    F.least(
                        half["label"],
                        F.coalesce(F.col("_plabel"), half["label"]),
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:  # exact fixpoint: min-labels are monotone
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("group_id")
    )


def minhash_recall_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    num_perms: int = 8,
    bands: int = 4,
    threshold_pct: int = 60,
) -> DataFrame:
    """Evaluation harness for the MinHash-LSH approximate path: measure
    its candidate count, predicted-pair count, and RECALL against the
    exact all-pairs Jaccard ground truth at the same threshold — as a
    single-row DataFrame, so the quality of the approximation is itself
    a queryable, oracle-checkable artifact (not a claim in a docstring).

    Predicted pairs are a subset of truth by construction (both apply
    the identical exact-Jaccard verify), so the approximation loses
    only recall — pairs whose signatures never collided in any band;
    candidate_precision shows how much post-collision verification
    filtered. Run on a bounded sample by design: ground truth is
    all-pairs (the thing LSH exists to avoid), which is exactly why an
    engine should ship the evaluator — you measure recall on a sample,
    then trust the banded path at full scale.
    """
    from pyspark.storagelevel import StorageLevel

    # Persisted (r16): the signature table is the expensive map-side
    # kernel (num_perms md5-min transforms over every gram) and feeds
    # FOUR consumers — both band-join sides and both verify-side array
    # joins; the candidate set feeds its count AND the verify join.
    # Unpersisted, every consuming subtree re-ran the whole sketch
    # lineage (~4x the kernel; guide §5).
    sig = portable_signatures(
        df, id_col, text_col, shingle_size=shingle_size, num_perms=num_perms
    ).persist(StorageLevel.MEMORY_AND_DISK)
    banded = sig.select(
        id_col,
        F.posexplode(
            F.array(*_portable_band_keys(num_perms=num_perms, bands=bands))
        ).alias("band_idx", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
        .persist()
    )
    predicted = jaccard_pairs_from_candidates(
        sig.select(id_col, "grams"), cand, id_col, "grams",
        threshold_pct=threshold_pct,
    )
    truth = ngram_jaccard_pairs(
        df, id_col, text_col, n=shingle_size, threshold_pct=threshold_pct
    )
    # LAZY single-plan counts (guide §5/§2.6): the three counts were
    # three sequential driver count() actions; as crossJoined 1-row
    # aggregates they run as independent subtrees of ONE job — the
    # banded/predicted legs materialize the shared sig/cand caches once
    # and the exact-truth leg (the expensive all-pairs baseline)
    # overlaps them instead of waiting its turn. Caches are released by
    # the caller via the _bp_cache_owner convention (or the bench's
    # clearCache between runs).
    out = (
        cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .crossJoin(
            predicted.agg(F.count(F.lit(1)).cast("long").alias("n_predicted"))
        )
        .crossJoin(truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth")))
        .select(
            "n_candidates",
            "n_predicted",
            "n_truth",
            (F.col("n_truth") - F.col("n_predicted")).alias("n_missed"),
            (
                F.col("n_predicted").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0)).cast("double")
            ).alias("recall"),
            (
                F.col("n_predicted").cast("double")
                / F.nullif(F.col("n_candidates"), F.lit(0)).cast("double")
            ).alias("candidate_precision"),
        )
    )
    from . import CacheOwner

    out._bp_cache_owner = CacheOwner(sig, cand)
    return out


def setsim_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_pct: int = 60,
    ngram: int = 1,
) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (the
    PPJoin/AllPairs candidate-generation rule, Xiao et al. WWW'08 /
    Bayardo et al. WWW'07): all pairs of documents whose distinct-token
    Jaccard is >= ``threshold_pct``/100, computed EXACTLY — the
    deterministic alternative to MinHash-LSH (c02): LSH trades recall
    probabilistically; prefix filtering is lossless and still never
    |docs|².

    The rule: order each document's tokens canonically by ascending
    global document frequency (rarest first, token text tiebreak). For
    Jaccard >= t, two sets of sizes La, Lb must share >= 1 token among
    their first ``L - ceil(t·L) + 1`` tokens — so only prefix tokens
    generate candidates, and prefixes are built from the RAREST tokens,
    exactly the ones with short posting lists. Stopword-dominated pairs
    (every doc shares 'the') never meet unless a rare token brings them
    together.

    All-integer thresholding: ``ceil(t·L)`` with t = p/100 is
    ``(p·L + 99) div 100`` and the verify filter is
    ``100·inter >= p·union`` — no floats anywhere, so the output
    replays exactly in any engine. Returns (id_a, id_b, n_inter,
    n_union), id_a < id_b.

    Scale shape: doc-frequency is one token-keyed aggregate; the
    canonical order is a PER-DOCUMENT window (state bounded by a doc's
    distinct-token count, not the corpus); candidates are ONE
    self-equi-join on prefix tokens whose cost is Σ (rare-token
    posting)² — the prefix theorem is what keeps postings short; the
    verify joins the two token ARRAYS back by id (array_intersect in
    JVM codegen) rather than re-exploding. A frequency cap on prefix
    tokens (drop postings past the c48-style doc-freq cap) bolts on as
    one filter if a corpus has rare-but-still-hot tokens.
    """
    from pyspark.sql.window import Window

    p = threshold_pct
    # The set domain: distinct tokens (ngram=1) or distinct word
    # n-grams (shingles — the c02/c04 domain). Shingles are the right
    # choice for near-dup text: a tiny shared vocabulary makes TOKEN
    # sets of unrelated docs similar, but n-gram sets stay
    # discriminative (and their rare-first prefixes keep postings
    # short, which is the whole point of the filter).
    items = (
        F.array_distinct(tokens(text_col))
        if ngram <= 1
        else word_ngrams(tokens(text_col), ngram)
    )
    toks = (
        rebalance_for_compute(df)
        .select(F.col(id_col).alias("doc_id"), items.alias("t"))
        .filter(F.size("t") > 0)
    )
    # Persisted because three consumers read it (the explode feeding
    # dfreq/prefix, and both verify-side array joins); callers that
    # fully materialize the result release it via the `_bp_cache_owner`
    # handle (same convention as ingest.read_files_tolerant).
    toks = toks.persist()
    exploded = toks.select("doc_id", F.size("t").alias("L"),
                           F.explode("t").alias("token"))
    dfreq = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    # persisted (r16): both self-join sides consume the prefix table,
    # and unpersisted each side re-ran the dfreq join + per-doc window
    # (the plan showed the Window subtree twice); the cache holds only
    # the (doc_id, token) prefix rows — the rarest-token subset.
    prefix = (
        exploded.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("L") - F.expr(f"({p} * L + 99) div 100") + 1
        )
        .select("doc_id", "token")
        .persist()
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    v = (
        cands.join(
            toks.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta")),
            "id_a",
        )
        .join(
            toks.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb")),
            "id_b",
        )
        # threshold rewritten algebraically (r16): with U = A+B−I,
        # 100·I >= p·U ⟺ (100+p)·I >= p·(A+B), exact in integers — so
        # the predicate Catalyst pushes into the verify join references
        # array_intersect ONCE per candidate pair (filtering on the
        # projected n_union re-inlined the intersection twice)
        .filter(
            F.lit(100 + p) * F.size(F.array_intersect("ta", "tb")).cast("long")
            >= F.lit(p) * (F.size("ta") + F.size("tb")).cast("long")
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_inter"),
            (F.size("ta") + F.size("tb")).cast("long").alias("_sz"),
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("_sz") - F.col("n_inter")).alias("n_union"),
        )
    )
    v._bp_cache_owner = toks
    return v


def containment_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_pct: int = 80,
    ngram: int = 3,
) -> DataFrame:
    """Exact DIRECTED containment self-join via prefix filtering: all
    ordered pairs (a, b), a != b, where ``|G(a) ∩ G(b)| / |G(a)| >=
    threshold_pct/100`` over distinct word-``ngram`` shingle sets — the
    asymmetric sibling of :func:`setsim_prefix_join`'s Jaccard. This is
    the quote/boilerplate/subset detector: a short doc fully quoted
    inside a long one has high containment but low Jaccard, so
    symmetric dedup never finds it.

    Prefix rule (containment variant of PPJoin, Xiao et al. WWW'08):
    order A's shingles by ascending global document frequency (rarest
    first, text tiebreak). If the match skipped A's entire first
    ``L - ceil(t·L) + 1`` shingles, at most ``ceil(t·L) - 1 < t·L``
    could intersect — impossible; so only A-prefix shingles generate
    candidates, probed against B's FULL shingle postings (containment
    is one-sided: any shingle of B can witness). All-integer
    thresholds: ``ceil(t·L) = (p·L + 99) div 100``; verify is
    ``100·inter >= p·|A|``. Lossless, replayable, no floats.

    Returns (id_a, id_b, n_inter, n_a) — "id_a is >= t contained in
    id_b" — for every ordered qualifying pair.

    Scale shape: one token-keyed aggregate for document frequency; the
    canonical order is a per-document window; candidates are one
    equi-join of A-PREFIX postings (short — rarest shingles) against
    full postings, cost Σ_g prefix_df(g)·df(g) — asymptotically heavier
    than Jaccard's prefix² but still bucketed per shingle, never
    |docs|²; a doc-frequency cap on probe shingles (c48-style) bolts on
    as one filter for corpora with hot "rare" shingles. Verify reads
    the two shingle ARRAYS back by id (array_intersect in JVM codegen).
    """
    from pyspark.sql.window import Window

    p = threshold_pct
    items = (
        F.array_distinct(tokens(text_col))
        if ngram <= 1
        else word_ngrams(tokens(text_col), ngram)
    )
    toks = (
        rebalance_for_compute(df)
        .select(F.col(id_col).alias("doc_id"), items.alias("t"))
        .filter(F.size("t") > 0)
    )
    toks = toks.persist()  # 4 consumers; released via _bp_cache_owner
    exploded = toks.select(
        "doc_id", F.size("t").alias("L"), F.explode("t").alias("token")
    )
    dfreq = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    prefix = (
        exploded.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn") <= F.col("L") - F.expr(f"({p} * L + 99) div 100") + 1
        )
        .select("doc_id", "token")
    )
    cands = (
        prefix.alias("a")
        .join(
            exploded.select("doc_id", "token").alias("b"),
            "token",
        )
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    v = (
        cands.join(
            toks.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta")),
            "id_a",
        )
        .join(
            toks.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_inter"),
            F.size("ta").cast("long").alias("n_a"),
        )
        .filter(F.lit(100) * F.col("n_inter") >= F.lit(p) * F.col("n_a"))
    )
    v._bp_cache_owner = toks
    return v


def dup_rate_by_group(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Duplication-rate audit per group (source/domain/crawl): how much
    of each group's volume is exact-duplicate content, measured against
    the CORPUS-wide fingerprint groups — the triage view that decides
    which sources get the expensive near-dup pass (a source that is 40%
    exact-dup is usually a mirror or a scraper loop).

    Per group: document count, distinct fingerprints within the group,
    documents whose fingerprint has corpus-wide multiplicity ≥ 2
    (``n_dup_docs``), and the redundancy ``n_dup_docs·1e6 DIV n_docs``.
    Uses :func:`exact_dedup`'s normalization (md5 of lower/trim), so
    the numbers reconcile with c01's groups exactly.

    Returns (grp, n_docs, n_unique_texts, n_dup_docs, dup_rate_micro).

    100 TB: one fingerprint hash aggregate (corpus-wide multiplicities,
    map-side combinable), broadcast-or-shuffle joined back by
    fingerprint, then one group-level aggregate — the same single-
    shuffle shape as exact dedup itself.
    """
    fp = F.md5(F.lower(F.trim(F.col(text_col)))).alias("fp")
    base = df.select(F.col(group_col).alias("grp"), fp)
    mult = base.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        base.join(mult, "fp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("fp").cast("long").alias("n_unique_texts"),
            F.sum(
                F.when(F.col("n_copies") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate_micro",
            F.expr("CAST(n_dup_docs * 1000000 DIV n_docs AS BIGINT)"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 5,
) -> DataFrame:
    """Paragraph-level exact deduplication (r16 — the MassiveText/
    Gopher recipe: duplicated PASSAGES — boilerplate, licenses,
    navigation — recur across documents that are not themselves
    duplicates, so document-level dedup misses them): split each
    document into paragraphs (here: runs of ``chunk_tokens``
    whitespace tokens — the fixture corpus has no newlines; swap the
    splitter for ``\\n\\n`` on real text, the rest is unchanged), keep
    only the globally FIRST occurrence of each distinct paragraph
    (ordered by (doc_id, position) — deterministic), and reassemble
    every document from its surviving paragraphs in order.

    Returns (doc_id, n_paras, n_kept, kept_len, kept_text) — one row
    per input document, fully-deduplicated documents included with
    ``n_kept = 0`` and empty text.

    Plan shape / 100 TB: one map-side explode (sequence+slice chunking,
    the c52 shape — the token array is let-bound once per row), ONE
    window over the paragraph hash partitioned BY PARAGRAPH (the dedup
    decision — a keyed shuffle on the paragraph, bounded by corpus
    token count, exactly the c73 gram-aggregate class), one doc-keyed
    reassembly aggregate, and a left join back to the id spine for the
    all-duplicate rows. No driver state, no cross join; skew from a
    mega-duplicated paragraph is one hot reducer KEY (AQE splits it),
    not a hot partition."""
    from pyspark.sql.window import Window

    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda ci: F.concat_ws(
            " ", F.slice(toks, ci * chunk_tokens + 1, chunk_tokens)
        ),
    )
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(chunks).alias("para_idx", "para"),
    )
    rn = F.row_number().over(
        Window.partitionBy("para").orderBy("doc_id", "para_idx")
    )
    kept = (
        paras.withColumn("_rn", rn)
        .filter(F.col("_rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("para_idx", "para")))
                .getField("para")
            ).alias("kept_text"),
        )
    )
    spine = df.select(
        F.col(id_col).alias("doc_id"),
        F.ceil(F.size(F.split(F.col(text_col), " ")) / F.lit(chunk_tokens))
        .cast("bigint")
        .alias("n_paras"),
    )
    return (
        spine.join(kept, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.length(F.coalesce(F.col("kept_text"), F.lit(""))).cast(
                "bigint"
            ).alias("kept_len"),
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        )
    )
