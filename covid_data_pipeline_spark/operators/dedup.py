"""Deduplication operators for training-data pipelines.

Four families, each with an explicit scale posture:

* exact            — hash-groupBy on a canonical fingerprint. One shuffle
                     on the hash key; the 100 TB workhorse.
* MinHash + LSH    — shingle → minhash signature → band buckets →
                     bucket-join candidates → exact-Jaccard verify.
                     All JVM array built-ins; candidate generation never
                     does an all-pairs comparison.
* SimHash          — 64-bit signature via token-hash bit voting;
                     near-dup = small Hamming distance, candidates via
                     16-bit band buckets (pigeonhole: d ≤ 3 ⇒ one of 4
                     bands equal).
* n-gram Jaccard   — exact pairwise Jaccard via a shingle inverted-index
                     join; quadratic within a shingle's posting list, so
                     strictly a small-corpus / verification tool — the
                     LSH path is the scale path.

Every operator returns DataFrames (no collect); thresholds and sizes are
arguments, not constants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.text import normalized_text, word_shingles


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def text_fingerprint(text: Column | str) -> Column:
    """The exact-dedup key: md5 of :func:`normalized_text`. NULL text
    gets its own key instead of silently vanishing at an equi-join
    (NULL != NULL)."""
    return F.coalesce(F.md5(normalized_text(text)), F.lit("__NULL_TEXT__"))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per canonical text; adds
    ``dup_count``. Single hash-shuffle on the md5 key — partial
    aggregation makes the shuffle O(distinct) not O(rows)."""
    keyed = df.withColumn("__fp", text_fingerprint(text_col))
    reps = keyed.groupBy("__fp").agg(
        F.min(F.col(id_col)).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )
    # dropDuplicates before the join-back: identical (id, text) rows may
    # exist in the input (that is the point of dedup) and would fan out
    # the representative row otherwise.
    uniq = keyed.select(id_col, text_col, "__fp").dropDuplicates([id_col, "__fp"])
    return (
        reps.join(uniq, on=[id_col, "__fp"], how="inner")
        .drop("__fp")
        .select(id_col, text_col, "dup_count")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingle_hashes(shingles: Column) -> Column:
    """Distinct xxhash64 of each shingle string — the set the MinHash
    family and the exact-Jaccard verify both operate on. Hashing the
    (longer) shingle strings happens exactly once here; every derived
    permutation hash works on 8-byte longs."""
    return F.array_distinct(F.transform(shingles, lambda s: F.xxhash64(s)))


# ---------------------------------------------------------------------------
# Cross-engine-portable hashing (md5-prefix ints)
#
# Any md5-capable SQL engine replays these bit-for-bit, which upgrades
# the MinHash and SimHash pipelines from rows-only driver checks to full
# value-hash oracles (the same trick sampling.string_group_hash uses for
# splits). `portable=True` swaps these in; the oracle replays of
# dedup_minhash and dedup_simhash need them. xxhash64 stays the default
# path, the one the curation chain runs, because it is faster and hashes
# longs natively. Measured on 4 CPUs with the five `portable` defaults
# flipped to True: perfbench `curation_corpus` (seed 1, 20 s), 6
# interleaved pairs: ops_per_s median 0.243 -> 0.225, portable lost all
# 6. minhash_dedup alone on that 5,000-doc corpus (16 hashes, 8 bands,
# threshold 0.9; local[4], warm, alternating, 5 pairs in each of two
# sessions): xxhash64 won all 10, medians 1.60 vs 1.77 s and 1.39 vs
# 1.55 s.
# ---------------------------------------------------------------------------

MERSENNE31 = 2_147_483_647  # 2^31 - 1 (prime): affine-permutation modulus
# band-fold modulus: < 2^58 so acc*31 + v never leaves signed 64-bit
_BAND_MOD = 288_230_376_151_711_717


def portable_hash64(c: Column) -> Column:
    """Signed 64-bit portable string hash: the first 16 hex digits of
    md5, reinterpreted as a signed long. Parsed as two 32-bit halves and
    recombined with a WRAPPING shift (bitwise — no ANSI overflow check),
    bit-identical to DuckDB's
    ``CAST(concat('0x', substr(md5(x),1,16)) AS UBIGINT)`` viewed signed."""
    hexs = F.md5(c)
    hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def portable_hash31(c: Column) -> Column:
    """Portable string hash in [0, 2^31-1): 15 md5 hex digits (60 bits —
    BIGINT-safe to parse on every engine) mod the Mersenne prime, small
    enough that affine permutations ``a*h + b`` stay inside signed 64-bit
    under ANSI arithmetic."""
    return (
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
        % F.lit(MERSENNE31)
    )


def portable_shingle_hashes(shingles: Column) -> Column:
    """Portable twin of :func:`shingle_hashes` (distinct
    :func:`portable_hash31` per shingle). Jaccard over these sets is
    exact up to md5-prefix collisions, same caveat as the xxhash64 path."""
    return F.array_distinct(F.transform(shingles, portable_hash31))


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation i — a fixed LCG formula both
    engines write inline (see the ``dedup_minhash`` oracle SQL)."""
    a = (1103515245 * (i + 1) + 12345) % MERSENNE31
    b = (1103515245 * (i + 101) + 12345) % MERSENNE31
    return a, b


def portable_minhash_signature(
    hashed_shingles: Column, num_hashes: int = 16
) -> Column:
    """Portable twin of :func:`minhash_signature`: permutation i is the
    affine map ``(a_i*h + b_i) mod (2^31-1)`` over
    :func:`portable_hash31` shingle hashes — classic universal hashing,
    exactly replayable in SQL because every step is signed-64 integer
    arithmetic (h, a, b < 2^31 ⇒ a*h + b < 2^62)."""

    def _perm(i: int) -> Column:
        a, b = _affine_params(i)
        return F.array_min(
            F.transform(
                hashed_shingles,
                lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31),
            )
        )

    return F.array(*[_perm(i) for i in range(num_hashes)])


def minhash_signature(
    hashed_shingles: Column, num_hashes: int = 32
) -> Column:
    """Array of ``num_hashes`` minhash values: permutation i is
    xxhash64(shingle_hash, i); min over the shingle-hash set. One
    array<long> per row, computed in one codegen'd projection — long-input
    hashing only (no per-permutation string concat/allocation).

    The permutation index is bound via a closure function, NOT a
    two-parameter lambda default (``lambda h, i=i``): ``F.transform``
    inspects the callable's arity and passes the ARRAY INDEX as the
    second argument, silently shadowing the default — which collapses
    all permutations into one (xxhash64(element, position)) and
    degrades banded LSH recall from 1-(1-J^r)^b to J."""

    def _perm(i: int) -> Column:
        return F.array_min(
            F.transform(hashed_shingles, lambda h: F.xxhash64(h, F.lit(i)))
        )

    return F.array(*[_perm(i) for i in range(num_hashes)])


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    portable: bool = False,
) -> DataFrame:
    """Adds ``shingle_hashes`` (array<long>, distinct) and ``minhash``
    columns. The string shingles are transient: rows carry only the
    hashed set, keeping shuffle width independent of shingle text size.
    ``portable=True`` swaps xxhash64 for the md5-prefix scheme any SQL
    engine can replay (oracle-able; ~2x the hash cost)."""
    sh = (portable_shingle_hashes if portable else shingle_hashes)(
        word_shingles(F.col(text_col), shingle_k)
    )
    sig = (portable_minhash_signature if portable else minhash_signature)(
        F.col("shingle_hashes"), num_hashes
    )
    return df.withColumn("shingle_hashes", sh).withColumn("minhash", sig)


def _banded(
    signed: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    portable: bool = False,
) -> DataFrame:
    """(id, band_idx, band_hash) rows: the signature split into band
    hashes.

    ``portable=True`` folds each band as ``acc = (acc*31 + v) mod M``
    (seeded with the band index, M < 2^58 so the fold is ANSI-safe) —
    replayable in SQL via list_reduce. Bucket collisions only ADD
    candidates, which the exact-Jaccard verify then filters, so the
    weaker fold cannot change the verified output, only its cost."""
    rows_per_band = num_hashes // bands
    if portable:
        band_array = F.array(
            *[
                F.aggregate(
                    F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band),
                    F.lit(b).cast("long"),
                    lambda acc, v: (acc * 31 + v) % F.lit(_BAND_MOD),
                )
                for b in range(bands)
            ]
        )
    else:
        band_array = F.array(
            *[
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    ),
                    F.lit(b),
                )
                for b in range(bands)
            ]
        )
    return signed.select(
        F.col(id_col), F.posexplode(band_array).alias("band_idx", "band_hash")
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` bands of
    ``num_hashes // bands`` rows; docs sharing any band hash become a
    candidate pair (a < b, distinct).

    Scale: the only shuffle is the groupBy-free self-equi-join on
    (band_idx, band_hash) — Catalyst plans a shuffled hash join keyed on
    the band hash, so work is proportional to bucket sizes, never n².
    Skewed buckets (boilerplate text) are the known hazard: AQE skew-join
    splits them; upstream quality filters keep them rare.
    """
    banded = _banded(signed, id_col, num_hashes, bands, portable=portable)
    if max_bucket_size is not None:
        # Degenerate buckets (empty/boilerplate text collapsing to one
        # signature) turn the bucket join quadratic. Cap them: a bucket
        # of size B contributes B(B−1)/2 pairs, so dropping buckets over
        # the cap bounds work per bucket; true near-dups of non-degenerate
        # docs still collide in their other (selective) bands. Window
        # count, not groupBy+join-back: one shuffle on the same key the
        # join shuffles on.
        w = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    signed: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_col: str = "shingle_hashes",
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keeps pairs
    ≥ threshold. Two broadcast-or-shuffle joins to fetch shingle arrays,
    then a codegen'd array_intersect/array_union — no UDF. Operates on
    hashed shingle sets by default (8-byte elements; exact up to xxhash64
    collisions) — pass ``shingle_col="shingles"`` for string-exact."""
    sh = signed.select(F.col(id_col), F.col(shingle_col))
    joined = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed(shingle_col, "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed(shingle_col, "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.withColumn(
            "jaccard", F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    portable: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: returns verified near-dup pairs
    (id_a < id_b, jaccard ≥ threshold).

    The signed relation (shingle hashes + signature) feeds four subplans
    (both sides of the banded self-join, both verify fetches); it is
    local-checkpointed so the shingle/signature projection runs once
    per row. At warehouse scale, stage it to a table instead.

    ``portable=True`` routes hashing through the md5-prefix scheme: the
    WHOLE pipeline (shingle hashes → affine permutations → band folds →
    candidates → exact Jaccard) is then bit-replayable in any md5-capable
    SQL engine, turning an "approximate, trust-the-recall-test" operator
    into a value-hash-verifiable one. Default stays xxhash64 (faster).
    """
    # localCheckpoint, not persist(): persist() registers in the session
    # cache manager and leaks one cached relation per invocation in a
    # long-lived session; checkpoint blocks are GC'd with the plan.
    # eager=False is not lazy under AQE: the call runs the input plan's
    # query stages (one job per shuffle exchange or broadcast) before
    # returning. These are this function's only build-time jobs. In
    # curate_documents the input is the persisted exact-dedup relation
    # (two aggregate exchanges and a broadcast join), and the call runs
    # 4 jobs (3 for the same relation unpersisted; local[4], 5,000 docs).
    signed = with_minhash(
        df, text_col, shingle_k, num_hashes, portable=portable
    ).select(id_col, "shingle_hashes", "minhash").localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(
        signed, id_col, num_hashes, bands, portable=portable
    )
    return jaccard_verify(pairs, signed, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(col: Column | str, bits: int = 64, portable: bool = False) -> Column:
    """SimHash signature: per-bit majority vote over token hash values
    (xxhash64 by default; ``portable=True`` uses :func:`portable_hash64`
    so the whole signature — and hence banding and Hamming filtering —
    is bit-replayable in SQL; see the ``dedup_simhash`` oracle).

    Pure built-ins, single pass: token hashes once (JVM), then ONE
    ``aggregate`` fold whose accumulator is the array of per-bit one-counts
    (``zip_with`` merges each hash's bit vector), then a majority vote OR'd
    into one BIGINT. One expression tree instead of ``bits`` separate
    aggregates — same arithmetic, ~64× smaller codegen. Bit-tests use
    AND-masks (shiftright's python wrapper rejects lambda-variable
    Columns); bit 63's mask is min-long so nothing overflows signed BIGINT.
    """
    from covid_data_pipeline_spark.functions.text import let, tokens

    toks = tokens(col) if isinstance(col, str) else col
    tok_hash = portable_hash64 if portable else F.xxhash64
    masks = F.array(
        *[F.lit(1 << b if b < 63 else -(2**63)).cast("long") for b in range(bits)]
    )

    def _sig(hashes: Column) -> Column:
        n = F.size(hashes)
        counts = F.aggregate(
            hashes,
            F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(masks, lambda m: (h.bitwiseAND(m) != 0).cast("long")),
                lambda a, b: a + b,
            ),
        )
        bits_set = F.zip_with(
            counts, masks, lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long"))
        )
        return F.aggregate(bits_set, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))

    return let(F.transform(toks, lambda t: tok_hash(t)), _sig)


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — via bit_count built-in."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming.

    Pigeonhole banding: split 64 bits into ``bands`` equal chunks; any
    pair with d ≤ bands−1 shares at least one exact chunk → self-join on
    (chunk_idx, chunk_value), verify exact distance. Same no-all-pairs
    guarantee as MinHash banding.

    Operating envelope (the pigeonhole bound is the GUARANTEE, not the
    expectation — pairs beyond it are still found when their differing
    bits cluster in few chunks):

    * ``bands=4`` (16-bit chunks): guarantees d ≤ 3. Planted-pair recall
      on the synthetic corpus at max_hamming=3 is 100% by construction;
      callers asking for max_hamming > 3 get only opportunistic recall
      (~70% at d ≤ 7 on the planted corpus — tests/test_dedup.py).
    * ``bands=8`` (8-bit chunks): guarantees d ≤ 7 at ~2× the banding
      join volume (8 (chunk, value) rows per doc, coarser 8-bit buckets).
      Use for looser near-dup sweeps.

    ``max_hamming`` must stay within bands−1 for exact recall; an
    assertion enforces it so approximate recall is an explicit caller
    choice (pass ``bands`` accordingly).

    Degenerate corpora (empty/boilerplate texts collapsing to one
    signature) make a chunk bucket quadratic; ``max_bucket_size`` drops
    over-cap buckets the same way :func:`lsh_candidate_pairs` does.
    True near-dups of non-degenerate docs keep their other (selective)
    chunks; members of a dropped mega-bucket are by definition a
    boilerplate cluster better handled by exact dedup on the signature
    (``groupBy(sig_col)``) than by pair enumeration.
    """
    assert 64 % bands == 0, "bands must divide 64"
    assert max_hamming <= bands - 1, (
        f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
        f"bands-1={bands - 1}; raise bands (8 covers d<=7)"
    )
    chunk_bits = 64 // bands
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col(sig_col), chunk_bits * i).bitwiseAND(F.lit(mask))
            for i in range(bands)
        ]
    )
    banded = df.select(
        F.col(id_col), F.col(sig_col), F.posexplode(chunks).alias("chunk_idx", "chunk_val")
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("chunk_idx", "chunk_val")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    left, right = banded.alias("l"), banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{sig_col}").alias("sig_a"),
            F.col(f"r.{sig_col}").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming_distance(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (small-corpus / verification tool)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ threshold, via an inverted-index
    join (pairs must share ≥ 1 shingle). Exact but quadratic within a
    shingle's posting list — use minhash_dedup at scale."""
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("shingles")
    )
    posting = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    l, r = posting.alias("l"), posting.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(pairs, sh, id_col, threshold, shingle_col="shingles")


def jaccard_join_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_token_bucket: int | None = None,
) -> DataFrame:
    """EXACT-threshold Jaccard self-join via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08) — every pair with
    shingle-Jaccard ≥ ``threshold``, no false negatives, WITHOUT the
    full inverted-index join of :func:`ngram_jaccard_pairs` and without
    MinHash's approximation.

    Exactness holds with the DEFAULT ``max_token_bucket=None``. Setting
    a cap is an explicit opt-in recall/cost trade for degenerate
    corpora (mass-identical boilerplate): pairs whose ONLY shared
    prefix token is an over-cap shingle are dropped — that breaks the
    no-false-negative guarantee, so the cap is never on silently.

    Prefix principle: order every doc's shingle set by one global
    canonical order (document frequency ascending, then shingle — the
    rarest-first order that makes prefixes selective). A set of size n
    keeps only its first ``n − ceil(t·n) + 1`` shingles as its PREFIX;
    two sets with Jaccard ≥ t must collide on at least one prefix
    token, so candidates = prefix-posting self-join. Candidates then
    pass the size filter (t·max ≤ min) and an exact intersection check.

    All threshold comparisons are INTEGER arithmetic: the float
    threshold converts once to an exact rational num/den
    (``Fraction.limit_denominator``), so ceil/size/Jaccard gates never
    depend on float rounding — prefix lengths and the accepted pair set
    are bit-stable across engines and partitionings.

    Scale shape: one groupBy for document frequencies, one for the
    per-doc canonical sort; the candidate join is keyed on PREFIX
    tokens only (≈ (1−t) of the shingle mass, biased to the rarest
    shingles); full shingle arrays are fetched only for surviving
    candidates. Degenerate corpora (identical docs ⇒ every token
    df = N) get the standard hot-bucket cap on the posting key, same
    policy as :func:`lsh_candidate_pairs`.

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b, jaccard rounded
    to 4 (a ratio of small ints — identical on any engine).
    """
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10_000)
    num, den = fr.numerator, fr.denominator
    sh = df.select(
        F.col(id_col).alias("__id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).withColumn("n", F.size("sh"))
    posting_all = sh.select("__id", "n", F.explode("sh").alias("g"))
    dfreq = posting_all.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # canonical rarest-first order per doc; prefix_len = n − ceil(t·n) + 1
    # with ceil(t·n) = (num·n + den − 1) div den (integers only)
    ordered = (
        posting_all.join(dfreq, "g")
        .groupBy("__id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "g"))).alias("og"),
            F.any_value("n").alias("n"),
        )
    )
    plen = (
        F.col("n")
        - F.expr(f"({num} * n + {den} - 1) div {den}").cast("int")
        + F.lit(1)
    )
    prefix = ordered.select(
        "__id",
        "n",
        F.explode(
            F.transform(F.slice("og", F.lit(1), plen), lambda x: x["g"])
        ).alias("g"),
    )
    if max_token_bucket is not None:
        # opt-in cap: find over-cap posting keys with a map-side-
        # combined count (the over-cap set is tiny) and anti-join them
        # out — unlike a count-window partitioned by g, the hot bucket
        # never funnels through one task just to be counted and dropped
        over = (
            prefix.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > max_token_bucket)
            .select("g")
        )
        prefix = prefix.join(over, "g", "left_anti")
    l, r = prefix.alias("l"), prefix.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.g") == F.col("r.g"))
            & (F.col("l.__id") < F.col("r.__id"))
            # size filter: J ≥ t ⇒ min/max ≥ t ⇒ den·min ≥ num·max
            & (
                den * F.least(F.col("l.n"), F.col("r.n"))
                >= num * F.greatest(F.col("l.n"), F.col("r.n"))
            ),
        )
        .select(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
        )
        .distinct()
    )
    full = sh.select("__id", "sh", "n")
    joined = cand.join(
        full.select(
            F.col("__id").alias("id_a"),
            F.col("sh").alias("sh_a"),
            F.col("n").alias("na"),
        ),
        "id_a",
    ).join(
        full.select(
            F.col("__id").alias("id_b"),
            F.col("sh").alias("sh_b"),
            F.col("n").alias("nb"),
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("na") + F.col("nb") - inter
    return (
        joined.withColumn("__i", inter)
        # exact gate: I/U ≥ num/den ⟺ den·I ≥ num·U
        .filter(den * F.col("__i") >= num * union)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("__i")),
                4,
            ).alias("jaccard"),
        )
    )


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_words: int = 10,
) -> DataFrame:
    """Corpus-wide exact passage deduplication, keep-first.

    Splits each document into consecutive ``passage_words``-word spans,
    drops every span whose exact text already appeared earlier in the
    corpus (ordered by ``(id, passage_idx)``), and reassembles the
    surviving spans in order — the passage-level variant of exact
    substring dedup from "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2021), expressed as pure DataFrame
    algebra.

    Returns one row per document: ``kept_passages``, ``total_passages``
    and the reconstructed ``clean_text`` (empty string when every span
    was a duplicate).

    Scale: the first-occurrence lookup is a ``min(struct(id, idx))``
    aggregation on the passage hash — NOT a windowed ``row_number``.
    Aggregation gets map-side partial combine, so a boilerplate passage
    repeated a billion times collapses to one candidate per task before
    the shuffle; a window would funnel the whole hot hash through a
    single sorted reducer. Two shuffles total (hash, then id), both on
    pre-combined rows.
    """
    from covid_data_pipeline_spark.functions.text import tokens

    toks = tokens(text_col)
    n_spans = (F.floor((F.size(toks) - 1) / passage_words) + 1).cast("int")
    spans = (
        df.select(id_col, F.col(text_col))
        .withColumn("_toks", toks)
        .withColumn("passage_idx", F.explode(F.sequence(F.lit(0), n_spans - 1)))
        .withColumn(
            "passage",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_toks"),
                    F.col("passage_idx") * passage_words + 1,
                    passage_words,
                ),
            ),
        )
        .select(id_col, "passage_idx", "passage", F.md5("passage").alias("_h"))
    )
    first = spans.groupBy("_h").agg(
        F.min(F.struct(id_col, "passage_idx")).alias("_first")
    )
    kept_flag = (F.col(id_col) == F.col(f"_first.{id_col}")) & (
        F.col("passage_idx") == F.col("_first.passage_idx")
    )
    return (
        spans.join(first, "_h")
        .withColumn("_is_first", kept_flag)
        .groupBy(id_col)
        .agg(
            F.count(F.when(F.col("_is_first"), 1)).alias("kept_passages"),
            F.count(F.lit(1)).alias("total_passages"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_is_first"),
                                F.struct("passage_idx", "passage"),
                            )
                        )
                    ),
                    lambda x: x["passage"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold_bp: int = 8000,
    max_df: int | None = None,
) -> DataFrame:
    """Directional containment (asymmetric Jaccard) pairs — quote /
    subset detection: ``containment(a ⊆ b) = |Sa ∩ Sb| / |Sa|`` over
    distinct word-shingle sets, in integer basis points.

    Jaccard misses the "small doc quoted inside a big doc" case (the
    union denominator drowns the overlap); containment normalizes by
    the CONTAINED side only, so a tweet pasted into a long article
    still scores ~10000 bp. This is the dedup verb for quote removal,
    boilerplate-inclusion audits, and train/eval leakage via excerpts.

    Shape: inverted-index self-join on shingle postings (pairs must
    share ≥1 shingle), ``groupBy(id_a, id_b)`` intersection counts,
    then an integer-floor containment gate — cost is Σ df(shingle)²,
    exact with ``max_df=None``. ``max_df`` is the standard degenerate-
    corpus valve (same policy as :func:`lsh_candidate_pairs`'s bucket
    cap) and is part of the SEMANTICS when set: shingles with document
    frequency > max_df are removed from every shingle SET (numerator
    and denominator alike — stopword-shingle removal), so the result
    stays well-defined and oracle-mirrorable rather than silently
    lossy. Docs whose whole set is capped away cannot be a contained
    side.

    Output: ``(id_a, id_b, containment_bp, n_a)`` for every ORDERED
    pair with ``floor(10000·|Sa∩Sb| / |Sa|) ≥ threshold_bp`` and
    ``id_a ≠ id_b`` — directional, so (quote → source) and
    (source → quote) are scored independently. All comparisons are
    integer arithmetic; no float crosses an engine boundary."""
    sh = df.select(
        F.col(id_col).alias("__id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    posting = sh.select("__id", F.explode("sh").alias("g"))
    if max_df is not None:
        dfreq = posting.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
        posting = (
            posting.join(dfreq, "g")
            .filter(F.col("__df") <= F.lit(max_df))
            .drop("__df")
        )
    sizes = posting.groupBy("__id").agg(F.count(F.lit(1)).alias("n"))
    l = posting.select(F.col("__id").alias("id_a"), "g")
    r = posting.select(F.col("__id").alias("id_b"), "g")
    inter = (
        l.join(r, "g")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("__id", "id_a"), "id_a")
        .withColumn(
            # integer floor-div (SQL `div`), never a double quotient —
            # the gate is bit-stable on any engine by construction
            "containment_bp",
            F.expr("(__inter * 10000) div n").cast("bigint"),
        )
        .filter(F.col("containment_bp") >= F.lit(threshold_bp))
        .select(
            "id_a",
            "id_b",
            "containment_bp",
            F.col("n").alias("n_a"),
        )
    )


def sortkey_prefix7(text_col: Column | str) -> Column:
    """Lexicographic-order-preserving BIGINT sort key from a text
    column: normalize (lower, collapse whitespace, strip to
    ``[a-z0-9 ]``), take the first 7 characters right-padded with
    space, and pack the 7 bytes big-endian (``conv(hex(...), 16,
    10)``). Fixed width makes numeric order == lexicographic order for
    the printable-ASCII alphabet (a shorter string padded with 0x20
    sorts exactly where the lexicographic compare puts it); 14 hex
    digits < 2^56 fits signed BIGINT on every engine. This is the
    portable sort key :func:`sorted_neighborhood_pairs` expects."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", ""))
    norm = F.regexp_replace(norm, r"\s+", " ")
    packed = F.rpad(F.substring(norm, 1, 7), 7, " ")
    return F.conv(F.hex(packed), 16, 10).cast("bigint")


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int,
) -> DataFrame:
    """Sorted-Neighborhood Method blocking (Hernández & Stolfo,
    SIGMOD'95): sort the corpus by a fuzzy key and compare only rows
    whose sort positions are within ``window`` — the classic
    record-linkage blocking scheme, O(n·w) candidates instead of n².

    Distributed construction — the "global sort" never exists:

    1. exact global rank via
       :func:`~covid_data_pipeline_spark.operators.sampling.value_order_rank`
       (range buckets over broadcast min/max — no single-partition
       sort; ``id_col`` is the tiebreaker, so equal keys still get a
       total order);
    2. neighborhood pairs via the 1-D cell-bucket idiom shared with
       :func:`~covid_data_pipeline_spark.operators.intervals.interval_overlap_join`:
       each row's home bucket is ``rank div window``, one side explodes
       to the 3 neighbor buckets, equi-join, keep ``0 < rank_b -
       rank_a <= window`` — each pair emitted exactly once (the b side
       sits at its unique home bucket), no distinct.

    Returns ``(id_a, id_b, rank_gap)`` where id_a is the LOWER-ranked
    row of the pair. Feed the result to :func:`jaccard_verify` (or any
    pairwise scorer) for the match decision."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from covid_data_pipeline_spark.operators.sampling import (
        value_order_rank,
    )

    w = int(window)
    ranked = value_order_rank(
        df.select(id_col, key_col), key_col, id_col, rank_col="_r"
    ).localCheckpoint(eager=False)  # feeds both join sides
    a = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("_r").alias("_ra"),
        F.explode(
            F.array(*[F.expr(f"_r div {w}") + F.lit(d) for d in (-1, 0, 1)])
        ).alias("_nb"),
    )
    b = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("_r").alias("_rb"),
        F.expr(f"_r div {w}").alias("_nb"),
    )
    return (
        a.join(b, "_nb")
        .where(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") <= w)
        )
        .select(
            "id_a", "id_b", (F.col("_rb") - F.col("_ra")).alias("rank_gap")
        )
    )
