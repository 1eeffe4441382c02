"""Deduplication operators for large-corpus curation: exact, n-gram Jaccard,
MinHash + LSH banding, SimHash, and embedding-cosine near-dup.

All shapes are chosen for the 100 TB case, tested at SF scale:

- **exact**: one hash-groupBy shuffle on a 128-bit digest — the minimum
  possible; map-side partial aggregation applies to the count.
- **minhash/LSH**: signatures are computed per row (narrow, no shuffle);
  candidate generation shuffles on the *band key* only (small, uniform),
  never on O(n²) pairs.  Verification (exact Jaccard) runs only on candidate
  pairs.
- **simhash**: per-row signature + prefix-bucket blocking; hamming check via
  ``bit_count(a ^ b)`` inside the bucket join.
- **embedding near-dup**: hyperplane-LSH buckets (see
  :mod:`ocr_spark.similarity`) block the cosine check; brute force is the
  small-side fallback.

Every numeric primitive is oracle-portable: base hashes are the md5-based
60-bit hash from :mod:`ocr_spark.textstats`; MinHash permutations are an
affine universal family over that hash (pure arithmetic) — so each
operator has a replayable DuckDB oracle.  There is no faster-hash twin:
with affine permutations the base-hash choice is immaterial (an xxhash64
base measured 0.77 s vs 0.78 s portable at sf0.1/64 partitions,
end-to-end within VM noise).

The batch MinHash-pair, passage and frequent-line operators are each
their incremental twin over an empty store (committed side ``None``), so
the one-shot and cross-run paths share one body and cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.textstats import (
    explode_non_null,
    norm_text,
    portable_hash,
    tokens,
    trunc4,
)

DEFAULT_SHINGLE = 3
# ngram_jaccard_pairs' sub-bucket split size.  Single-sourced like
# MINHASH_T: the contract oracle interpolates THIS constant, so a
# re-tuned default can never silently diverge from the oracle's split.
DEFAULT_BUCKET_CAP = 256
DEFAULT_MINHASH_K = 8  # permutations; banded 2-per-band → 4 bands

# --------------------------------------------------------------- primitives

def let_bound(val: Column, body) -> Column:
    """Evaluate ``val`` ONCE and pass the materialized value to
    ``body`` — the single-element-array let-binding.

    Why it exists: a higher-order-function lambda that references an
    OUTER expression gets that expression INLINED into the lambda body,
    re-evaluated per element.  ``shingles`` hit this hard: each of the
    ~T grams called ``element_at(<full tokenize expr>, i)`` three
    times, so one doc paid O(T²) regex splits — measured 9 s for a bare
    5000-doc shingle projection at sf0.1 (≈2 ms/doc) vs 0.03 s
    let-bound, and the ngram-pairs query rode it from ~3 s to ~20 s
    on longer docs.  ``transform`` binds its lambda ARGUMENT as a
    value, so routing ``val`` through a one-element array pins one
    evaluation regardless of how many times ``body`` references it (and
    ``CollapseProject`` can't undo it, unlike a two-step select)."""
    return F.transform(F.array(val), body)[0]


def shingles(toks: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct word n-grams of a token array (1-based element_at, matching
    the DuckDB 1-based `l[i]` oracle exactly).

    Guarded for < n tokens: Spark's ``sequence(1, 0)`` counts *down* to
    ``[1, 0]`` instead of returning empty, so short docs need the explicit
    empty-array branch.  The token array is let-bound (see
    :func:`let_bound`) so the gram lambda reads a materialized array —
    without it the whole upstream tokenize expression re-evaluates per
    gram element and the operator turns O(T²) per document."""
    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
        gram = lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + j) for j in range(n)]
        )
        return F.when(
            F.size(t) < n, F.array().cast("array<string>")
        ).otherwise(F.array_distinct(F.transform(idx, gram)))

    return let_bound(toks, build)


def shingle_hashes(toks: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct 60-bit hashes of the shingle set.  All pairwise work
    (Jaccard intersects, band joins) runs on these instead of the shingle
    strings: bigint compares are ~2x faster and shuffle ~5x fewer bytes.
    The md5-portable hash is also the oracle-replayable one; an xxhash64
    ``hash_mode='fast'`` variant measured indistinguishable (see module
    docstring) and the parameter was removed everywhere in the family —
    a clean break, so every former call site fails the same way
    (TypeError) instead of one raising and another silently accepting."""
    sh = shingles(toks, n)
    return F.array_distinct(F.transform(sh, portable_hash))


def jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over distinct-element arrays, floor-truncated to 4
    decimals (see textstats.trunc4 for why not round)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union <= 0, F.lit(0.0)).otherwise(trunc4(inter / union))


# Affine permutation family for portable MinHash: perm_j(h) =
# (a_j·(h mod 2^32) + b_j) mod P — Broder-style minwise hashing with a
# universal hash family.  Pure 64-bit-safe arithmetic (a_j < 2^31, operand
# < 2^32 → product < 2^63), so the DuckDB oracle replays it exactly with
# NO per-permutation string-concat+md5 per shingle (which dominated the
# portable signature cost: measured 17.7 s → ~8 s at sf0.1).  Constants
# derive from the driver-side md5 hash, baked as literals in both plans.
MINHASH_PRIME = 4294967291  # largest prime < 2^32

# driver-side twin of portable_hash — single shared definition
from ocr_spark.textstats import py_portable_hash as _driver_hash60


def minhash_coeffs(k: int = DEFAULT_MINHASH_K) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) for the affine permutation family."""
    return [
        (
            _driver_hash60(f"mh-a/{j}") % ((1 << 31) - 1) + 1,
            _driver_hash60(f"mh-b/{j}") % MINHASH_PRIME,
        )
        for j in range(k)
    ]


def minhash_signature(
    sh_hashes: Column, k: int = DEFAULT_MINHASH_K
) -> Column:
    """Array of k min-hashes over the hashed shingle set; empty set → a
    deterministic per-permutation sentinel so empty docs still band.

    The affine family above is the fastest form here as well as the
    portable one: transform lambdas are interpreted per element, so
    per-permutation cost is dominated by expression evaluation, and the
    two multiplies + pmod beat a per-element ``xxhash64(h, j)`` invocation
    (xxhash64 permutations measured SLOWER end-to-end than the affine
    arithmetic — 14.7 s vs 13.4 s in BENCH_r02)."""

    def make_perm(a: int, b: int):
        return lambda h: F.pmod(
            F.lit(a).cast("bigint")
            * h.bitwiseAND(F.lit(0xFFFFFFFF).cast("bigint"))
            + F.lit(b).cast("bigint"),
            F.lit(MINHASH_PRIME).cast("bigint"),
        )

    sigs = []
    for j, (a, b) in enumerate(minhash_coeffs(k)):
        perm = make_perm(a, b)
        sigs.append(
            F.coalesce(
                F.array_min(F.transform(sh_hashes, perm)),
                F.lit(
                    (a * (_driver_hash60(f"∅{j}") & 0xFFFFFFFF) + b)
                    % MINHASH_PRIME
                ).cast("bigint"),
            ).alias(f"mh{j}")
        )
    return F.array(*sigs)


def simhash_sig(toks: Column, bits: int = 16) -> Column:
    """``bits``-wide SimHash over distinct tokens (bigint, ≤ 60 bits — the
    width of the portable hash), as a pure expression tree.

    Classic bit-vote: each token hash votes +1/−1 per bit position; the
    signature sets bits with positive vote.  One interpreted higher-order
    ``aggregate`` per bit, so this form is only for NARROW signatures (the
    16-bit dedup_simhash contract); wide signatures go through
    :func:`simhash_from_features` (one codegen'd wide aggregate — what
    :func:`simhash_pairs` uses at 60 bits)."""
    if not 1 <= bits <= 60:
        raise ValueError("simhash width must be in [1, 60] (portable hash)")
    hashes = F.transform(F.array_distinct(toks), lambda t: portable_hash(t))
    sig = F.lit(0).cast("bigint")
    for b in range(bits):
        mask = F.lit(1 << b).cast("bigint")
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(mask) > 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        sig = sig + F.when(vote > 0, mask).otherwise(F.lit(0).cast("bigint"))
    return sig


def simhash16(toks: Column) -> Column:
    """16-bit SimHash (compact signature for the dedup_simhash contract)."""
    return simhash_sig(toks, 16)


def simhash_from_features(
    df: DataFrame, features: Column, id_col: str = "id", bits: int = 60
) -> DataFrame:
    """(id, sig) SimHash signatures from a per-row array of feature hashes.

    The expression-tree form (:func:`simhash_sig`) interprets one
    higher-order ``aggregate`` per bit — measured ~1 ms/row at 60 bits.
    This shape instead explodes the feature hashes and computes all bit
    votes in ONE whole-stage-codegen hash aggregate (60 ``sum((h>>b)&1)``
    columns + a count), then folds the signature: vote_b > 0 ⟺
    2·ones_b > n.  One narrow shuffle on id; ~40× faster at sf0.1.

    Empty feature arrays survive via ``explode_outer`` (null h → count 0 →
    all votes ≤ 0 → sig 0, matching the fold semantics of the expression
    form and the DuckDB oracle).
    """
    if not 1 <= bits <= 60:
        raise ValueError("simhash width must be in [1, 60] (portable hash)")
    f = df.select(F.col(id_col).alias("id"), F.explode_outer(features).alias("h"))
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)))
        .alias(f"ones{b}")
        for b in range(bits)
    ]
    g = f.groupBy("id").agg(F.count("h").alias("n"), *aggs)
    sig = F.lit(0).cast("bigint")
    for b in range(bits):
        sig = sig + F.when(
            2 * F.coalesce(F.col(f"ones{b}"), F.lit(0)) > F.col("n"),
            F.lit(1 << b).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
    return g.select("id", sig.alias("sig"))


# ---------------------------------------------------------------- operators

def exact_digest(text: Column) -> Column:
    """md5 of the normalized text — THE exact-dedup key, single-sourced
    so the batch (:func:`exact_duplicates`) and incremental
    (:func:`exact_duplicates_incremental`) paths can never drift: a
    digest store written by one is joinable by the other."""
    return F.md5(norm_text(text))


def exact_digests(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, digest)`` — the persistable unit of incremental exact
    dedup (store through the tableio seam, like minhash sketches).
    NULL-text docs (quarantined/empty) are excluded: they must not
    collapse into one bogus group via the NULL digest."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        exact_digest(F.col(text_col)).alias("digest"),
    )


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the normalized text digest.

    One shuffle (groupBy digest); output one row per *duplicated* digest
    with the canonical (min) id and the group size.
    """
    keyed = exact_digests(df, text_col, id_col)
    return (
        keyed.groupBy("digest")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_duplicates_incremental(
    new_digests: DataFrame,
    committed_digests: DataFrame | None = None,
) -> DataFrame:
    """Cross-run incremental EXACT dedup: classify each new-batch
    document against the committed digest store without re-grouping the
    committed corpus — the first-run-wins semantic every real ingest
    pipeline uses (a document identical to one already committed is
    dropped; within the delta the minimum id wins).

    Input: ``(id, digest)`` tables from :func:`exact_digests` (the
    committed side read back through the tableio seam).  Output, one row
    per NEW doc: ``(id, digest, dup_of_committed, new_canonical_id,
    kept)`` with ``kept = ¬dup_of_committed ∧ id = new_canonical_id``,
    followed by any further ``new_digests`` columns, which ride through
    untouched (a caller carries its document rows to the kept-set
    without joining them back).  Append the kept rows' digests to the
    store to commit the run.

    ``new_canonical_id`` is NULL on ``dup_of_committed`` rows: the
    delta's min id is itself dropped there (the committed copy wins), so
    an auditor grouping by it would attribute docs to a ghost.  The true
    committed canonical is a store lookup away (join the store on
    ``digest``); emitting NULL keeps this operator free of any
    committed-side grouping (the store contributes a digest probe only —
    see the shape note below).

    A NULL ``digest`` marks a content-less row (quarantined, empty):
    it has nothing to deduplicate on, so it forms its own group and is
    kept — ``dup_of_committed`` false, ``new_canonical_id`` its own id.
    A caller can therefore pass every batch row through in one pass
    rather than union the content-less ones back.

    Shape for 100 TB: one window ``min(id)`` over the DELTA only,
    partitioned by ``(digest, id if digest is NULL)`` — one shuffle, no
    grouped side to join back, and content-less rows spread by id
    instead of piling into one hot NULL group (a hot digest's group is
    buffered in one task, spilling past memory) — plus one
    ``digest IN (store)`` probe, digest-keyed; the committed side
    contributes a scan and the probe's build, never a committed ×
    committed grouping.  The probe is computed once as
    ``dup_of_committed`` and only ever read un-negated (``CASE WHEN
    dup THEN …``): a ``NOT IN`` plans as a null-aware
    BroadcastNestedLoopJoin (batch × store), a positive IN as one hash
    existence join.  (An existence join flags each delta row once
    whatever the store holds, so a store that is not digest-unique — a
    caller committed a raw batch — cannot multiply rows, and needs no
    defensive ``distinct``.)
    Precondition: new ids are disjoint from committed ids (the store
    append is the commit point), mirroring
    :func:`incremental_minhash_pairs`."""
    from pyspark.sql import Window

    own_group = F.when(F.col("digest").isNull(), F.col("id"))
    flagged = new_digests.withColumn(
        "new_canonical_id",
        F.min("id").over(Window.partitionBy("digest", own_group)),
    )
    dup = F.lit(False)
    if committed_digests is not None:
        dup = F.col("digest").isin(committed_digests.select("digest"))
    # a column of its own: each inline copy of the IN would plan its own
    # existence join, and one under NOT a nested-loop one
    flagged = flagged.withColumn("dup_of_committed", dup)
    dup = F.col("dup_of_committed")
    return flagged.select(
        "id",
        "digest",
        "dup_of_committed",
        F.when(dup, None).otherwise(F.col("new_canonical_id"))
        .alias("new_canonical_id"),
        F.when(dup, False).otherwise(F.col("id") == F.col("new_canonical_id"))
        .alias("kept"),
        *[c for c in new_digests.columns if c not in ("id", "digest")],
    )


def raise_on_id_overlap(
    n_overlap: int, lo, hi, subject: str, rule: str
) -> None:
    """The fresh-ids guard's verdict, shared by every writer of a
    committed store: ``n_overlap`` new ids already committed, ``lo`` and
    ``hi`` the least and greatest of them (one aggregate finds all three
    — no ``limit`` that steps up over partitions to prove an empty
    overlap).  Raises ``ValueError`` naming the examples, then ``rule``."""
    if n_overlap:
        raise ValueError(
            f"{subject} overlap the committed store ({n_overlap} "
            f"overlapping, e.g. {sorted({lo, hi})}); {rule}"
        )


def min_shingle_bucket(sh: Column) -> Column:
    """The default blocking key of :func:`ngram_jaccard_pairs` over a
    shingle-hash array: the minimum hash (1-permutation MinHash), -1 for
    shingle-less docs.  Single-sourced so telemetry that measures bucket
    skew keys on the SAME expression the operator joins on — a drift
    would silently report cap behavior for a join that no longer
    exists."""
    return F.coalesce(F.array_min(sh), F.lit(-1))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_col: Column | None = None,
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.3,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Jaccard near-dup pairs inside cheap blocking buckets.

    ``bucket_col`` defaults to the 1-permutation MinHash bucket (minimum
    shingle hash) — unlike length bucketing, a near-identical pair can
    never straddle a boundary.  Recall per pair ≈ its Jaccard; the banded
    variant below is the high-recall path.  The self-join shuffles on the
    bucket key only.

    **Skew contract**: min-shingle buckets are usually small, but a
    globally common shingle whose hash happens to be low becomes the min
    for a large corpus fraction (boilerplate phrases do exactly this),
    making one bucket quadratic.  ``bucket_cap`` bounds that: buckets are
    deterministically split into sub-buckets of ≤ ``bucket_cap`` docs
    (row_number over id within the bucket), capping any bucket's pair
    count at cap²/2 regardless of input.  Pairs straddling a sub-bucket
    split are missed — bounded recall loss on PATHOLOGICAL buckets only
    (healthy buckets sit far below the cap and lose nothing), the
    standard cap-vs-quadratic trade.  Measured on a boilerplate fixture
    where 120 of 150 docs share one min-shingle bucket at cap=32:
    recall-vs-uncapped 1698/6786 = 0.25, matching the
    ceil(h/cap)·cap²/2 ÷ C(h,2) sub-bucket arithmetic
    (test_ngram_bucket_cap_recall_trade_measured).  ``None`` disables
    the cap.
    """
    toks = tokens(F.col(text_col))
    sh = shingle_hashes(toks, n)
    bucket = (
        bucket_col if bucket_col is not None else min_shingle_bucket(sh)
    )
    base = df.select(
        F.col(id_col).alias("id"),
        bucket.alias("bucket"),
        sh.alias("sh"),
        F.size(sh).alias("n_sh"),
    )
    # Shingle-less docs (blank/short pages) all share bucket -1, and
    # every pair they form is a forced J = 0.0 (empty-set union guard)
    # that can never clear a positive threshold — m such docs would be
    # m²/2 dead candidate rows in one straggler bucket (quadratic when
    # bucket_cap=None).  Excluding them pre-join is output-identical
    # whenever threshold > 0; at threshold ≤ 0 a 0.0 pair legitimately
    # passes, so they stay (same rule as lsh_ann_pairs' zero norms).
    if threshold > 0:
        base = base.filter(F.col("n_sh") > 0)
    join_keys = ["bucket"]
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("bucket").orderBy("id")
        base = base.withColumn(
            "sub_bucket",
            F.floor((F.row_number().over(w) - 1) / bucket_cap).cast("int"),
        )
        join_keys = ["bucket", "sub_bucket"]
    left = base.alias("l")
    right = base.alias("r")
    pairs = left.join(right, on=join_keys).filter(
        F.col("l.id") < F.col("r.id")
    )
    # Size-ratio prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs
    # whose set sizes differ too much can never reach the threshold —
    # skip their O(|A|+|B|) intersect entirely.  Result-identical.
    ratio_ok = (
        F.least(F.col("l.n_sh"), F.col("r.n_sh")).cast("double")
        >= F.lit(threshold)
        * F.greatest(F.col("l.n_sh"), F.col("r.n_sh")).cast("double")
    )
    return (
        pairs.filter(ratio_ok)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            jaccard(F.col("l.sh"), F.col("r.sh")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_MINHASH_K,
    band_size: int = 2,
    verify_threshold: float = 0.3,
    shingle_n: int = DEFAULT_SHINGLE,
    persist_base: bool = True,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard.

    shingle → k min-hashes → bands of ``band_size`` → explode to
    (band_idx, band_hash) → self-join on the band key → distinct candidate
    *id* pairs → join the shingle sets back → exact-Jaccard verify.

    Shape notes for scale: the band self-join and the distinct carry only
    ``(id, band)`` — never the shingle arrays (shuffling megabyte array
    columns through the explode+join was a 6× wall-clock regression at
    bench time).  Bands are hashes, so the join key space is uniform (no
    skew); the shingle arrays move over the wire exactly twice, keyed by the
    (small) candidate pair set.

    All hash primitives are the md5-portable family (the only mode — see
    the module docstring).  This is :func:`incremental_minhash_pairs`
    over an empty store, ``persist_base`` passed as its ``persist_new``.
    """
    return incremental_minhash_pairs(
        minhash_sketches(df, text_col, id_col, k, shingle_n), None,
        k, band_size, verify_threshold, persist_base,
    )


def minhash_sketches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_MINHASH_K,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """``(id, sh, sig)`` per-document MinHash sketch — the PERSISTABLE
    unit of incremental dedup: ``sh`` (hashed shingle set) replays exact
    Jaccard verification, ``sig`` (k min-hashes) replays banding, and
    both are pure per-document functions, so sketches written by one run
    band/verify identically against sketches computed by a later run.
    Store through the :mod:`ocr_spark.tableio` seam keyed by corpus
    snapshot; see :func:`incremental_minhash_pairs`."""
    toks = tokens(F.col(text_col))
    sh = shingle_hashes(toks, shingle_n)
    base = df.select(F.col(id_col).alias("id"), sh.alias("sh"))
    return base.withColumn("sig", minhash_signature(F.col("sh"), k))


def band_table(
    sketches: DataFrame, k: int = DEFAULT_MINHASH_K, band_size: int = 2
) -> DataFrame:
    """``(id, band_idx, band_hash)`` LSH band rows of an ``(id, sh,
    sig)`` sketch table — the only columns that ever move through the
    candidate join.

    Empty-shingle docs (< shingle_n tokens, empty/NULL text) are
    EXCLUDED from banding here, single-sourced for the full-corpus and
    incremental paths alike: their signature is the document-independent
    sentinel (see :func:`minhash_signature`), so at scale every such doc
    lands in ONE band bucket — m blank pages → m²/2 candidate rows in a
    single straggler key — and every one of those pairs is then
    discarded by the exact-Jaccard verify (J(∅, ·) = 0 < any positive
    threshold).  Excluding them is output-identical and removes the
    quadratic bucket.  They stay IN the sketch table (the incremental
    store must keep one row per kept doc — the job joins its commit
    against it) and IN cluster node sets (singleton clusters)."""
    # Same degenerate-silence class as the in-plan sig-width guard below:
    # band_size > k would band NOTHING (empty band array → zero candidate
    # pairs, no error), and a non-divisor would silently leave sig's tail
    # permutations unbanded — recall below the configured band bound.
    if band_size < 1 or k % band_size != 0:
        raise ValueError(
            f"band_size {band_size} must be a positive divisor of k {k}"
        )
    n_bands = k // band_size
    sig = F.col("sig")

    def band_hash(b: int) -> Column:
        members = [sig[b * band_size + j] for j in range(band_size)]
        return F.md5(
            F.concat_ws(":", *[m.cast("string") for m in members])
        )

    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            band_hash(b).alias("band_hash"),
        )
        for b in range(n_bands)
    ])
    # Fail fast when the sketch width disagrees with the configured k —
    # the persisted-store seam (a store written with a different k read
    # back into incremental_minhash_pairs) would otherwise null-pad
    # out-of-range sig reads through concat_ws and silently degrade
    # recall to the narrower band bound.  Same degenerate-silence class
    # (and guard idiom) as similarity._guarded_norm; size(NULL) is -1
    # under non-ANSI semantics, so a corrupt null sig raises too.
    guarded = F.when(F.size(sig) == k, bands).otherwise(
        F.raise_error(F.concat(
            F.lit("lsh: sig width "),
            F.size(sig).cast("string"),
            F.lit(f" != configured k {k} (-1 = null sig; was this "
                  "sketch store written with a different k?)"),
        ))
    )
    # textstats.explode_non_null (outer + null filter), never a plain
    # explode: the optimizer's inferred `size(...) > 0` pre-filter for
    # non-outer generators re-evaluates the band expression below the
    # exchange — see explode_non_null for the measurement.  k ≥ 1
    # means no row is ever actually null here (a null sig raises in
    # `guarded`).
    return explode_non_null(
        sketches.filter(F.size("sh") > 0),  # see docstring: sentinel sigs
        guarded, "band", "id",
    ).select("id", "band.band_idx", "band.band_hash")


def _band_self_pairs(banded: DataFrame) -> DataFrame:
    """Canonical candidate id pairs from a band-table self-join:
    equi-join on (band_idx, band_hash), ``id_a < id_b``.  NOT yet
    distinct — the caller places the distinct (the incremental path
    unions cross-batch candidates first, so one distinct covers both).
    Single-sourced so the full-corpus and incremental paths cannot
    drift apart in candidate canonicalization (their run-union
    equivalence contract depends on it)."""
    return (
        banded.alias("l")
        .join(banded.alias("r"), on=["band_idx", "band_hash"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )


def _verify_pairs(
    cand: DataFrame, sketches: DataFrame, verify_threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of distinct candidate id pairs against
    the ``(id, sh)`` sketch source, with the result-identical size-ratio
    prefilter (J ≤ min/max set sizes)."""
    sh_a = sketches.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    sh_b = sketches.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    ratio_ok = (
        F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
        >= F.lit(verify_threshold)
        * F.greatest(F.size("sh_a"), F.size("sh_b")).cast("double")
    )
    return (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .filter(ratio_ok)
        .select(
            "id_a", "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= verify_threshold)
    )


def incremental_minhash_pairs(
    new_sketches: DataFrame,
    committed_sketches: DataFrame | None = None,
    k: int = DEFAULT_MINHASH_K,
    band_size: int = 2,
    verify_threshold: float = 0.3,
    persist_new: bool = True,
) -> DataFrame:
    """Cross-run incremental dedup: near-dup pairs TOUCHING the new
    batch — (new × new) ∪ (new × committed) — without ever re-pairing
    the committed corpus against itself.

    This is the shape that makes 100 TB dedup affordable: each run
    sketches only its delta (:func:`minhash_sketches`), joins the
    delta's band rows against its own and against the committed band
    store, verifies exact Jaccard on the candidate pairs, and then
    appends the delta's sketches to the store (tableio snapshot-append)
    for the next run.  The committed side contributes one band-table
    scan + the band equi-join probe — never a committed × committed
    pair.  Run-to-run equivalence: because sketches are pure
    per-document functions, the union of every run's output equals the
    full-corpus :func:`minhash_lsh_pairs` over all documents (each pair
    is emitted by exactly the run that introduced its LATER batch
    member) — proven by the ``dedup_incremental`` contract oracle and
    the two-batch == one-batch resume test.

    Preconditions: new ids are disjoint from committed ids (commit what
    you ran — the tableio append IS the commit point; a re-submitted id
    would double its sketch rows and duplicate its pairs), and both
    sides were sketched with the same ``k``/``band_size``/``shingle_n``.
    ``committed_sketches=None`` is the first batch (new × new only).
    ``persist_new`` caches the delta sketch (it feeds its band table,
    both sides of the verify join, and typically the subsequent store
    append), so tokenize+shingle+hash runs once.  Spark's CacheManager
    holds the entry until unpersist: repeated callers in one long session
    should pass False (or ``clearCache()``)."""
    if persist_new:
        new_sketches = new_sketches.persist()
    nb = band_table(new_sketches, k, band_size)
    nn = _band_self_pairs(nb)
    if committed_sketches is None:
        cand = nn.distinct()
        sh_source = new_sketches.select("id", "sh")
    else:
        cb = band_table(committed_sketches, k, band_size)
        nc = (
            nb.alias("l")
            .join(cb.alias("r"), on=["band_idx", "band_hash"])
            .filter(F.col("l.id") != F.col("r.id"))
            .select(
                F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
                F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
            )
        )
        cand = nn.unionByName(nc).distinct()
        sh_source = new_sketches.select("id", "sh").unionByName(
            committed_sketches.select("id", "sh")
        )
    return _verify_pairs(cand, sh_source, verify_threshold)


def _line_table(
    df: DataFrame, lines_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """``(base, exploded)`` — the shared front end of the line-dedup
    family: ``base`` is ``(id, lines)`` with NULL arrays coalesced empty
    and NULL elements stripped; ``exploded`` is ``(id, pos, line,
    line_h)`` rows keyed by the 60-bit portable line hash.  Single-
    sourced so the batch and incremental paths can never drift on the
    hash or the null handling (their run-union equivalence depends on
    counting the same lines)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.coalesce(
                F.col(lines_col), F.array().cast("array<string>")
            ),
            lambda x: x.isNotNull(),
        ).alias("lines"),
    )
    exploded = base.select(
        # outer + null filter: avoids the inferred size>0 pre-filter
        # re-evaluating a caller-synthesized lines expression at the
        # scan (see textstats.explode_non_null).  Docs with empty lines arrays
        # contribute nothing either way; null ELEMENTS were already
        # stripped in `base`.
        "id", F.posexplode_outer("lines").alias("pos", "line")
    ).filter(F.col("pos").isNotNull()).withColumn(
        "line_h", portable_hash(F.col("line"))
    )
    return base, exploded


def line_doc_freqs_from_exploded(exploded: DataFrame) -> DataFrame:
    """``(line_h, doc_freq)`` distinct-document frequency per line hash
    over a :func:`_line_table` explode — with the per-run corpus size,
    the PERSISTABLE unit of incremental line dedup (sum ``doc_freq`` by
    hash across snapshots on read-back, like the gram-frequency store)."""
    return exploded.groupBy("line_h").agg(
        F.count_distinct("id").alias("doc_freq")
    )


def line_doc_freqs(
    df: DataFrame, lines_col: str = "lines", id_col: str = "doc_id"
) -> DataFrame:
    """Convenience: :func:`line_doc_freqs_from_exploded` straight from a
    documents frame.  Persist alongside the run's DOC COUNT — the
    frequency table is only half the threshold (kept ⟺ total doc_freq <
    max_doc_frac × total n_docs); the incremental caller supplies the
    committed count as ``committed_n_docs``."""
    _base, exploded = _line_table(df, lines_col, id_col)
    return line_doc_freqs_from_exploded(exploded)


def drop_frequent_lines_incremental(
    delta: DataFrame,
    committed_freqs: DataFrame | None = None,
    committed_n_docs: int = 0,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    max_doc_frac: float = 0.3,
    persist_exploded: bool = True,
) -> DataFrame:
    """Cross-run incremental CCNet-style line dedup: the DELTA batch's
    documents filtered against line frequencies accumulated over the
    whole corpus — delta counts plus the committed store — without
    re-exploding the committed corpus; the line-level member of the
    incremental family (exact / minhash / simhash / ANN / clusters /
    passages).

    ``committed_freqs`` is the accumulated :func:`line_doc_freqs` store
    (``(line_h, doc_freq)``, summed by hash across snapshots when read
    back; None = first batch) and ``committed_n_docs`` the committed
    corpus size (persist it next to the store — e.g. in its own one-row
    table).  A delta line is kept when its TOTAL distinct-document
    frequency stays under ``max_doc_frac`` of the TOTAL corpus size;
    with disjoint batches both totals equal the one-shot values, so the
    delta's output equals :func:`drop_frequent_lines` over ALL documents
    restricted to the delta's ids — pinned by the two-batch test.
    Committed documents' own historical outputs are final (the
    forward-only semantic shared with :func:`dup_passages_incremental`);
    append the delta's freqs + count to commit the run.

    Shape for 100 TB: the committed side contributes ONE aggregated row
    per distinct line hash into the frequency join and one integer into
    the threshold — no text, no positions, no re-explosion."""
    base, exploded = _line_table(delta, lines_col, id_col)
    if persist_exploded:
        exploded = exploded.persist()
    freq = line_doc_freqs_from_exploded(exploded)
    if committed_freqs is not None:
        freq = (
            freq.unionByName(
                committed_freqs.select("line_h", "doc_freq")
            )
            .groupBy("line_h")
            .agg(F.sum("doc_freq").alias("doc_freq"))
        )
    n_docs = base.agg(
        (F.count(F.lit(1)) + F.lit(committed_n_docs)).alias("n_docs")
    )
    kept = (
        exploded.join(freq, on="line_h")
        .join(F.broadcast(n_docs))
        .filter(
            F.col("doc_freq").cast("double")
            < F.lit(max_doc_frac) * F.col("n_docs").cast("double")
        )
    )
    return _reassemble_kept_lines(base, kept)


def drop_frequent_lines(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    max_doc_frac: float = 0.3,
    persist_exploded: bool = True,
) -> DataFrame:
    """Corpus-frequency line filtering (the CCNet/RefinedWeb-style
    line-level dedup): keep only lines whose DOCUMENT frequency is
    strictly below ``max_doc_frac`` of the corpus (a line at exactly the
    threshold is dropped) — boilerplate headers/footers/cookie banners
    repeat across documents, content lines do not.  NULL lines arrays
    count as empty; NULL line elements are excluded up front (from both
    the counts and the output).

    Shape: posexplode lines (narrow) → doc-frequency per LINE HASH (one
    groupBy shuffle keyed by the 60-bit portable hash, not the raw line
    string — bigint keys shuffle a fraction of the bytes and compare
    cheaper; a collision merely merges two lines' frequencies, which at
    60 bits is negligible against a boilerplate threshold) → join the
    frequency back on the hash → re-assemble each document's surviving
    lines in original order (one groupBy-id shuffle).  The corpus size
    joins in as a broadcast 1-row aggregate.  Skew note: a corpus-wide
    boilerplate line is a hot join key by construction; its frequency
    row is on the (small, usually broadcast) aggregate side, and AQE
    skew-join splits the residual case when the frequency table grows to
    sort-merge size.  ``persist_exploded`` caches the hashed explode
    (it feeds both the frequency build side and the probe side — without
    it the dominant explode+hash cost is paid twice); like the minhash
    sketch, the cache entry lives until the session clears it, so
    repeated callers in one long session should pass False or
    ``clearCache()``.  Output: ``(id, kept_lines, n_lines_in,
    n_lines_kept)``.  This is :func:`drop_frequent_lines_incremental`
    over an empty store.
    """
    return drop_frequent_lines_incremental(
        df, None, 0, lines_col, id_col, max_doc_frac, persist_exploded
    )


def _reassemble_kept_lines(base: DataFrame, kept: DataFrame) -> DataFrame:
    """Shared tail of the line-dedup family: surviving ``(id, pos,
    line)`` rows re-assembled per document in original order, every doc
    emitted (empty survivors → empty array)."""
    survivors = kept.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "line"))),
            lambda s: s["line"],
        ).alias("kept_lines"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = base.select("id", F.size("lines").alias("n_lines_in"))
    return (
        totals.join(survivors, on="id", how="left")
        .select(
            "id",
            F.coalesce(
                F.col("kept_lines"), F.array().cast("array<string>")
            ).alias("kept_lines"),
            F.col("n_lines_in").cast("bigint").alias("n_lines_in"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0))
            .cast("bigint").alias("n_lines_kept"),
        )
    )


def make_checkpointer(spark, checkpoint_mode: str):
    """Resolve ``'auto'/'local'/'reliable'`` into a lineage-truncation
    function for driver-looped iterative operators — single-sourced so
    :func:`connected_components` and the BPE trainer
    (:mod:`ocr_spark.bpe`) share one definition of the cluster-durability
    trade (see ``connected_components``' ``checkpoint_mode`` docstring
    for the full semantics of each mode)."""
    mode = checkpoint_mode
    if mode == "auto":
        has_dir = spark.sparkContext.getCheckpointDir() is not None
        mode = "reliable" if has_dir else "local"
    if mode not in ("local", "reliable"):
        raise ValueError(f"unknown checkpoint_mode {checkpoint_mode!r}")

    def _ckpt(df: DataFrame) -> DataFrame:
        if mode == "reliable":
            cached = df.persist()
            out = cached.checkpoint(eager=True)
            cached.unpersist()
            return out
        return df.localCheckpoint(eager=True)

    return _ckpt


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint_mode: str = "auto",
) -> DataFrame:
    """Connected components: ``(id) × (id_a, id_b)`` → ``(id, cluster_id)``
    where ``cluster_id`` is the minimum node id reachable in the undirected
    pair graph (singletons label themselves).  Edges whose endpoints are
    not in ``nodes`` do not participate (a foreign id has no label row to
    relay).

    Driver-looped min-label propagation: each round joins current labels
    across the (both-direction) edge list, takes the per-node min, and
    stops when no label changed — the number of rounds is the cluster
    DIAMETER, which for near-dup clusters (cliquish by construction: LSH
    pairs within a verify threshold) is 2-4, not O(n).  Each round is one
    broadcast-or-shuffle join + one groupBy min, and the convergence
    signal rides the SAME job via ``Observation`` (``sum(changed)``
    collected as an observed metric during the round's checkpoint
    materialization) — no separate compare-join probe job per iteration.
    Checkpointing truncates the lineage every round so the plan does not
    grow with the iteration count (the classic iterative-DataFrame trap).
    A graph whose diameter exceeds ``max_iter`` raises ``RuntimeError``
    rather than return partial labels.

    ``checkpoint_mode`` picks how lineage is truncated between rounds:

    - ``'local'`` — ``localCheckpoint``: executor-local blocks, zero
      extra infrastructure.  FINE ON ONE MACHINE, wrong on a cluster: a
      lost executor loses its blocks and fails the whole iterative job
      mid-loop (the blocks are not recomputable once lineage is cut).
    - ``'reliable'`` — ``checkpoint()`` to the configured checkpoint
      directory (``spark.sparkContext.setCheckpointDir`` — put it on the
      cluster's durable FS): per-round files survive executor loss, the
      right choice for multi-hour 100 TB dedup graphs.  The DataFrame is
      persisted around the checkpoint so the round's join computes ONCE
      (Spark's reliable checkpoint otherwise recomputes every partition
      in the checkpoint-writing job).  Checkpoint files accumulate per
      round until application exit unless
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.
    - ``'auto'`` (default) — ``'reliable'`` when a checkpoint dir is
      configured, else ``'local'``.
    """
    _ckpt = make_checkpointer(nodes.sparkSession, checkpoint_mode)

    from pyspark.sql import Observation

    # Materialize the edge list ONCE — it is typically the output of an
    # expensive pair generator (LSH band join + verify), and every
    # iteration's action would otherwise re-execute that whole plan.
    both = _ckpt(edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst")
        )
    ))
    labels = nodes.select(F.col("id"), F.col("id").alias("cluster_id"))
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            both.join(labels, both.src == labels.id)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # The label only changes when a strictly smaller neighbor min
        # arrived, so `changed` is computable inline — and Observation
        # collects its sum DURING the round's own materializing job
        # (checkpoint goes through the Dataset action path, so observed
        # metrics fire), replacing the former per-round compare-join
        # probe job.  One Spark job per iteration.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                F.coalesce(
                    F.col("nmin") < F.col("cluster_id"), F.lit(False)
                ).alias("changed"),
            )
            .observe(obs, F.sum(F.col("changed").cast("bigint")).alias("n"))
            .drop("changed")
        )
        labels = _ckpt(new_labels)
        if not obs.get.get("n"):  # None (zero rows) or 0 → fixed point
            converged = True
            break
    if not converged:
        # Silently-wrong labels (one component, several cluster ids) are
        # worse than failing: the caller keeps duplicate documents and the
        # recursive-closure oracle diverges.  max_iter bounds the cluster
        # DIAMETER; hitting it means the graph is chain-shaped beyond the
        # budget.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the iteration budget); raise "
            "max_iter"
        )
    return labels


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: float = 0.3,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment: MinHash+LSH pair edges →
    connected components → ``(id, cluster_id, is_canonical)``.

    The step downstream of every pair generator: a training-data pipeline
    keeps ``is_canonical`` rows (the minimum doc id of each component) and
    drops the rest.  Every doc appears exactly once; singletons are their
    own canonical."""
    sketches = minhash_sketches(df, text_col, id_col).persist()
    pairs = incremental_minhash_pairs(
        sketches, None, verify_threshold=verify_threshold, persist_new=False
    )
    nodes = df.select(F.col(id_col).alias("id"))
    # connected_components checkpoints the edge list up front, so the
    # sketch cache has served its purpose once the loop returns or raises
    try:
        labels = connected_components(nodes, pairs.select("id_a", "id_b"))
    finally:
        sketches.unpersist()
    return labels.select(
        "id", "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def simhash_block_widths(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(shift, width) per block, splitting ``bits`` as evenly as possible."""
    base, rem = divmod(bits, n_blocks)
    widths = [base + 1] * rem + [base] * (n_blocks - rem)
    shifts, acc = [], 0
    for w in widths:
        shifts.append((acc, w))
        acc += w
    return shifts


def simhash_blocks(
    sig: Column,
    bits: int = 60,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> Column:
    """``array<struct<block_idx,block_val>>`` — the Manku block-
    permutation candidate key of a simhash signature (Manku/Jain/Sarma
    WWW'07 §3).  Single-sourced (like :func:`min_shingle_bucket` for the
    ngram path) so candidate-count telemetry explodes the SAME key the
    operator joins on — a drift would silently measure blowup for a join
    that no longer exists.

    ``n_blocks`` defaults to ``max_hamming + 1`` contiguous blocks, one
    candidate table per block (key space ``2^(bits/n_blocks)`` each —
    the measured scale ceiling: 4 × 2^15 keys is FIXED in n, so
    candidates grow ~n²/2^17 and the operator is infeasible at 10^9
    docs).  **The scale lever is raising** ``n_blocks`` **past that
    minimum**: with ``b`` blocks, a pair within the hamming budget ``h``
    agrees on at least ``b − h`` of them, so one table per
    ``(b − h)``-subset of blocks (all ``C(b, b−h)`` of them, keyed by the
    concatenated member block values) keeps FULL recall while widening
    each key to ``(b−h)·bits/b`` bits — the paper's probe-count vs
    key-width trade.  At ``bits=60, h=3, n_blocks=6`` that is 20 tables
    × 2^30 keys instead of 4 × 2^15: 5× the explode rows, ~2^15× the key
    space (measured at 150k docs: candidates/doc 11.3 → ~0
    background).  Row volume per doc is ``C(b, b−h)`` — keep it ≤ the
    guard below."""
    n_blocks = max_hamming + 1 if n_blocks is None else n_blocks
    if n_blocks > bits:
        raise ValueError("n_blocks blocks must fit in the signature")
    if n_blocks < max_hamming + 1:
        # pigeonhole needs ≥ h+1 blocks: with fewer, a pair at hamming h
        # can differ in EVERY block and the join silently loses recall
        raise ValueError(
            f"n_blocks {n_blocks} < max_hamming + 1 = {max_hamming + 1} "
            "breaks the pigeonhole recall guarantee"
        )
    from itertools import combinations
    from math import comb

    combo_size = n_blocks - max_hamming
    n_combos = comb(n_blocks, combo_size)
    if n_combos > 256:
        raise ValueError(
            f"C({n_blocks}, {combo_size}) = {n_combos} candidate tables "
            "per doc — the explode volume defeats the purpose; lower "
            "n_blocks (or raise bits)"
        )
    widths = simhash_block_widths(bits, n_blocks)

    def block_val(i: int) -> Column:
        shift, width = widths[i]
        return F.shiftright(sig, shift).bitwiseAND(F.lit((1 << width) - 1))

    def combo_val(members: tuple[int, ...]) -> Column:
        # concatenated member block values; total width ≤ bits ≤ 60, so
        # the packed key always fits a bigint
        acc = F.lit(0).cast("bigint")
        offset = 0
        for m in members:
            acc = acc + F.shiftleft(block_val(m), offset)
            offset += widths[m][1]
        return acc

    return F.array(*[
        F.struct(
            F.lit(ci).alias("block_idx"),
            combo_val(members).alias("block_val"),
        )
        for ci, members in enumerate(
            combinations(range(n_blocks), combo_size)
        )
    ])


def simhash_sketches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """``(id, sig)`` per-document SimHash sketch — the PERSISTABLE unit of
    incremental simhash dedup, mirroring :func:`minhash_sketches`: the
    signature is a pure per-document function (shingle hashes → bit
    votes), so sketches written by one run block/verify identically
    against sketches computed by a later run.  Store through the
    :mod:`ocr_spark.tableio` seam; see :func:`incremental_simhash_pairs`.

    Unlike the minhash sketch (whose sig WIDTH is checkable at read
    time), a simhash signature is one bigint — a store written at a
    different ``bits``/``shingle_n`` is not detectable from the data, so
    the same-parameters precondition is purely the caller's commit
    discipline: persist the parameters next to the store.

    Feature-less docs (< ``shingle_n`` tokens, empty/NULL text) are
    EXCLUDED here, at sketch build: their signature folds to 0
    (:func:`simhash_from_features`), and — unlike minhash, whose
    exact-Jaccard verify rejects such pairs — the simhash verify
    compares only signatures, so every pair of feature-less docs would
    band together AND verify at hamming 0: unrelated two-token docs
    reported as near-duplicates, quadratically, with the poisoned
    sketches persisted into incremental stores.  A sig-0 store row is
    indistinguishable from a legitimate signature at read time, so the
    exclusion must happen before the sketch exists.  Simhash sketches
    carry no exact-dedup payload (the minhash family's store does), so
    dropping these docs from the sketch table loses nothing."""
    feats = shingle_hashes(tokens(F.col(text_col)), shingle_n)
    # The exclusion predicate is `size(tokens) >= shingle_n`, NOT
    # `size(feats) > 0`: the two are equivalent (shingles() returns the
    # explicit empty array exactly when size(toks) < n), but filtering
    # on the computed feats column pushes the WHOLE shingle+md5 pipeline
    # into the filter — measured 6x on dedup_simhash_pairs at sf0.1
    # (4.8 s → 28-36 s).  The token count is a cheap split away.
    kept = df.filter(F.size(tokens(F.col(text_col))) >= shingle_n)
    return simhash_from_features(
        kept.select(F.col(id_col).alias("id"), feats.alias("feats")),
        F.col("feats"),
        bits=bits,
    )


def _simhash_block_rows(
    base: DataFrame,
    bits: int,
    max_hamming: int,
    n_blocks: int | None,
    carry: tuple[str, ...],
) -> DataFrame:
    """``(id, sig, [cohort,] block_idx, block_val)`` exploded Manku block
    rows of a sketch table — one key derivation for the new and the
    committed side of :func:`incremental_simhash_pairs` (their run-union
    equivalence depends on it).  ``carry`` is ``("cohort",)`` when the
    sketches carry one."""
    blocks = simhash_blocks(
        F.col("sig"), bits=bits, max_hamming=max_hamming, n_blocks=n_blocks
    )
    # textstats.explode_non_null, never a plain explode: the inferred
    # pre-filter would duplicate the block arithmetic (see that helper
    # for the measurement).
    return explode_non_null(base, blocks, "b", "id", "sig", *carry).select(
        "id", "sig", *carry, "b.block_idx", "b.block_val"
    )


def incremental_simhash_pairs(
    new_sketches: DataFrame,
    committed_sketches: DataFrame | None = None,
    max_hamming: int = 3,
    bits: int = 60,
    n_blocks: int | None = None,
    persist_new: bool = True,
) -> DataFrame:
    """Cross-run incremental SimHash dedup: hamming-≤ ``max_hamming``
    pairs TOUCHING the new batch — (new × new) ∪ (new × committed) —
    without re-pairing the committed corpus against itself, the simhash
    member of the incremental family (exact / minhash / clusters /
    passages).  :func:`simhash_pairs` is this over no store.

    Same store protocol as :func:`incremental_minhash_pairs`: sketch the
    delta (:func:`simhash_sketches`), block-join it against itself and
    against the committed sketch store, verify ``bit_count(xor)``, then
    append the delta's sketches to commit the run.  The committed side
    contributes one block-row scan + the equi-join probe — never a
    committed × committed pair.  Because signatures are pure per-document
    functions, the union of every run's output equals the full-corpus
    :func:`simhash_pairs` over all documents (each pair is emitted by the
    run that introduced its later member) — the ``dedup_simhash_
    incremental`` contract oracle replays exactly that restriction.

    A ``cohort`` column on the sketches joins the block key, so
    cross-cohort pairs are never generated; both sides must carry it or
    neither.  Struct-wrap it as ``block_col`` of :func:`simhash_pairs`
    does, or a NULL cohort never pairs.

    Preconditions: new ids disjoint from committed ids, and both sides
    sketched with the same ``bits``/``shingle_n``/``max_hamming``/
    ``n_blocks`` block split (NOT detectable from a bigint signature at
    read time — see :func:`simhash_sketches`)."""
    carry = ("cohort",) if "cohort" in new_sketches.columns else ()
    if committed_sketches is not None and bool(carry) != (
        "cohort" in committed_sketches.columns
    ):
        raise ValueError(
            "new and committed simhash sketches must both carry a "
            "'cohort' column or neither"
        )
    keys = [*carry, "block_idx", "block_val"]
    if persist_new:
        new_sketches = new_sketches.persist()
    nb = _simhash_block_rows(new_sketches, bits, max_hamming, n_blocks, carry)
    # new x new: canonical (id_a < id_b) straight from the self-join
    cand = (
        nb.alias("l").join(nb.alias("r"), on=keys)
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
    )
    if committed_sketches is not None:
        cb = _simhash_block_rows(
            committed_sketches, bits, max_hamming, n_blocks, carry
        )
        lt = F.col("l.id") < F.col("r.id")
        cand = cand.unionByName(
            nb.alias("l").join(cb.alias("r"), on=keys)
            .filter(F.col("l.id") != F.col("r.id"))
            .select(
                F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
                F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
                F.when(lt, F.col("l.sig")).otherwise(F.col("r.sig"))
                .alias("sig_a"),
                F.when(lt, F.col("r.sig")).otherwise(F.col("l.sig"))
                .alias("sig_b"),
            )
        )
    return (
        cand.distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    shingle_n: int = DEFAULT_SHINGLE,
    n_blocks: int | None = None,
    block_col: Column | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with FULL recall at ``hamming ≤ max_hamming``
    — :func:`incremental_simhash_pairs` over no committed store.

    Standard block-permutation scheme (Manku/Jain/Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW'07): split the ``bits``-wide
    signature into ``max_hamming + 1`` contiguous blocks — by pigeonhole,
    any pair within the hamming budget agrees EXACTLY on at least one
    block.  Each block is one candidate table: explode to
    ``(block_idx, block_val)``, self-join on that key, distinct the id
    pairs, verify ``bit_count(xor) ≤ max_hamming``.

    Features are word-``shingle_n``-gram hashes (the literature's feature
    set), not unigram tokens: token-set signatures over a finite
    vocabulary cluster tightly and blow up the candidate join (measured
    17.5M candidates for 20K true pairs at sf0.1 on the driver corpus —
    1000× precision loss); shingle features decorrelate the signatures.

    Scale shape: the join key space is ``n_tables × 2^(key_width)`` —
    4 × 2^15 at the defaults, which is FIXED in n and therefore a
    measured quadratic ceiling (~n²/2^17 candidates; infeasible at 10^9
    docs).  TWO levers fix that at scale:

    - ``n_blocks`` > ``max_hamming + 1`` switches to the Manku
      combination scheme (see :func:`simhash_blocks`): same FULL recall
      at hamming ≤ ``max_hamming``, key space widened exponentially
      (n_blocks=6 → 20 tables × 2^30 keys; candidates/doc measured flat
      at 150k docs).
    - ``block_col`` scopes candidates to a caller cohort (language,
      domain, shard) — an expression over ``df``'s columns, attached to
      the sketches as their ``cohort`` column and AND-ed into the join
      key, so cross-cohort pairs are never generated at all.
      Costs one id-keyed join to attach the cohort to the signature
      table (reuses the signature groupBy's hash partitioning).
      A NULL cohort is its OWN cohort (groupBy semantics): the value is
      struct-wrapped so the equi-join matches null-safely — without the
      wrap, NULL != NULL would silently drop every undetected-language/
      missing-domain doc from all pairing, even against identical docs.

    Only ``(id, sig, block)`` rows move through the explode/join (sig is
    one bigint).  Residual hazard: byte-identical documents share a
    signature and still concentrate — run exact dedup first; AQE
    skew-join splits what remains.
    """
    base = simhash_sketches(df, text_col, id_col, bits, shingle_n)
    if block_col is not None:
        cohorts = df.select(
            F.col(id_col).alias("id"),
            # struct wrap = null-safe equi-join key (see docstring)
            F.struct(block_col.alias("v")).alias("cohort"),
        )
        base = base.join(cohorts, on="id")
    return incremental_simhash_pairs(
        base, None, max_hamming, bits, n_blocks, persist_new=False
    )



# ------------------------------------------------------ duplicated passages

def _tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, toks)`` — the shared tokenize pass of the passage-dedup
    family.  :func:`strip_dup_passages` persists it so the gram build and
    the token-cut join read ONE tokenization instead of re-tokenizing the
    corpus per consumer (a second full narrow pass at 100 TB)."""
    return df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )


def _gram_table(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    persist_grams: bool = True,
) -> DataFrame:
    """``(id, pos, gram_h)`` — one row per ``k``-token window, 0-based
    start position, 60-bit portable window hash.  Built per row (narrow:
    one ``transform`` over the token array, then ``posexplode``);
    ``persist_grams`` caches the exploded table — every caller feeds it
    to both a frequency build side and the probe side (session-lifetime
    cache entry, same caveat as the minhash sketch)."""
    return _gram_table_from_toks(
        _tokenized(df, text_col, id_col), k, persist_grams
    )


def _gram_table_from_toks(
    tdf: DataFrame, k: int, persist_grams: bool = True
) -> DataFrame:
    """:func:`_gram_table` over a pre-tokenized ``(id, toks)`` frame —
    the seam that lets :func:`strip_dup_passages` reuse one tokenize
    pass for both the gram table and the token-cut join."""
    toks = F.col("toks")
    n = F.size(toks)
    # sequence(1, 0) counts DOWN in Spark — guard short docs explicitly.
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: portable_hash(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # posexplode_OUTER + a null filter, NOT plain posexplode: the
    # posexplode form of textstats.explode_non_null (see it for the
    # measured cost of the inferred pre-filter on this very stage).
    gt = (
        tdf.select("id", grams.alias("grams"))
        .select("id", F.posexplode_outer("grams").alias("pos", "gram_h"))
        .filter(F.col("pos").isNotNull())
    )
    if persist_grams:
        gt = gt.persist()
    return gt


def gram_doc_freqs(gt: DataFrame) -> DataFrame:
    """``(gram_h, n_docs)`` distinct-document frequency per window hash
    over a :func:`_gram_table` — the PERSISTABLE unit of incremental
    passage dedup (store through the tableio seam; sum ``n_docs`` by
    ``gram_h`` across snapshots when reading back).  One ``(gram, id)``
    distinct + one groupBy on the 60-bit hash (bigint keys shuffle a
    fraction of the raw-text bytes, same trade as
    :func:`drop_frequent_lines`)."""
    return (
        gt.select("gram_h", "id")
        .distinct()
        .groupBy("gram_h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def _marked_windows(
    tdf: DataFrame,
    committed_freqs: DataFrame | None,
    k: int,
    min_docs: int,
    persist_grams: bool,
) -> DataFrame:
    """``(id, pos)`` — 0-based token positions of a pre-tokenized ``(id,
    toks)`` frame that START a ``k``-token window whose gram occurs in at
    least ``min_docs`` DISTINCT documents, counting the delta plus the
    committed :func:`gram_doc_freqs` store (None = empty store).  The
    single source of the marking semantics: :func:`dup_passages_incremental`
    and :func:`strip_dup_passages` both enter here, so their marks can
    never drift apart."""
    gt = _gram_table_from_toks(tdf, k, persist_grams)
    freq = gram_doc_freqs(gt)
    if committed_freqs is not None:
        freq = (
            freq.unionByName(
                committed_freqs.select("gram_h", "n_docs")
            )
            .groupBy("gram_h")
            .agg(F.sum("n_docs").alias("n_docs"))
        )
    frequent = freq.filter(F.col("n_docs") >= min_docs).select("gram_h")
    return gt.join(frequent, on="gram_h").select("id", "pos")


def _spans_from_marked(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of marked window starts into maximal spans
    (see :func:`dup_passages` for the semantics)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos", 1).over(w)
    brk = F.when(
        prev.isNull() | (F.col("pos") - prev > k), F.lit(1)
    ).otherwise(F.lit(0))
    islands = marked.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
            "n_grams",
        )
    )


def dup_passages(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_grams: bool = True,
) -> DataFrame:
    """Exact SUBSTRING-level duplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find maximal token
    spans that repeat across documents, not just whole-document or
    whole-line repeats — boilerplate paragraphs, license blocks, and
    quoted passages duplicate at this granularity while the documents
    around them stay unique.

    True suffix-array substring dedup is inherently sequential; the
    distributed-engine shape is the k-gram approximation: mark every
    ``k``-token window that occurs in ``min_docs``-or-more distinct
    documents, then merge overlapping/adjacent marked windows into
    maximal spans (gaps-and-islands over the window start positions — a
    break where consecutive marked positions are more than ``k`` apart).
    Every TOKEN in an emitted span is covered by at least one duplicated
    window (the invariant :func:`strip_dup_passages` cuts on); interior
    windows bridging two marked runs closer than ``k`` apart need not
    themselves be duplicated — the span is a coverage union, not an
    every-window certificate.  ALL occurrences are marked (cross-document
    frequency semantics, like :func:`drop_frequent_lines`): choosing a
    single survivor per passage would need a global canonical order —
    real pipelines drop every copy of high-frequency passages.

    Output: ``(id, span_start, span_end, span_tokens, n_grams)`` — one
    row per maximal duplicated span, 0-based token offsets,
    ``span_end`` exclusive.

    Shape for 100 TB: the gram explode is narrow; frequency is one
    groupBy on the bigint gram hash (map-side combine); the join back is
    gram-keyed; the islands window shuffles on doc id only.  A corpus-
    ubiquitous passage is a hot gram key — its frequency row is on the
    one-row-per-gram side, and AQE skew-join splits the residual probe.
    No stage ever holds more than one document's positions in order.
    This is :func:`dup_passages_incremental` over an empty store."""
    return dup_passages_incremental(
        df, None, k, min_docs, text_col, id_col, persist_grams
    )


def dup_passages_incremental(
    delta: DataFrame,
    committed_freqs: DataFrame | None = None,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_grams: bool = True,
) -> DataFrame:
    """Cross-run incremental PASSAGE dedup: duplicated spans of a DELTA
    batch against the committed corpus plus the delta itself, without
    re-gramming the committed corpus — the substring-level member of the
    incremental family (exact / minhash pairs / clusters).

    ``committed_freqs`` is the accumulated :func:`gram_doc_freqs` store
    (``(gram_h, n_docs)``, summed by hash across snapshots when read
    back; None = first batch).  A delta window is marked when its TOTAL
    distinct-document frequency — delta count plus committed count —
    reaches ``min_docs``; batches with disjoint ids make that total
    exactly the one-shot full-corpus frequency, so the delta's spans
    equal the spans a one-shot :func:`dup_passages` over all documents
    assigns to these docs (the contract oracle replays exactly that).
    Committed documents' own historical span emissions are final — the
    forward-only semantic of a corpus already shipped to training;
    append the delta's ``gram_doc_freqs`` to commit the run.

    Shape for 100 TB: the committed side contributes ONE aggregated row
    per distinct gram hash into the frequency join — no text, no
    positions, no re-gramming; everything else is the batch shape."""
    marked = _marked_windows(
        _tokenized(delta, text_col, id_col), committed_freqs, k, min_docs,
        persist_grams,
    )
    return _spans_from_marked(marked, k)


def strip_dup_passages(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_grams: bool = True,
) -> DataFrame:
    """Cut every duplicated passage (see :func:`dup_passages`) out of the
    text: tokens covered by any duplicated span are removed, the rest
    re-join with single spaces IN ORIGINAL ORDER.  Every document flows
    through (untouched docs too — their text is re-joined from tokens the
    same way, so output whitespace is canonical regardless of input
    spacing; NULL/empty text → ``''``).

    Output: ``(id, clean_text, n_tokens_in, n_tokens_kept)``.

    Shape: the span table collects to ONE small array per affected doc
    (``collect_list`` after the islands merge — spans per doc are few by
    construction), broadcast back onto the doc row by id; the token cut
    is then a narrow per-row ``filter`` by index.  No second explode of
    the corpus and no second TOKENIZE: the ``(id, toks)`` frame is
    computed once (persisted under ``persist_grams``) and feeds both the
    marking (:func:`dup_passages`' code, over an empty store) and the cut
    join — re-deriving it from the raw text would be a second full
    narrow pass over the corpus at 100 TB."""
    tdf = _tokenized(df, text_col, id_col)
    if persist_grams:
        tdf = tdf.persist()
    marked = _marked_windows(tdf, None, k, min_docs, persist_grams)
    spans = _spans_from_marked(marked, k)
    per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    base = tdf
    empty = F.array().cast(
        "array<struct<span_start:bigint,span_end:bigint>>"
    )
    joined = base.join(per_doc, on="id", how="left").select(
        "id", "toks", F.coalesce("spans", empty).alias("spans")
    )
    kept = F.filter(
        F.col("toks"),
        lambda _x, i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.withColumn("kept", kept).select(
        "id",
        F.array_join("kept", " ").alias("clean_text"),
        F.size("toks").cast("bigint").alias("n_tokens_in"),
        F.size("kept").cast("bigint").alias("n_tokens_kept"),
    )


def incremental_components(
    new_ids: DataFrame,
    new_pairs: DataFrame,
    committed_labels: DataFrame | None = None,
    max_iter: int = 25,
    checkpoint_mode: str = "auto",
) -> DataFrame:
    """Cross-run incremental CONNECTED COMPONENTS: label a delta's
    documents against a committed cluster store without ever re-running
    components over the committed corpus — the step after
    :func:`incremental_minhash_pairs` that keeps CLUSTER state (not just
    pair lists) maintainable across 100 TB ingest runs.

    Inputs: ``new_ids`` ``(id)`` — the delta's documents;``new_pairs``
    ``(id_a, id_b)`` — near-dup pairs TOUCHING the delta (new × new ∪
    new × committed, exactly what the incremental pair generator emits);
    ``committed_labels`` ``(id, cluster_id)`` — the store (None = first
    run).  Precondition: delta ids are disjoint from committed ids.

    Output, one DataFrame: ``(id, cluster_id, role)`` where

    - ``role='delta'`` — one row per NEW id with its final label;
    - ``role='merge'`` — a rename record: OLD committed cluster label
      ``id`` must become ``cluster_id`` (a new doc bridged two committed
      clusters, or carried a smaller id than a committed rep).  Relabel
      the store's ``cluster_id`` through these (one join — within a
      single run the rename map is already final, no chains) and append
      the delta rows to commit the run.

    Equivalence: committed labels encode committed-internal connectivity
    exactly (member—rep edges span the same components the committed
    pairs did), so resolved-store ∪ delta labels equals the one-shot
    components over ALL documents — the ``dedup_clusters_incremental``
    contract oracle replays the full-corpus recursive closure against
    this composition.

    Shape for 100 TB: the committed store contributes ONE semi-join of
    its label rows against the pair endpoints (touched members only) —
    the components loop then runs on delta ids + touched members + their
    reps, a graph proportional to the DELTA's connectivity, never to the
    store.  Labels of untouched committed docs are never read past the
    semi-join, never shuffled, never relabeled."""
    pairs = new_pairs.select("id_a", "id_b")
    if committed_labels is None:
        labels = connected_components(
            new_ids.select("id"), pairs, max_iter, checkpoint_mode
        )
        return labels.select(
            "id", "cluster_id", F.lit("delta").alias("role")
        )
    endpoints = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    touched = committed_labels.join(endpoints, on="id", how="leftsemi")
    # member—rep edges pull each touched committed component's identity
    # into the graph through its rep node (self-edges where member == rep
    # are dropped; they relay nothing)
    rep_edges = touched.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    edges = pairs.unionByName(rep_edges)
    nodes = (
        new_ids.select("id")
        .unionByName(touched.select("id"))
        .unionByName(touched.select(F.col("cluster_id").alias("id")))
        .distinct()
    )
    labels = connected_components(nodes, edges, max_iter, checkpoint_mode)
    delta = labels.join(new_ids.select("id"), on="id", how="leftsemi")
    reps = touched.select(F.col("cluster_id").alias("id")).distinct()
    merges = labels.join(reps, on="id", how="leftsemi").filter(
        F.col("cluster_id") != F.col("id")
    )
    return delta.select(
        "id", "cluster_id", F.lit("delta").alias("role")
    ).unionByName(
        merges.select("id", "cluster_id", F.lit("merge").alias("role"))
    )


def resolve_labels(
    committed_labels: DataFrame, merges: DataFrame
) -> DataFrame:
    """Apply one run's merge records ``(id=old_label, cluster_id=new)``
    to a committed label store: one broadcast-sized join (merge sets are
    per-run small — bounded by the delta's connectivity).  Within a run
    the rename map is final (components converged), so a single hop
    resolves; stores accumulating MULTIPLE runs' merges should resolve
    run-by-run or collapse the chain with one
    :func:`connected_components` over the merge edges."""
    m = merges.select(
        F.col("id").alias("_old"), F.col("cluster_id").alias("_new")
    )
    return (
        committed_labels.join(
            m, committed_labels["cluster_id"] == m["_old"], "left"
        )
        .select(
            committed_labels["id"],
            F.coalesce(F.col("_new"), committed_labels["cluster_id"])
            .alias("cluster_id"),
        )
    )


def current_store_labels(committed: DataFrame) -> DataFrame:
    """CURRENT cluster label per committed doc: stored ``role='doc'``
    labels with every accumulated ``role='merge'`` record applied.

    Renames always point to a smaller label, so across runs the rename
    graph's min-reachable label IS the final one — one
    :func:`connected_components` over the (few) merge rows collapses any
    chain; no merge rows means the stored labels are already current.

    This is the signature store's canonical read path, shared by the
    incremental dedup job (``jobs/run_dedup_incremental.py``) and store
    compaction (``jobs/compact_store.py --mode signatures``); it lives in
    the library (not a ``jobs/`` entry point) because ``--py-files``
    deployments ship only the ``ocr_spark`` package.
    """
    docs = committed.filter("role = 'doc'").select("id", "cluster_id")
    merges = committed.filter("role = 'merge'").select("id", "cluster_id")
    if merges.isEmpty():
        return docs
    nodes = (
        merges.select("id")
        .unionByName(merges.select(F.col("cluster_id").alias("id")))
        .distinct()
    )
    final = connected_components(
        nodes,
        merges.select(
            F.col("id").alias("id_a"), F.col("cluster_id").alias("id_b")
        ),
    )
    return resolve_labels(docs, final)


def incremental_signature_delta(
    docs: DataFrame,
    committed: DataFrame | None,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """ONE delta batch against the committed signature store — the
    compute core of ``ocr_spark.ingest._signature_commit``, which both
    the batch job (``jobs/run_dedup_incremental.py``) and the streaming
    wrapper (:func:`ocr_spark.ingest.neardup_ingest_batch`) commit
    through: exact pass, near-dup pass over the exact survivors,
    incremental cluster maintenance, and the store rows whose append
    commits the run.

    ``committed`` is the full signatures table (``role`` doc+merge) or
    None for a virgin store.  Returns persisted DataFrames
    ``{"exact", "sketches", "pairs", "clusters", "store_rows"}`` — the
    caller owns the writes, the store append, and the final
    ``unpersist()`` of the first four.

    Raises ``ValueError`` when the delta's ids overlap committed ids —
    the precondition the whole incremental family rests on (a retried
    range after a successful commit must be refused, or digests/sketches
    double-commit and cluster labels corrupt; idempotent retries go
    through the append's ``tag`` instead).
    """
    committed_doc_rows = (
        committed.filter("role = 'doc'") if committed is not None else None
    )
    if committed_doc_rows is not None:
        # store-side id aliased to a private name: an unqualified id
        # would be AMBIGUOUS whenever the delta carries its own 'id'
        overlap = (
            docs.join(
                committed_doc_rows.select(F.col("id").alias("_store_id")),
                docs[id_col] == F.col("_store_id"),
                "leftsemi",
            )
            .agg(F.count(F.lit(1)), F.min(id_col), F.max(id_col))
            .first()
        )
        raise_on_id_overlap(
            *overlap, "delta doc ids",
            "each run must submit a disjoint id range — the store append "
            "is the commit point, so a retried range means the prior run "
            "committed and this submission would double-count it",
        )
    committed_digests = (
        committed_doc_rows.select("id", "digest")
        if committed_doc_rows is not None else None
    )
    committed_sketches = (
        committed_doc_rows.select("id", "sh", "sig")
        if committed_doc_rows is not None else None
    )
    committed_labels = (
        current_store_labels(committed) if committed is not None else None
    )

    exact = exact_duplicates_incremental(
        exact_digests(docs, text_col, id_col), committed_digests
    ).persist()
    kept_ids = exact.filter("kept").select("id")

    # near-dup over the exact survivors only (byte-identical docs must
    # never reach the band join)
    survivors = docs.join(
        kept_ids, docs[id_col] == kept_ids["id"], "leftsemi"
    )
    sketches = minhash_sketches(survivors, text_col, id_col)
    pairs = incremental_minhash_pairs(
        sketches, committed_sketches, verify_threshold=threshold
    ).persist()
    clusters = incremental_components(
        kept_ids, pairs.select("id_a", "id_b"), committed_labels
    ).persist()

    doc_rows = (
        exact.filter("kept").select("id", "digest")
        .join(sketches, on="id")
        .join(
            clusters.filter("role = 'delta'").select("id", "cluster_id"),
            on="id",
        )
        .withColumn("role", F.lit("doc"))
    )
    merge_rows = clusters.filter("role = 'merge'").select(
        "id",
        F.lit(None).cast("string").alias("digest"),
        F.lit(None).cast("array<bigint>").alias("sh"),
        F.lit(None).cast("array<bigint>").alias("sig"),
        "cluster_id",
        F.lit("merge").alias("role"),
    )
    store_rows = doc_rows.select(
        "id", "digest", "sh", "sig", "cluster_id", "role"
    ).unionByName(merge_rows)
    return {
        "exact": exact,
        "sketches": sketches,
        "pairs": pairs,
        "clusters": clusters,
        "store_rows": store_rows,
    }
