"""Unit tests for the corpus-curation operators (dedup, similarity,
textstats) against plain-Python reference computations on small inputs."""

from __future__ import annotations

import hashlib
import re
import math

import pytest
from pyspark.sql import functions as F

from ocr_spark import textstats as ts
from ocr_spark.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash16,
    simhash_pairs,
)
from ocr_spark.similarity import brute_force_topk, hyperplanes, lsh_ann_pairs


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


# ----------------------------------------------------------------- dedup

def test_exact_duplicates_normalizes_whitespace(spark):
    df = _df(spark, [
        (1, "hello  world"), (2, "Hello world"), (3, "hello world "),
        (4, "unrelated doc"),
    ], "doc_id bigint, text string")
    got = {r.canonical_id: r.n_docs for r in exact_duplicates(df).collect()}
    # 1 and 3 normalize to 'hello world'; 2 differs by case (norm lowers: all 3)
    assert got == {1: 3}


def test_shingles_short_and_exact(spark):
    df = _df(spark, [(1, "a b c d"), (2, "a b")], "id bigint, t string")
    out = df.select(
        "id", shingles(ts.tokens(F.col("t"))).alias("sh")
    ).collect()
    by_id = {r.id: r.sh for r in out}
    assert by_id[1] == ["a b c", "b c d"]
    assert by_id[2] == []


def test_ngram_jaccard_identical_and_disjoint(spark):
    df = _df(spark, [
        (1, "w x y z q r s t", "b0"),
        (2, "w x y z q r s t", "b0"),
        (3, "aa bb cc dd ee ff", "b0"),
    ], "doc_id bigint, text string, lang string")
    pairs = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(
            df, bucket_col=F.col("lang"), threshold=0.0
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 0.0


def test_minhash_lsh_finds_identical_docs(spark):
    text = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"zzz{i}" for i in range(30))
    df = _df(spark, [(1, text), (2, text), (3, other)],
             "doc_id bigint, text string")
    pairs = minhash_lsh_pairs(df, verify_threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.jaccard_sim) for r in pairs] == [(1, 2, 1.0)]


def test_simhash_votes_match_python(spark):
    toks = ["alpha", "beta", "gamma"]
    expected = 0
    hashes = [_py_hash60(t) for t in toks]
    for b in range(16):
        vote = sum(1 if h & (1 << b) else -1 for h in hashes)
        if vote > 0:
            expected |= 1 << b
    df = _df(spark, [(1, " ".join(toks))], "id bigint, t string")
    got = df.select(simhash16(ts.tokens(F.col("t"))).alias("s")).collect()
    assert got[0].s == expected


def test_shingleless_docs_never_band_or_pair(spark):
    """Degenerate-document discipline across both near-dup families.

    Docs with fewer than shingle_n tokens have an EMPTY shingle set:
    minhash gives them all the SAME sentinel signature (one quadratic
    band bucket at scale whose pairs the Jaccard verify then discards),
    and simhash folds them all to sig 0, which the signature-only
    hamming verify would report as 0 — unrelated texts as duplicates.
    Both families must exclude them from candidate generation while the
    cluster operator still emits every doc (singletons)."""
    from ocr_spark.dedup import (
        band_table,
        dedup_clusters,
        minhash_sketches,
        simhash_pairs,
    )

    long_a = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, long_a), (2, long_a),          # the one true near-dup pair
        (3, "hello world"), (4, "totally different"), (5, "x"),
        (6, ""), (7, None),                # all shingle-less
    ]
    df = _df(spark, rows, "doc_id bigint, text string")

    # minhash: no band rows for shingle-less docs (the scale point) ...
    banded_ids = {
        r.id for r in band_table(minhash_sketches(df)).select("id")
        .distinct().collect()
    }
    assert banded_ids == {1, 2}
    # ... and only the true pair is emitted
    pairs = minhash_lsh_pairs(df, verify_threshold=0.3).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]

    # simhash: the old sig-0 path paired (3,4), (3,5), (4,5), ... at
    # hamming 0; now feature-less docs never enter the sketch table
    got = {(r.id_a, r.id_b) for r in simhash_pairs(df).collect()}
    assert got == {(1, 2)}

    # clusters still cover EVERY doc — shingle-less ones as singletons
    labels = {r.id: r for r in dedup_clusters(df).collect()}
    assert set(labels) == {1, 2, 3, 4, 5, 6, 7}
    assert labels[2].cluster_id == 1 and not labels[2].is_canonical
    assert all(
        labels[i].is_canonical and labels[i].cluster_id == i
        for i in (3, 4, 5, 6, 7)
    )


def test_simhash_pairs_identical_docs(spark):
    df = _df(spark, [(1, "p q r s"), (2, "p q r s"), (3, "completely different words here")],
             "doc_id bigint, text string")
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df).collect()}
    assert got.get((1, 2)) == 0


def test_simhash_pairs_full_recall_vs_brute_force(spark):
    """The block-permutation scheme (max_hamming+1 blocks) must recover
    EVERY pair within the hamming budget — including pairs whose differing
    bits straddle several blocks — exactly matching an all-pairs check."""
    texts = [
        " ".join(f"w{i}" for i in range(20)),                      # base
        " ".join(f"w{i}" for i in range(19)) + " z0",              # ~near
        " ".join(f"w{i}" for i in range(18)) + " z0 z1",           # ~near
        " ".join(f"v{i}" for i in range(20)),                      # far
        " ".join(f"w{i}" for i in range(20)),                      # exact dup
    ]
    df = _df(spark, list(enumerate(texts)), "doc_id bigint, text string")
    from ocr_spark.dedup import shingle_hashes, simhash_from_features
    from ocr_spark import textstats as ts

    feats = shingle_hashes(ts.tokens(F.col("text")))
    sig_df = simhash_from_features(
        df.select(F.col("doc_id").alias("id"), feats.alias("f")),
        F.col("f"),
    )
    sigs = {r.id: r.sig for r in sig_df.collect()}
    for h in (3, 7):
        expected = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a in sigs for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= h
        }
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(df, max_hamming=h).collect()
        }
        assert got == expected, (h, got, expected)


def test_simhash_block_widths_partition_signature():
    from ocr_spark.dedup import simhash_block_widths

    for bits, blocks in [(60, 4), (60, 8), (16, 4), (7, 3)]:
        spans = simhash_block_widths(bits, blocks)
        assert len(spans) == blocks
        assert sum(w for _, w in spans) == bits
        covered = [s for s, w in spans for s in range(s, s + w)]
        assert covered == list(range(bits))  # contiguous, disjoint, complete


def test_ngram_bucket_cap_bounds_hot_buckets(spark):
    """Boilerplate-heavy corpus: 50% of docs share a long boilerplate
    phrase whose shingles dominate the min-hash, funnelling them into ONE
    blocking bucket.  The cap must split that bucket into sub-buckets of
    ≤ cap docs (bounding the self-join at cap²/2 pairs per sub-bucket)
    while still pairing docs inside a sub-bucket."""
    boiler = " ".join(f"b{i}" for i in range(20))
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, boiler + f" unique{i}"))
        else:
            rows.append((i, " ".join(f"x{i}_{j}" for j in range(10))))
    df = _df(spark, rows, "doc_id bigint, text string")

    from ocr_spark.dedup import shingle_hashes
    from ocr_spark import textstats as ts

    cap = 5
    pairs = ngram_jaccard_pairs(
        df, threshold=0.5, bucket_cap=cap
    ).collect()
    # boilerplate docs share 18/21-ish shingles pairwise → J ≈ 0.8 ≥ 0.5;
    # with 20 such docs in ≤5-doc sub-buckets the pair count per sub-bucket
    # is capped at C(5,2)=10 — assert the cap held AND pairs were found.
    assert len(pairs) > 0
    boiler_ids = {i for i in range(40) if i % 2 == 0}
    assert all(r.id_a in boiler_ids and r.id_b in boiler_ids for r in pairs)
    # every pair is within one sub-bucket of ≤ cap consecutive bucket
    # members → no pair spans ≥ cap intervening boiler docs
    max_pairs_if_capped = (len(boiler_ids) // cap) * (cap * (cap - 1) // 2)
    assert len(pairs) <= max_pairs_if_capped


def test_stratified_sample_deterministic_and_proportional(spark):
    """Hash-mod sampling: membership is a pure function of (salt, id) —
    identical across repartitionings — and per-stratum keep rates land
    near the requested fractions on a large-ish input."""
    from ocr_spark.assembly import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "es") for i in range(4000)]
    df = _df(spark, rows, "doc_id bigint, lang string")
    fr = {"en": 0.5, "es": 0.1}

    kept1 = {r.doc_id for r in stratified_sample(df, fr).collect()}
    kept2 = {
        r.doc_id
        for r in stratified_sample(df.repartition(13), fr).collect()
    }
    assert kept1 == kept2  # partitioning-independent

    en = sum(1 for i in kept1 if i % 2 == 0) / 2000
    es = sum(1 for i in kept1 if i % 2 == 1) / 2000
    assert abs(en - 0.5) < 0.05 and abs(es - 0.1) < 0.03

    # default_fraction=0 drops unknown strata entirely
    df2 = _df(spark, [(1, "zz")], "doc_id bigint, lang string")
    assert stratified_sample(df2, fr).count() == 0

    # different salt → different (still deterministic) subset
    kept3 = {
        r.doc_id for r in stratified_sample(df, fr, salt="v2").collect()
    }
    assert kept3 != kept1


def test_pack_sequences_invariants(spark):
    """Greedy next-fit: every closed (shard, bin)'s total lies within
    one document of the token target (boundaries land within one doc of
    each target multiple); cum_tokens is the in-shard running total in
    doc_id order; every doc is assigned exactly once."""
    from ocr_spark.assembly import pack_sequences

    rows = [(i, " ".join(f"t{j}" for j in (range(5 + i % 20))))
            for i in range(300)]
    df = _df(spark, rows, "doc_id bigint, text string")
    target = 100
    got = pack_sequences(df, target_tokens=target, n_shards=4).collect()
    assert len(got) == 300 and len({r.doc_id for r in got}) == 300

    by_shard: dict[int, list] = {}
    for r in got:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r.doc_id)
        run = 0
        for r in members:
            run += r.n_tokens
            assert r.cum_tokens == run
            # bin = tokens before this doc // target
            assert r.bin == (r.cum_tokens - r.n_tokens) // target
        bins: dict[int, int] = {}
        for r in members:
            bins[r.bin] = bins.get(r.bin, 0) + r.n_tokens
        max_doc = max(r.n_tokens for r in members)
        last = max(bins)
        for b, tot in bins.items():
            if b != last:
                assert tot >= target - max_doc  # within one doc of target
            assert tot <= target + max_doc      # overshoot ≤ one doc


def test_repetition_stats_known_values(spark):
    """Gopher repetition signals vs hand-computed truth: a stuffed doc is
    flagged, a varied doc is not, degenerate docs get zeros.
    ``min_tokens=0`` disables the length floor so the raw thresholds are
    what is under test here (the floor itself is tested below)."""
    docs = _df(spark, [
        (1, "spam spam spam spam eggs"),                    # top=4/5
        (2, "a b c d e f g h i j"),                          # all unique
        (3, "x y x y x y x y"),                              # dup 2/3-grams
        (4, ""),                                             # empty
        (5, "solo"),                                         # 1 token
    ], "doc_id bigint, text string")
    got = {
        r.doc_id: r
        for r in ts.repetition_stats(docs, min_tokens=0).collect()
    }

    assert got[1].n_tokens == 5
    assert got[1].top_token_frac == 0.8 and got[1].repetitive
    # "spam spam" appears 3× among 4 bigrams → distinct 2/4 → dup 0.5
    assert got[1].dup_2gram_frac == 0.5

    assert got[2].top_token_frac == 0.1
    assert got[2].dup_2gram_frac == 0.0 and not got[2].repetitive

    # 7 bigrams, 2 distinct → 1 - 2/7 = 0.7142...; 6 trigrams, 2 distinct
    assert got[3].dup_2gram_frac == 0.7142
    assert got[3].dup_3gram_frac == 0.6666 and got[3].repetitive

    assert got[4].n_tokens == 0 and got[4].top_token_frac == 0.0
    assert not got[4].repetitive
    assert got[5].top_token_frac == 1.0 and got[5].dup_2gram_frac == 0.0
    assert got[5].repetitive  # single-token doc: 100% one token


def test_repetition_min_tokens_floor(spark):
    """The Gopher-style minimum-length guard: repetition thresholds apply
    only at ``n_tokens >= min_tokens`` — a short all-distinct doc (whose
    top_token_frac is degenerately high) must NOT be flagged under the
    default floor, while a long stuffed doc still is."""
    long_spam = " ".join(["spam"] * 40 + ["eggs"] * 12)     # 52 toks, ttf≈.77
    docs = _df(spark, [
        (1, "one two three four"),    # 4 distinct tokens → ttf 0.25
        (2, "spam spam spam eggs"),   # short AND stuffed
        (3, long_spam),               # ≥ 50 tokens, stuffed
    ], "doc_id bigint, text string")
    got = {r.doc_id: r for r in ts.repetition_stats(docs).collect()}
    assert not got[1].repetitive      # degenerate short doc survives
    assert not got[2].repetitive      # below the floor, even if stuffed
    assert got[3].repetitive          # the floor does not mask real spam
    # the floor only gates the verdict — the raw signals stay reported
    assert got[2].top_token_frac == 0.75


def test_shingle_hash_fast_mode_removed_loudly(spark):
    """hash_mode was removed from the WHOLE dedup family after A/B
    measurement showed 'fast' indistinguishable from portable (dedup.py
    module docstring) — the clean break: every former call site rejects
    the kwarg uniformly (TypeError), including 'portable' itself, rather
    than one API raising and another silently accepting."""
    from ocr_spark.dedup import minhash_lsh_pairs, shingle_hashes
    from ocr_spark.textstats import tokens

    for mode in ("fast", "portable"):
        with pytest.raises(TypeError):
            shingle_hashes(tokens(F.lit("a b c d")), 3, hash_mode=mode)
        with pytest.raises(TypeError):
            minhash_lsh_pairs(None, hash_mode=mode)


# ------------------------------------------------------------- similarity

def test_brute_force_topk_matches_numpy_order(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = _df(spark, vecs, "vec_id bigint, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    got = [
        (r.neighbor_id, r.cosine_sim)
        for r in brute_force_topk(df, q, k=2).collect()
    ]
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(x * x for x in b)))
    assert [n for n, _ in got] == [1, 2]
    assert abs(got[0][1] - cos(vecs[0][1], vecs[1][1])) < 1e-6


def test_lsh_ann_identical_vectors_pair_up(spark):
    v = [0.5] * 8 + [-0.25] * 8
    w = [9.0] + [0.0] * 15
    df = _df(spark, [(1, v), (2, v), (3, w)],
             "vec_id bigint, embedding array<float>")
    planes = hyperplanes(4, dims=16)
    got = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in lsh_ann_pairs(df, planes=planes, min_cosine=0.99).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.999999


def test_zero_vectors_never_bucket_at_positive_threshold(spark):
    """Zero-norm vectors (token-less docs under embed_hash) all share
    the all-zero LSH bucket and every pair they form is FORCED to
    cosine 0.0 — unverifiable at any positive min_cosine, so they are
    excluded from bucketing (quadratic straggler bucket at scale).  At
    min_cosine ≤ 0 a 0.0 pair legitimately passes, so there they still
    bucket."""
    v = [0.5] * 8 + [-0.25] * 8
    z = [0.0] * 16
    df = _df(spark, [(1, v), (2, v), (3, z), (4, z), (5, z)],
             "vec_id bigint, embedding array<float>")
    planes = hyperplanes(4, dims=16)
    got = {
        (r.id_a, r.id_b)
        for r in lsh_ann_pairs(df, planes=planes, min_cosine=0.5).collect()
    }
    assert got == {(1, 2)}
    # several tables: same exclusion
    got_mt = {
        (r.id_a, r.id_b)
        for r in lsh_ann_pairs(
            df, n_tables=2, dims=16, min_cosine=0.5
        ).collect()
    }
    assert (1, 2) in got_mt
    assert not any(3 in p or 4 in p or 5 in p for p in got_mt)
    # degenerate min_cosine=0: zero pairs pass the verify, so they bucket
    got0 = {
        (r.id_a, r.id_b)
        for r in lsh_ann_pairs(df, planes=planes, min_cosine=0.0).collect()
    }
    assert {(3, 4), (3, 5), (4, 5)} <= got0


def test_ivf_trainer_rejects_width_mismatch_skips_null(spark):
    """The trainer's sums never read a norm, so its width guard rides a
    filter: a mis-width vector must raise (it would silently skew every
    centroid), while NULL vectors are missing data — skipped, and the
    trained quantizer must be identical to training without them."""
    import pytest
    from ocr_spark.similarity import ivf_train_kmeans

    good = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)])
            for i in range(20)]
    clean = _df(spark, good, "vec_id bigint, embedding array<float>")
    with_null = _df(spark, good + [(98, None)],
                    "vec_id bigint, embedding array<float>")
    c1 = ivf_train_kmeans(clean, n_cells=4, n_iters=2, dims=8)
    c2 = ivf_train_kmeans(with_null, n_cells=4, n_iters=2, dims=8)
    assert c1 == c2  # NULL vector contributed nothing

    bad = _df(spark, good + [(99, [1.0, 2.0])],
              "vec_id bigint, embedding array<float>")
    with pytest.raises(Exception, match="width"):
        ivf_train_kmeans(bad, n_cells=4, n_iters=1, dims=8)


# -------------------------------------------------------------- textstats

def test_langid_stopword_votes(spark):
    df = _df(spark, [
        (1, "the cat and the dog"),
        (2, "el perro y la casa de los gatos"),
        (3, "xyzzy plugh"),
        (4, "de la le"),  # es:2 (de,la) fr:2 (de? no — fr set has de,le,la)
    ], "doc_id bigint, text string")
    got = {r.doc_id: r.p for r in df.select(
        "doc_id", ts.langid(F.col("text")).alias("p")).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "und"
    # 'de la le': es hits(de? not es... la:1, de:1 -> es has de? yes 'de')
    assert got[4] in ("es", "fr")  # tie broken deterministically
    # determinism: rerun gives identical result
    got2 = {r.doc_id: r.p for r in df.select(
        "doc_id", ts.langid(F.col("text")).alias("p")).collect()}
    assert got == got2


def test_token_counts_and_quality_bounds(spark):
    df = _df(spark, [
        (1, "one two three"), (2, ""), (3, "a,b.c!!!"),
    ], "doc_id bigint, text string")
    rows = {r.doc_id: r for r in df.select(
        "doc_id",
        ts.token_count(F.col("text")).alias("n"),
        ts.bpe_ish_token_count(F.col("text")).alias("b"),
        ts.quality_score(F.col("text")).alias("q"),
    ).collect()}
    assert rows[1].n == 3 and rows[1].b == 3
    assert rows[2].n == 0 and rows[2].b == 0 and rows[2].q == 0.3
    assert rows[3].b == 8  # a , b . c ! ! !
    assert all(0.0 <= r.q <= 1.0 for r in rows.values())


def test_fingerprint_is_whitespace_case_invariant(spark):
    df = _df(spark, [
        (1, "Hello   World"), (2, "hello world"),
    ], "doc_id bigint, text string")
    fps = [r.fp for r in df.select(
        ts.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_prefix_fingerprint_matches_python(spark):
    text = "Alpha beta gamma"
    df = _df(spark, [(1, text)], "doc_id bigint, text string")
    got = df.select(
        ts.prefix_fingerprint(F.col("text")).alias("h")).collect()[0].h
    assert got == _py_hash60("alpha beta gamma")


def test_winnow_fingerprints_match_python(spark):
    """Winnowing (k=5, w=4) against a direct Python implementation."""
    from ocr_spark.textstats import with_winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "abc",                # shorter than k → empty
        "abcdefg",            # grams but < w windows → empty
        "aaaaaaaaaaaaaaa",    # degenerate: identical grams
    ]
    df = _df(spark, list(enumerate(texts)), "doc_id bigint, text string")
    got = {
        r.doc_id: sorted(r.winnow)
        for r in with_winnow_fingerprints(df).collect()
    }

    def py_winnow(text, k=5, w=4):
        t = re.sub(r"\s+", " ", text.strip()).lower()
        grams = [_py_hash60(t[i:i + k]) for i in range(len(t) - k + 1)]
        if len(grams) < w:
            return []
        sel = [min(grams[j:j + w]) for j in range(len(grams) - w + 1)]
        out = []
        for h in sel:
            if h not in out:
                out.append(h)
        return sorted(out)

    for i, text in enumerate(texts):
        assert got[i] == py_winnow(text), (i, text)


def test_ivf_with_all_probes_equals_brute_force(spark):
    """Probing every cell must reproduce exact brute-force top-k; fewer
    probes trade recall for the pruned scan."""
    from ocr_spark.similarity import ivf_centroids, ivf_search

    rng_vecs = [
        (i, [((i * 7 + d * 13) % 21 - 10) / 10.0 for d in range(16)])
        for i in range(40)
    ]
    df = _df(spark, rng_vecs, "vec_id bigint, embedding array<float>")
    q = df.filter(F.col("vec_id") < 4)
    cents = ivf_centroids(8, dims=16)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(df, q, k=3).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_search(df, q, k=3, n_probes=8, centroids=cents).collect()
    }
    assert full == exact
    pruned = ivf_search(df, q, k=3, n_probes=2, centroids=cents).collect()
    assert {(r.query_id, r.neighbor_id) for r in pruned} <= set(
        (qid, n) for qid in range(4) for n in range(40)
    )
    assert all(len([r for r in pruned if r.query_id == qid]) <= 3
               for qid in range(4))


def test_ivf_kmeans_training_improves_quantizer(spark):
    """Spherical k-means must raise the corpus's mean best-cell cosine over
    the seeded random init, and the trained quantizer must keep the IVF
    invariant: probing every cell reproduces exact brute-force top-k."""
    from ocr_spark.similarity import (
        _cell_of, brute_force_topk, cosine, hyperplanes, ivf_search,
        ivf_train_kmeans,
    )

    # three well-separated direction clusters + jitter
    rows = []
    for i in range(60):
        base = [0.0] * 16
        base[i % 3] = 1.0
        base[(i % 3) + 4] = 0.5
        jitter = [((i * 13 + d * 7) % 11 - 5) / 60.0 for d in range(16)]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    df = _df(spark, rows, "vec_id bigint, embedding array<float>")

    init = [
        v for v in hyperplanes(4, dims=16, seed="ivf")
    ]
    trained = ivf_train_kmeans(df, n_cells=4, n_iters=4, dims=16)

    def mean_best_cos(cents):
        import math

        normed = [
            [x / math.sqrt(sum(y * y for y in c)) for x in c] for c in cents
        ]
        scored = df.select(
            F.greatest(*[
                cosine(F.col("embedding"),
                       F.array(*[F.lit(v) for v in c])).alias(f"c{i}")
                for i, c in enumerate(normed)
            ]).alias("best")
        )
        return scored.agg(F.avg("best")).collect()[0][0]

    assert mean_best_cos(trained) > mean_best_cos(init) + 0.05

    q = df.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(df, q, k=3).collect()}
    full = {(r.query_id, r.neighbor_id)
            for r in ivf_search(df, q, k=3, n_probes=4,
                                centroids=trained).collect()}
    assert full == exact


def test_ivf_training_bit_matches_python_twin(spark):
    """Spark k-means training and the trained-probe search must reproduce
    the plain-Python twin BIT-FOR-BIT: centroid sums are exact integers
    (order-independent) and every float op is the same IEEE double op, so
    equality here is ==, not approx.  This is the determinism the
    precomputed-truth oracle for `ann_ivf_trained` stands on — and it must
    hold across partitionings (checked at 1 and 7 partitions)."""
    from ocr_spark.similarity import ivf_search, ivf_train_kmeans
    from tests.oracle_ivf import ivf_topk_local, ivf_train_local

    rows = [
        (i, [((i * 37 + d * 101) % 97 - 48) / 48.0 for d in range(16)])
        for i in range(50)
    ]
    df = _df(spark, rows, "vec_id bigint, embedding array<float>")
    # float32 round-trip: the twin must see the values Spark sees
    vecs32 = {
        r.vec_id: [float(x) for x in r.embedding] for r in df.collect()
    }
    local_cents = ivf_train_local(
        [vecs32[i] for i in sorted(vecs32)], n_cells=4, n_iters=3, dims=16
    )
    for parts in (1, 7):
        spark_cents = ivf_train_kmeans(
            df.repartition(parts), n_cells=4, n_iters=3, dims=16
        )
        assert spark_cents == local_cents

    got = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in ivf_search(
            df, df.filter(F.col("vec_id") < 3), k=3, n_probes=2,
            centroids=local_cents,
        ).collect()
    )
    want = sorted(
        ivf_topk_local(vecs32, [0, 1, 2], local_cents, k=3, n_probes=2)
    )
    assert got == want


@pytest.mark.parametrize("algorithm", ["minlabel"])
def test_connected_components_topologies(spark, algorithm):
    """Min-label vs known components: a 6-node chain (needs diameter
    iterations), a triangle, an isolated pair, and singletons."""
    from ocr_spark.dedup import connected_components

    edges = _df(spark, [
        # chain 10-11-12-13-14-15 (edges listed high-to-low to stress
        # propagation direction)
        (14, 15), (13, 14), (12, 13), (11, 12), (10, 11),
        # triangle 20-21-22
        (20, 21), (21, 22), (20, 22),
        # pair
        (30, 31),
    ], "id_a bigint, id_b bigint")
    nodes = _df(spark, [(i,) for i in
                        [10, 11, 12, 13, 14, 15, 20, 21, 22, 30, 31, 40, 41]],
                "id bigint")
    got = {r.id: r.cluster_id
           for r in connected_components(nodes, edges).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
                   20: 20, 21: 20, 22: 20, 30: 30, 31: 30, 40: 40, 41: 41}


@pytest.mark.parametrize("algorithm", ["minlabel"])
def test_connected_components_ignore_foreign_edge_endpoints(
    spark, algorithm
):
    """Edges mentioning ids absent from ``nodes`` must not relabel (or
    bridge) the node set, and cluster_id must always be a node's id —
    min-label ignores foreign endpoints structurally."""
    from ocr_spark.dedup import connected_components

    edges = _df(spark, [
        (1, 2),   # 1 is foreign: must not become 2's label
        (2, 3),   # real edge inside the node set
        (1, 5),   # foreign 1 must not bridge {2,3} with {5}
    ], "id_a bigint, id_b bigint")
    nodes = _df(spark, [(2,), (3,), (5,)], "id bigint")
    got = {r.id: r.cluster_id
           for r in connected_components(nodes, edges).collect()}
    assert got == {2: 2, 3: 2, 5: 5}


@pytest.mark.parametrize("algorithm", ["minlabel"])
def test_connected_components_random_graph_vs_union_find(spark, algorithm):
    """Differential check on a seeded random graph vs a plain-Python
    union-find twin: arbitrary topology (not the hand-picked chains/
    triangles above), with duplicate edges, both orientations, self-loops,
    and foreign endpoints all mixed in.  Min-label must produce exactly
    the union-find labels (component minimum), restricted to the node set
    with one-foreign-endpoint edges ignored."""
    import random

    from ocr_spark.dedup import connected_components

    rng = random.Random(20260819)
    node_ids = [i for i in range(120) if i % 10 != 7]  # %10==7 → foreign
    edge_rows = []
    for _ in range(160):
        a = rng.randrange(130)  # ids ≥ 120 and %10==7 are foreign
        b = rng.randrange(130)
        edge_rows.append((a, b))
        if rng.random() < 0.2:
            edge_rows.append((b, a))  # reversed duplicate
    edge_rows += [(5, 5), (11, 11)]  # self-loops must be inert

    parent = {i: i for i in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    in_nodes = set(node_ids)
    for a, b in edge_rows:
        if a in in_nodes and b in in_nodes:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    comp_min: dict = {}
    for i in node_ids:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    want = {i: comp_min[find(i)] for i in node_ids}

    got = {r.id: r.cluster_id
           for r in connected_components(
               _df(spark, [(i,) for i in node_ids], "id bigint"),
               _df(spark, edge_rows, "id_a bigint, id_b bigint"),
               max_iter=60,
           ).collect()}
    assert got == want


def test_band_table_rejects_mismatched_sig_width(spark):
    """A persisted sketch store written with a different k must fail
    loudly in band_table, not null-pad bands and silently lose recall."""
    from ocr_spark.dedup import band_table, minhash_sketches

    docs = _df(spark, [(1, "a b c d"), (2, "a b c e")],
               "doc_id bigint, text string")
    narrow = minhash_sketches(docs, k=64)
    with pytest.raises(Exception, match="sig width"):
        band_table(narrow, k=128).collect()


def test_minlabel_chain_fails_fast_naming_max_iter(spark):
    """Min-label's round count IS the component diameter: a 2,000-node
    path graph cannot converge inside a 25-round budget, so it must
    raise (not return multi-label components), and the error must name
    the fix — raising ``max_iter``."""
    from ocr_spark.dedup import connected_components

    n = 2000
    edges = _df(spark, [(i, i + 1) for i in range(n - 1)],
                "id_a bigint, id_b bigint")
    nodes = _df(spark, [(i,) for i in range(n)], "id bigint")

    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(nodes, edges, max_iter=25)


def test_minlabel_single_job_per_round(spark):
    """The convergence signal rides the round's own checkpoint job as an
    observed metric (Observation), not a separate compare-join probe:
    with AQE + broadcast off (one action = exactly one job), a triangle
    converging in 2 rounds must run exactly 3 jobs — 1 edge checkpoint +
    1 per round, nothing else."""
    from ocr_spark.dedup import connected_components

    sc = spark.sparkContext
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = _df(spark, [(1, 2), (1, 3), (2, 3)],
                    "id_a bigint, id_b bigint")
        nodes = _df(spark, [(1,), (2,), (3,)], "id bigint")
        sc.setJobGroup("cc-jobcount", "count jobs per round")
        connected_components(nodes, edges, checkpoint_mode="local")
        jobs = sc.statusTracker().getJobIdsForGroup("cc-jobcount")
        assert len(jobs) == 3, sorted(jobs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_connected_components_reliable_checkpoint(spark):
    """Cluster mode: with a checkpoint dir configured (conftest sets one
    session-wide), 'reliable' (and 'auto') must run on durable
    checkpoint() files instead of executor-local blocks and produce
    identical labels; a clique (diameter 1) converges within a 2-round
    budget."""
    import os

    from ocr_spark.dedup import connected_components

    ckpt_dir = spark.sparkContext.getCheckpointDir()
    assert ckpt_dir is not None  # conftest contract
    local_dir = ckpt_dir.removeprefix("file:")

    def n_ckpt_rdd_dirs() -> int:
        # getCheckpointDir already points inside the per-context uuid dir;
        # each reliable checkpoint materializes one rdd-N child
        return len([e for e in os.scandir(local_dir) if e.is_dir()])

    clique = [(a, b) for a in range(50, 56) for b in range(a + 1, 56)]
    edges = _df(spark, clique, "id_a bigint, id_b bigint")
    nodes = _df(spark, [(i,) for i in range(50, 57)], "id bigint")

    want = {i: 50 for i in range(50, 56)} | {56: 56}
    before = n_ckpt_rdd_dirs()
    for mode in ("reliable", "auto", "local"):
        got = {
            r.id: r.cluster_id
            for r in connected_components(
                nodes, edges, max_iter=2, checkpoint_mode=mode
            ).collect()
        }
        assert got == want, mode
    # THESE runs produced durable per-round files (not just some earlier
    # auto-mode test — the conftest checkpoint dir is session-shared):
    # reliable + auto = 2 runs × (edges + ≥2 label rounds) ≥ 6 new rdd dirs
    assert n_ckpt_rdd_dirs() >= before + 6

    with pytest.raises(ValueError, match="checkpoint_mode"):
        connected_components(nodes, edges, checkpoint_mode="bogus")


def test_dedup_clusters_leaves_no_cached_relation(spark):
    """dedup_clusters persists its MinHash sketch frame for the pair
    generator and must unpersist it once the components are labeled — a
    long session calling it repeatedly would otherwise pin one cache
    entry per call."""
    from ocr_spark.dedup import dedup_clusters

    docs = _df(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "an entirely different sentence about tax forms"),
    ], "doc_id bigint, text string")
    spark.catalog.clearCache()
    dedup_clusters(docs).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_clusters_canonical_per_component(spark):
    from ocr_spark.dedup import dedup_clusters

    text = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"zzz{i}" for i in range(30))
    df = _df(spark, [(1, text), (2, text), (3, other), (4, text)],
             "doc_id bigint, text string")
    rows = {r.id: (r.cluster_id, r.is_canonical)
            for r in dedup_clusters(df, verify_threshold=0.9).collect()}
    assert rows == {1: (1, True), 2: (1, False), 3: (3, True),
                    4: (1, False)}


def test_scrub_pii_replaces_each_kind(spark):
    raw = ("write to a.b+c@x-mail.co.uk or see "
           "https://ex.org/a?b=1 ring +1 (800) 555-0199 from 192.168.0.12 "
           "but keep version 1.2 and year 2024")
    df = _df(spark, [(1, raw)], "doc_id bigint, text string")
    row = df.select(
        ts.scrub_pii(F.col("text")).alias("s"), *ts.pii_counts(F.col("text"))
    ).collect()[0]
    assert "<EMAIL>" in row.s and "<URL>" in row.s
    assert "<PHONE>" in row.s and "<IP>" in row.s
    assert "a.b+c@x-mail.co.uk" not in row.s
    assert "version 1.2" in row.s and "year 2024" in row.s
    assert (row.email_n, row.url_n, row.phone_n, row.ipv4_n) == (1, 1, 1, 1)
    # None-safe
    df2 = _df(spark, [(2, None)], "doc_id bigint, text string")
    assert df2.select(ts.scrub_pii(F.col("text")).alias("s")) \
        .collect()[0].s == ""


def test_connected_components_raises_on_nonconvergence(spark):
    """Exhausting max_iter with labels still in flux must FAIL, not return
    silently-wrong multi-label components."""
    import pytest
    from ocr_spark.dedup import connected_components

    edges = _df(spark, [(i, i + 1) for i in range(10, 15)],
                "id_a bigint, id_b bigint")
    nodes = _df(spark, [(i,) for i in range(10, 16)], "id bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=2)


def test_lsh_multi_table_recall_superset(spark):
    """T independent tables must actually BUCKET (not degenerate to one
    global bucket — the dims-mismatch footgun), recover the exact-dup
    pair, verify every surfaced pair, beat single-table recall, and
    still prune (fewer pairs than the brute-force set at the threshold).
    The T-table pair set is exactly the union of the single-table runs
    over the per-table seeds, each pair once."""
    import math

    from ocr_spark.similarity import lsh_ann_pairs

    vecs = [
        (i, [((i * 37 + d * 101) % 97 - 48) / 48.0 for d in range(16)])
        for i in range(30)
    ]
    vecs.append((100, vecs[0][1]))  # exact dup of vec 0
    df = _df(spark, vecs, "vec_id bigint, embedding array<float>")

    # single table = the multi run's table 0 (same seed/planes), so the
    # multi candidate set is a guaranteed superset
    single = {
        (r.id_a, r.id_b)
        for r in lsh_ann_pairs(
            df, planes=hyperplanes(8, dims=16), min_cosine=0.2
        ).collect()
    }
    multi_rows = lsh_ann_pairs(
        df, min_cosine=0.2, n_tables=4, dims=16
    ).collect()
    multi = {(r.id_a, r.id_b): r.cosine_sim for r in multi_rows}
    assert len(multi) == len(multi_rows)  # a pair in k tables emits once
    per_table = set()
    for t in range(4):
        per_table |= {
            (r.id_a, r.id_b, r.cosine_sim)
            for r in lsh_ann_pairs(
                df,
                planes=hyperplanes(
                    8, dims=16, seed="lsh" if t == 0 else f"lsh/t{t}"
                ),
                min_cosine=0.2,
            ).collect()
        }
    assert {(a, b, c) for (a, b), c in multi.items()} == per_table
    assert (0, 100) in multi and multi[(0, 100)] >= 0.999999
    assert all(v >= 0.2 for v in multi.values())
    assert set(single) <= set(multi)  # table-0 superset guarantee

    # prove the bucketing is real: the multi-table candidate set prunes —
    # strictly fewer pairs than exhaustive cosine at the same threshold
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    by_id = dict(vecs)
    brute = {
        (a, b)
        for a in by_id for b in by_id
        if a < b and cos(by_id[a], by_id[b]) >= 0.2
    }
    assert set(multi) <= brute
    assert len(multi) < len(brute), "no pruning: bucketing degenerated"


def test_ngram_bucket_cap_recall_trade_measured(spark):
    """Measure the bucket_cap recall trade on a boilerplate-heavy corpus
    (a large fraction of docs share one min-shingle bucket): capped pairs
    must be a strict subset of uncapped, the per-bucket pair count must
    respect the ceil(h/cap) sub-bucket bound, and the measured recall
    lands where the sub-bucket arithmetic predicts (recorded in the
    ngram_jaccard_pairs docstring)."""
    from ocr_spark.dedup import ngram_jaccard_pairs

    # 120 near-identical docs (3-token boilerplate head + 25 shared filler
    # + 2 unique tokens) + 30 fully-unique docs
    shared = "boilerhead plateline headmark " + " ".join(
        f"fill{j}" for j in range(25)
    )
    rows = [(i, f"{shared} uniq{i}a uniq{i}b") for i in range(120)]
    rows += [
        (1000 + i, " ".join(f"cold{i}x{j}" for j in range(30)))
        for i in range(30)
    ]
    df = _df(spark, rows, "doc_id bigint, text string")

    def pairset(cap):
        return {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, threshold=0.3, bucket_cap=cap
            ).collect()
        }

    uncapped = pairset(None)
    capped = pairset(32)
    assert capped < uncapped  # strict subset: the cap really drops pairs
    assert len(uncapped) > 4000  # the hot bucket is genuinely quadratic

    # bound: pairs per bucket ≤ sum over sub-buckets of c_i·(c_i−1)/2
    h = 120  # upper bound on hot-bucket membership
    cap = 32
    full, rem = divmod(h, cap)
    bound = full * cap * (cap - 1) // 2 + rem * (rem - 1) // 2
    assert len(capped) <= bound

    recall = len(capped) / len(uncapped)
    # sub-bucket arithmetic for h docs in one bucket predicts ~bound/C(h,2)
    # ≈ 0.21; measured: 1698/6786 = 0.250 (a few scattered-min docs shrink
    # both sides).  Keep a loose band so corpus tweaks don't flap the
    # test, but tight enough to catch a broken cap (recall 1.0) or
    # over-splitting (recall ~0).
    assert 0.10 < recall < 0.60, recall


def test_decontaminate_flags_eval_overlap(spark):
    """Docs sharing ≥ min_overlap distinct n-grams with the eval set are
    contaminated; partial overlap below the threshold and disjoint docs
    are kept; n_eval_hit counts distinct eval members."""
    from ocr_spark.decontam import decontaminate

    docs = _df(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),   # = eval A
        (2, "quick brown fox sighted near the river bank today"),  # 1 gram
        (3, "completely unrelated text about spark shuffles here"),
        (4, "the quick brown fox jumps again and again today"),   # 2 grams
    ], "doc_id bigint, text string")
    eval_set = _df(spark, [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "jumps over the lazy dog every single morning"),
    ], "eval_id bigint, text string")

    got = {
        r.doc_id: (r.n_matched_grams, r.n_eval_hit, r.contaminated)
        for r in decontaminate(docs, eval_set, n=3, min_overlap=2).collect()
    }
    assert got[1][2] and got[1][0] >= 6 and got[1][1] == 2
    assert got[2] == (1, 1, False)   # below min_overlap
    assert got[3] == (0, 0, False)   # disjoint
    assert got[4][2] and got[4][1] == 1

    # min_overlap=1 flags the single-gram doc too
    got1 = {
        r.doc_id: r.contaminated
        for r in decontaminate(docs, eval_set, n=3, min_overlap=1).collect()
    }
    assert got1 == {1: True, 2: True, 3: False, 4: True}

    # Module DEFAULTS are decontamination-appropriate (8-gram, overlap≥2):
    # doc 1 shares only a 9-token sentence with eval A → two 8-grams →
    # still flagged; the one-trigram overlap of doc 2 no longer registers.
    got_def = {
        r.doc_id: (r.n_matched_grams, r.contaminated)
        for r in decontaminate(docs, eval_set).collect()
    }
    assert got_def[1] == (2, True)
    assert got_def[2] == (0, False)
    assert got_def[4][1] is False     # two trigrams ≠ any 8-gram


def test_lsh_dims_mismatch_fails_fast(spark):
    """A vector/plane width mismatch must raise at runtime, not silently
    degenerate every bucket to all-zero sign bits (one global bucket =
    all-pairs cross join at scale)."""
    from ocr_spark.similarity import lsh_ann_pairs

    df = _df(
        spark,
        [(1, [0.1] * 16), (2, [0.2] * 16)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(Exception, match="width"):
        lsh_ann_pairs(df, min_cosine=0.0, n_tables=2, dims=32).collect()
    with pytest.raises(Exception, match="width"):
        lsh_ann_pairs(
            df, planes=hyperplanes(4, dims=8), min_cosine=0.0
        ).collect()
    # declared wider than the vectors at a positive threshold: the
    # out-of-range reads must raise, not null every row out of the
    # zero-norm exclusion and return no pairs
    with pytest.raises(Exception, match="width"):
        lsh_ann_pairs(df, min_cosine=0.5, n_tables=2, dims=32).collect()
    with pytest.raises(Exception, match="width"):
        lsh_ann_pairs(
            df, planes=hyperplanes(4, dims=32), min_cosine=0.5
        ).collect()

    # a NULL embedding is a missing vector, not a width bug: it must NOT
    # trip the guard, and the row silently drops out of the bucket join
    withnull = _df(
        spark,
        [(1, [0.1] * 16), (2, [0.1] * 16), (3, None)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in lsh_ann_pairs(
            withnull, min_cosine=0.0, n_tables=2, dims=16
        ).collect()
    }
    assert got == {(1, 2)}


def test_merge_session_intervals_out_of_order():
    """Pure-function check of the stateful stream's merge: within-gap
    out-of-order events lower session_start; events earlier than the
    open session by more than the gap become their own earlier session."""
    from ocr_spark.streaming import merge_session_intervals

    open_sess = (1000.0, 1200.0, 3)
    # within-gap earlier event lowers the start
    got = merge_session_intervals([open_sess, (900.0, 900.0, 1)], 300.0)
    assert got == [(900.0, 1200.0, 4)]
    # beyond-gap earlier event forms its own (already-closed) session
    got = merge_session_intervals([open_sess, (100.0, 100.0, 1)], 300.0)
    assert got == [(100.0, 100.0, 1), (1000.0, 1200.0, 3)]
    # chain merge across three pieces
    got = merge_session_intervals(
        [(0.0, 0.0, 1), (250.0, 250.0, 1), (450.0, 450.0, 1)], 300.0
    )
    assert got == [(0.0, 450.0, 3)]
    assert merge_session_intervals([], 300.0) == []


def test_drop_frequent_lines_semantics(spark):
    """Universal boilerplate drops, half-corpus lines drop below the
    0.3 threshold, unique content survives in original order; a doc of
    only boilerplate keeps an empty (not null) line list."""
    from ocr_spark.dedup import drop_frequent_lines

    rows = []
    for i in range(10):
        lines = ["BOILER EVERYWHERE"]
        if i % 2 == 0:
            lines.append("HALF SHARED")
        lines += [f"unique {i} a", f"unique {i} b"]
        rows.append((i, lines))
    rows.append((99, ["BOILER EVERYWHERE"]))  # boilerplate-only doc
    rows.append((50, ["x one off line", None]))  # null line element
    rows.append((51, None))                      # null lines array
    df = _df(spark, rows, "doc_id bigint, lines array<string>")
    got = {r.id: (list(r.kept_lines), r.n_lines_in, r.n_lines_kept)
           for r in drop_frequent_lines(df, max_doc_frac=0.3).collect()}
    assert got[0] == (["unique 0 a", "unique 0 b"], 4, 2)
    assert got[1] == (["unique 1 a", "unique 1 b"], 3, 2)
    assert got[99] == ([], 1, 0)
    # nulls: element excluded from counts AND output; null array == empty
    assert got[50] == (["x one off line"], 1, 1)
    assert got[51] == ([], 0, 0)
    assert len(got) == 13


def test_embed_hash_matches_python_twin(spark):
    """embed_hash is a pure function of the text: a plain-Python twin of
    the signed-feature-hash arithmetic reproduces every vector EXACTLY
    (dimension sums are exact integers; the one float step is the final
    IEEE divide), vectors are unit-norm or exactly zero, and token-less /
    NULL docs get the zero vector rather than dropping out."""
    import math

    from ocr_spark.similarity import embed_hash
    from ocr_spark.textstats import py_portable_hash

    def twin(text: str, dims: int = 32) -> list[float]:
        s = [0] * dims
        for t in (text or "").split():
            h = py_portable_hash(t)
            s[h % dims] += 1 if (h >> 20) & 1 else -1
        n = math.sqrt(sum(x * x for x in s))
        return [0.0] * dims if n == 0 else [x / n for x in s]

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),                       # token-less → zero vector
        (3, "spam spam spam spam"),    # one token, multiplicity 4
        (4, None),                     # NULL text → zero vector
        (5, "palabras en español con acentos única"),
    ]
    docs = _df(spark, rows, "doc_id bigint, text string")
    got = {r.id: list(r.vec) for r in embed_hash(docs).collect()}

    assert sorted(got) == [1, 2, 3, 4, 5]
    for doc_id, text in rows:
        assert got[doc_id] == twin(text), doc_id
    for v in got.values():
        sq = sum(x * x for x in v)
        assert sq == 0.0 or abs(sq - 1.0) < 1e-12
    assert got[2] == [0.0] * 32 and got[4] == [0.0] * 32
    assert sum(1 for x in got[3] if x != 0.0) == 1  # single hashed dim


def test_incremental_dedup_two_batches_equal_one_run(spark, tmp_path):
    """The incremental contract: sketch each batch once, pair it against
    itself and the committed sketch store, commit — and the union of the
    runs' outputs equals the full-corpus pair set.  Batch-2 output must
    contain cross-batch pairs but NEVER a committed-only pair (the whole
    point: committed x committed work is not redone)."""
    from ocr_spark.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        minhash_sketches,
    )
    from ocr_spark.tableio import ParquetManifestIO

    # 8 templates x 3 near-identical variants; variant v of template t is
    # doc_id t*100+v.  Batch A = variants 0,1; batch B = variant 2 — so
    # every template yields in-A pairs AND cross-batch pairs.
    def variant(t: int, v: int) -> str:
        toks = [f"t{t}w{i}" for i in range(30)]
        del toks[v * 7]          # drop one distinct word per variant
        return " ".join(toks)

    rows = [(t * 100 + v, variant(t, v))
            for t in range(8) for v in range(3)]
    schema = "doc_id bigint, text string"
    full = _df(spark, rows, schema)
    a = full.filter(F.col("doc_id") % 100 < 2)
    b = full.filter(F.col("doc_id") % 100 == 2)

    io = ParquetManifestIO(str(tmp_path / "store"))

    # run 1 (first batch: no committed store yet)
    sk_a = minhash_sketches(a)
    run1 = {(r.id_a, r.id_b, r.jaccard_sim)
            for r in incremental_minhash_pairs(
                sk_a, None, verify_threshold=0.5).collect()}
    io.append(sk_a, "sketches")

    # run 2 (delta vs the store read back from parquet)
    committed = io.read(spark, "sketches")
    run2 = {(r.id_a, r.id_b, r.jaccard_sim)
            for r in incremental_minhash_pairs(
                minhash_sketches(b), committed,
                verify_threshold=0.5).collect()}
    io.append(minhash_sketches(b), "sketches")

    want = {(r.id_a, r.id_b, r.jaccard_sim)
            for r in minhash_lsh_pairs(
                full, verify_threshold=0.5).collect()}

    assert run1 | run2 == want
    assert run1 and run2
    # run 2 never re-emits a committed-only pair...
    b_ids = {t * 100 + 2 for t in range(8)}
    assert all(p[0] in b_ids or p[1] in b_ids for p in run2)
    # ...and does find cross-batch near-dups
    assert any((p[0] in b_ids) != (p[1] in b_ids) for p in run2)
    # the store accumulated both snapshots for run 3
    assert io.snapshots("sketches") == [0, 1]
    assert io.read(spark, "sketches").count() == 24


def test_incremental_simhash_two_batches_equal_one_run(spark, tmp_path):
    """SimHash member of the incremental family: the union of per-run
    block-join outputs equals the one-shot full-corpus pair set, run 2
    never re-emits a committed-only pair, and cross-batch pairs exist
    (exact text duplicates across batches band at hamming 0 regardless
    of signature randomness — the non-vacuity anchor)."""
    from ocr_spark.dedup import (
        incremental_simhash_pairs,
        simhash_pairs,
        simhash_sketches,
    )
    from ocr_spark.tableio import ParquetManifestIO

    def variant(t: int, v: int) -> str:
        toks = [f"t{t}w{i}" for i in range(30)]
        if v:  # variant 0 is the template; v>0 swaps one word
            toks[v * 7] = f"t{t}swap{v}"
        return " ".join(toks)

    rows = [(t * 100 + v, variant(t, v))
            for t in range(6) for v in range(3)]
    # cross-batch EXACT dup: batch B carries a byte-identical copy of
    # template 0 (hamming 0 — guaranteed to pair)
    rows.append((9902, variant(0, 0)))
    full = _df(spark, rows, "doc_id bigint, text string")
    a = full.filter(F.col("doc_id") % 100 < 2)
    b = full.filter(F.col("doc_id") % 100 == 2)

    io = ParquetManifestIO(str(tmp_path / "store"))
    sk_a = simhash_sketches(a)
    run1 = {(r.id_a, r.id_b, r.hamming)
            for r in incremental_simhash_pairs(sk_a, None).collect()}
    io.append(sk_a, "simhash")

    committed = io.read(spark, "simhash")
    run2 = {(r.id_a, r.id_b, r.hamming)
            for r in incremental_simhash_pairs(
                simhash_sketches(b), committed).collect()}

    want = {(r.id_a, r.id_b, r.hamming)
            for r in simhash_pairs(full).collect()}
    assert run1 | run2 == want
    assert not (run1 & run2)
    b_ids = {r.doc_id for r in b.select("doc_id").collect()}
    assert all(p[0] in b_ids or p[1] in b_ids for p in run2)
    # the planted exact dup pairs across batches at hamming 0
    assert (0, 9902, 0) in run2

    # block_col: two runs over sketches carrying the cohort equal the
    # one-shot cohort-scoped pair set.  Two more copies of template 0
    # get odd ids, so a NULL cohort: they pair with each other but with
    # neither even-id copy.
    cohort = F.when(F.col("doc_id") % 2 == 0, F.lit("even"))
    full = full.unionByName(_df(
        spark, [(9903, variant(0, 0)), (9905, variant(0, 0))],
        "doc_id bigint, text string",
    ))
    b = full.filter(F.col("doc_id") % 100 >= 2)

    def cohort_sketches(df):
        return simhash_sketches(df).join(
            df.select(F.col("doc_id").alias("id"),
                      F.struct(cohort.alias("v")).alias("cohort")),
            on="id",
        )

    sk_a = cohort_sketches(a)
    run1 = {(r.id_a, r.id_b, r.hamming)
            for r in incremental_simhash_pairs(sk_a, None).collect()}
    io.append(sk_a, "simhash_cohort")
    run2 = {(r.id_a, r.id_b, r.hamming)
            for r in incremental_simhash_pairs(
                cohort_sketches(b),
                io.read(spark, "simhash_cohort")).collect()}
    scoped = {(r.id_a, r.id_b, r.hamming)
              for r in simhash_pairs(full, block_col=cohort).collect()}
    assert scoped == {(0, 9902, 0), (9903, 9905, 0)}
    assert run1 | run2 == scoped
    # a cohort store probed by cohort-less sketches would pair across
    # cohorts silently; it refuses at plan build instead
    with pytest.raises(ValueError, match="cohort"):
        incremental_simhash_pairs(
            simhash_sketches(b), io.read(spark, "simhash_cohort")
        )


def test_incremental_line_dedup_equals_one_shot_restriction(spark, tmp_path):
    """Line-level member of the incremental family: the delta filtered
    against committed line frequencies + committed corpus size must equal
    the one-shot drop_frequent_lines over ALL documents restricted to the
    delta's ids.  The boilerplate line crosses the 30% threshold ONLY
    when both batches are counted — so the test fails if the committed
    store's frequencies or doc count are ignored."""
    from ocr_spark.dedup import (
        drop_frequent_lines,
        drop_frequent_lines_incremental,
        line_doc_freqs,
    )
    from ocr_spark.tableio import ParquetManifestIO

    boiler = "subscribe to our newsletter"
    # committed: 5 of 6 docs carry the boilerplate (5/6 ≥ 0.3)
    rows_a = [(i, [boiler, f"content a{i}"]) for i in range(5)] + [
        (5, ["content a5 only"]),
    ]
    # delta: 1 of 10 — BELOW threshold in isolation (0.1 < 0.3), ABOVE it
    # corpus-wide (6/16 = 0.375 ≥ 0.3), so only the store can drop it
    rows_b = [(10, [boiler, "content b10", None])] + [
        (10 + i, [f"content b{10 + i}"]) for i in range(1, 10)
    ]
    schema = "doc_id bigint, lines array<string>"
    a = _df(spark, rows_a, schema)
    b = _df(spark, rows_b, schema)
    full = a.unionByName(b)

    io = ParquetManifestIO(str(tmp_path / "store"))
    io.append(line_doc_freqs(a), "line_freqs")
    committed = io.read(spark, "line_freqs").groupBy("line_h").agg(
        F.sum("doc_freq").alias("doc_freq")
    )

    got = {
        r.id: (tuple(r.kept_lines), r.n_lines_in, r.n_lines_kept)
        for r in drop_frequent_lines_incremental(
            b, committed, committed_n_docs=a.count()
        ).collect()
    }
    want = {
        r.id: (tuple(r.kept_lines), r.n_lines_in, r.n_lines_kept)
        for r in drop_frequent_lines(full).collect()
        if r.id >= 10
    }
    assert got == want
    # the store is LOAD-BEARING: with it the boilerplate drops…
    assert got[10][0] == ("content b10",)
    # …without it the delta-local frequency (1/10) keeps the line
    first_batch_only = {
        r.id: tuple(r.kept_lines)
        for r in drop_frequent_lines_incremental(b, None).collect()
    }
    assert boiler in first_batch_only[10]


def test_simhash_wide_blocks_same_pairs(spark):
    """The Manku combination-key scale lever (n_blocks > max_hamming+1)
    must be RESULT-IDENTICAL to the minimum block split — both have full
    recall at hamming ≤ max_hamming by pigeonhole, and the verify is the
    same bit_count cut.  Equality of the verified pair sets is the whole
    guarantee: the lever only widens the candidate key space."""
    from ocr_spark.dedup import simhash_pairs

    rows = []
    for t in range(6):
        # LONG docs: a 1-token swap flips ~3 of ~98 shingle features, so
        # the 60-bit signature moves only a few bits (short docs would
        # put every near pair past hamming 3 and make the test vacuous)
        toks = [f"t{t}w{i}" for i in range(100)]
        rows.append((t * 10, " ".join(toks)))
        near = list(toks)
        near[50] = f"t{t}swap"
        rows.append((t * 10 + 1, " ".join(near)))
    rows.append((999, rows[0][1]))  # exact dup: hamming 0, always pairs
    df = _df(spark, rows, "doc_id bigint, text string")

    narrow = {(r.id_a, r.id_b, r.hamming)
              for r in simhash_pairs(df, max_hamming=3).collect()}
    wide = {(r.id_a, r.id_b, r.hamming)
            for r in simhash_pairs(df, max_hamming=3, n_blocks=6).collect()}
    assert wide == narrow
    assert (0, 999, 0) in narrow
    # non-vacuous beyond the planted exact dup: some near pair verified
    assert any(h > 0 for (_a, _b, h) in narrow)


def test_simhash_block_col_scopes_candidates(spark):
    """block_col AND-s a cohort into the join key: byte-identical docs in
    DIFFERENT cohorts (hamming 0 — unconditionally paired without the
    cohort) must not pair; the within-cohort duplicate still does."""
    from ocr_spark.dedup import simhash_pairs

    text = " ".join(f"w{i}" for i in range(30))
    df = _df(
        spark,
        [(1, text, "en"), (2, text, "en"), (3, text, "de")],
        "doc_id bigint, text string, lang string",
    )
    plain = {(r.id_a, r.id_b) for r in simhash_pairs(df).collect()}
    assert plain == {(1, 2), (1, 3), (2, 3)}
    scoped = {(r.id_a, r.id_b)
              for r in simhash_pairs(df, block_col=F.col("lang")).collect()}
    assert scoped == {(1, 2)}


def test_simhash_block_col_null_cohort_pairs_with_itself(spark):
    """A NULL cohort is its OWN cohort (groupBy semantics): identical
    docs whose cohort expression is NULL (undetected language, missing
    domain) must still pair with each other — a plain equi-join's
    NULL != NULL would silently drop them from ALL pairing — while
    NULL-vs-non-NULL stays unpaired."""
    from ocr_spark.dedup import simhash_pairs

    text = " ".join(f"w{i}" for i in range(30))
    df = _df(
        spark,
        [(1, text, None), (2, text, None), (3, text, "en")],
        "doc_id bigint, text string, lang string",
    )
    scoped = {(r.id_a, r.id_b)
              for r in simhash_pairs(df, block_col=F.col("lang")).collect()}
    assert scoped == {(1, 2)}


def test_simhash_blocks_guards():
    """Too few blocks breaks pigeonhole recall; absurd combination counts
    defeat the explode — both must refuse loudly at plan-build time."""
    import pytest as _pytest

    from ocr_spark.dedup import simhash_blocks

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_blocks(F.lit(0), bits=60, max_hamming=3, n_blocks=3)
    with _pytest.raises(ValueError, match="candidate tables"):
        simhash_blocks(F.lit(0), bits=60, max_hamming=10, n_blocks=30)


def test_incremental_ann_two_batches_equal_one_run(spark, tmp_path):
    """Embedding-ANN member of the incremental family: union of per-run
    bucket-join outputs equals the one-shot single-table lsh_ann_pairs,
    run 2 never re-emits a committed-only pair, and a planted identical
    vector across batches guarantees a cross-batch pair (same bucket,
    cosine 1.0)."""
    from ocr_spark.similarity import (
        ann_sketches,
        hyperplanes,
        incremental_lsh_ann_pairs,
        lsh_ann_pairs,
    )
    from ocr_spark.tableio import ParquetManifestIO

    import math

    def vec(seed: int, jitter: float = 0.0) -> list[float]:
        raw = [
            math.sin(seed * 1.7 + j) + (jitter if j == 0 else 0.0)
            for j in range(4)
        ]
        n = math.sqrt(sum(x * x for x in raw))
        return [x / n for x in raw]

    rows = (
        [(t * 100 + v, vec(t, jitter=0.05 * v))
         for t in range(5) for v in range(3)]
        + [(9902, vec(0))]  # identical to vector 0 → guaranteed pair
    )
    full = _df(spark, rows, "vec_id bigint, embedding array<double>")
    a = full.filter(F.col("vec_id") % 100 < 2)
    b = full.filter(F.col("vec_id") % 100 == 2)
    planes = hyperplanes(3, dims=4)

    io = ParquetManifestIO(str(tmp_path / "store"))
    sk_a = ann_sketches(a, planes=planes)
    run1 = {(r.id_a, r.id_b, r.cosine_sim)
            for r in incremental_lsh_ann_pairs(
                sk_a, None, dims=4, min_cosine=0.8).collect()}
    io.append(sk_a, "ann")

    committed = io.read(spark, "ann")
    run2 = {(r.id_a, r.id_b, r.cosine_sim)
            for r in incremental_lsh_ann_pairs(
                ann_sketches(b, planes=planes), committed,
                dims=4, min_cosine=0.8).collect()}

    want = {(r.id_a, r.id_b, r.cosine_sim)
            for r in lsh_ann_pairs(
                full, planes=planes, min_cosine=0.8).collect()}
    assert run1 | run2 == want
    assert not (run1 & run2)
    b_ids = {r.vec_id for r in b.select("vec_id").collect()}
    assert all(p[0] in b_ids or p[1] in b_ids for p in run2)
    assert (0, 9902, 1.0) in run2


def test_flat_ann_dims_mismatch_fails_fast(spark):
    """A declared ``dims`` that disagrees with the actual embedding width
    must raise, not score a plausible-but-wrong prefix cosine (declared <
    actual) or null-propagate rows out of the result (declared > actual).
    The guard rides the norm column every scoring path computes
    (similarity._guarded_norm), so it covers brute_force_topk's flat path
    and ivf_search's centroid-width-derived dims alike."""
    from ocr_spark.similarity import brute_force_topk, ivf_search

    df = _df(
        spark,
        [(1, [0.1] * 16), (2, [0.2] * 16), (3, [0.3] * 16)],
        "vec_id bigint, embedding array<float>",
    )
    q = df.limit(1)
    for bad_dims in (8, 32):
        with pytest.raises(Exception, match="width"):
            brute_force_topk(df, q, k=2, dims=bad_dims).collect()
        with pytest.raises(Exception, match="width"):
            ivf_search(
                df, q, k=2, n_probes=2,
                centroids=hyperplanes(4, dims=bad_dims),
            ).collect()

    # NULL embedding = missing vector, not a width bug: no raise, the
    # null norm nulls the cosine out instead of poisoning the batch
    withnull = _df(
        spark,
        [(1, [0.1] * 16), (2, [0.2] * 16), (3, None)],
        "vec_id bigint, embedding array<float>",
    )
    got = brute_force_topk(withnull, withnull.limit(1), k=3, dims=16).collect()
    assert {r.neighbor_id for r in got} <= {2, 3}


def test_wide_dims_flat_fallback_matches_narrow_arithmetic(spark):
    """Past UNROLL_MAX_DIMS the pair payload falls back from flat scalar
    columns to the carried array + HOF fold — same left-associative
    arithmetic, different physical plan.  Pin that the two shapes return
    identical truncated cosines on the same vectors (zero-padded so the
    dot/norm values are unchanged across widths)."""
    from ocr_spark.similarity import UNROLL_MAX_DIMS, brute_force_topk

    narrow = UNROLL_MAX_DIMS
    wide = UNROLL_MAX_DIMS * 2
    base = [
        (1, [0.5, 0.25] + [0.0] * (narrow - 2)),
        (2, [0.5, 0.75] + [0.0] * (narrow - 2)),
        (3, [-1.0, 0.25] + [0.0] * (narrow - 2)),
    ]
    padded = [(i, v + [0.0] * (wide - narrow)) for i, v in base]
    df_n = _df(spark, base, "vec_id bigint, embedding array<float>")
    df_w = _df(spark, padded, "vec_id bigint, embedding array<float>")

    def res(df, dims):
        return {
            (r.query_id, r.neighbor_id): r.cosine_sim
            for r in brute_force_topk(df, df, k=2, dims=dims).collect()
        }

    assert res(df_n, narrow) == res(df_w, wide)


# ------------------------------------------------- round-4 curation ops

def test_lm_score_matches_exact_python_twin(spark):
    """Bit-quantized unigram surprisal: every intermediate is an exact
    integer, so a plain-Python twin must agree bit-for-bit (including
    the one trunc4'd divide), and token-less docs score 0.0."""
    import math

    from ocr_spark.textstats import lm_score

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the the the"),
        (3, "quux"),
        (4, ""),          # token-less: flows through at 0.0
        (5, None),        # NULL text: same contract as empty
    ]
    df = _df(spark, rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.n_tokens, r.sum_surprisal, r.lm_score)
           for r in lm_score(df, persist_exploded=False).collect()}

    toks = {i: (t or "").split() for i, t in rows}
    freq: dict = {}
    for ts_ in toks.values():
        for t in ts_:
            freq[t] = freq.get(t, 0) + 1
    total = sum(freq.values())
    want = {}
    for i, ts_ in toks.items():
        s = sum(total.bit_length() - freq[t].bit_length() for t in ts_)
        n = len(ts_)
        score = math.floor(s / n * 10000) / 10000 if n else 0.0
        want[i] = (n, s, score)
    assert got == want


def test_tfidf_topk_ranks_and_ties(spark):
    """Characteristic (rare) terms outrank ubiquitous ones; ties break
    token-ascending; k bounds the per-doc output."""
    from ocr_spark.textstats import tfidf_topk

    df = _df(spark, [
        (1, "common zebra common common"),
        (2, "common apple banana"),
        (3, "common common"),
        (4, ""),
    ], "doc_id bigint, text string")
    out = tfidf_topk(df, k=2).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 4 not in by_doc  # token-less docs produce no term rows
    # N=4 docs (bitlen 3); df(common)=3 (bitlen 2) → idf 1;
    # df(zebra|apple|banana)=1 (bitlen 1) → idf 2
    d1 = {r.rank: (r.token, r.score) for r in by_doc[1]}
    assert d1 == {1: ("common", 3), 2: ("zebra", 2)}
    d2 = {r.rank: (r.token, r.score) for r in by_doc[2]}
    # apple and banana tie at tf*idf = 2 → token-ascending
    assert d2 == {1: ("apple", 2), 2: ("banana", 2)}
    assert all(len(v) <= 2 for v in by_doc.values())


def _py_bm25_ppm(tf: int, idf_q: int, dl: int, avgdl: float) -> int:
    """Driver-side twin of textstats.bm25_term_ppm — same constants,
    same expression tree, same IEEE doubles."""
    import math

    from ocr_spark.textstats import BM25_B, BM25_K1

    num = float(idf_q) * (float(tf) * (BM25_K1 + 1.0))
    den = float(tf) + BM25_K1 * (
        (1.0 - BM25_B) + BM25_B * (float(dl) / avgdl)
    )
    return math.floor((num / den) * 1000000.0)


def _py_bm25_search(doc_rows, query_rows, k):
    """Plain-Python BM25 retrieval twin (whitespace tokens, bit-quantized
    idf, ppm floor per term, bigint sum, (score DESC, doc ASC) top-k)."""
    toks = {d: t.split() for d, t in doc_rows}
    n_docs = len(doc_rows)
    tc: dict = {}
    for d, ws in toks.items():
        for w in ws:
            tc[(d, w)] = tc.get((d, w), 0) + 1
    dfreq: dict = {}
    for (_d, w) in tc:
        dfreq[w] = dfreq.get(w, 0) + 1
    dl = {d: len(ws) for d, ws in toks.items() if ws}
    avgdl = float(sum(dl.values())) / float(n_docs)
    out = []
    for qid, qtext in query_rows:
        scores: dict = {}
        nterms: dict = {}
        for w in set(qtext.split()):
            if w not in dfreq:
                continue
            idf_q = n_docs.bit_length() - dfreq[w].bit_length()
            for d in dl:
                if (d, w) in tc:
                    scores[d] = scores.get(d, 0) + _py_bm25_ppm(
                        tc[(d, w)], idf_q, dl[d], avgdl
                    )
                    nterms[d] = nterms.get(d, 0) + 1
        ranked = sorted(scores, key=lambda d: (-scores[d], d))[:k]
        out.extend(
            (qid, d, i + 1, nterms[d], scores[d])
            for i, d in enumerate(ranked)
        )
    return sorted(out)


def test_bm25_search_matches_python_twin(spark):
    """Full-output equality with the plain-Python twin on a corpus with
    varied lengths, repeated terms, a token-less doc (counts toward N,
    matches nothing), and multi-term queries."""
    from ocr_spark.textstats import bm25_search

    doc_rows = [
        (1, "spark shuffles data across the cluster"),
        (2, "spark spark spark tuning spark"),
        (3, "the cluster scheduler assigns tasks to the cluster nodes"),
        (4, "data skew breaks shuffle performance on big data joins"),
        (5, "unrelated cooking recipe with olive oil and garlic"),
        (6, ""),
        (7, "spark cluster data " * 10),     # long doc: normalized down
    ]
    query_rows = [
        (100, "spark cluster"),
        (101, "data skew"),
        (102, "garlic"),
        (103, "nonexistent tokens only"),
    ]
    docs = _df(spark, doc_rows, "doc_id bigint, text string")
    queries = _df(spark, query_rows, "query_id bigint, text string")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.n_terms_matched, r.score_ppm)
        for r in bm25_search(docs, queries, k=3).collect()
    )
    assert got == _py_bm25_search(doc_rows, query_rows, k=3)
    # the no-match query must produce no rows at all
    assert not [r for r in got if r[0] == 103]


def test_bm25_length_normalization(spark):
    """Same tf of the query term, shorter document → higher BM25 (the
    property tf·idf lacks and the dl/avgdl term exists to provide)."""
    from ocr_spark.textstats import bm25_search

    docs = _df(spark, [
        (1, "needle " + "hay " * 3),
        (2, "needle " + "hay " * 40),
        # fillers so idf_q = bitlen(4) - bitlen(2) = 1 (not quantized to 0)
        (3, "straw bale"),
        (4, "grass field"),
    ], "doc_id bigint, text string")
    queries = _df(spark, [(9, "needle")], "query_id bigint, text string")
    got = {r.doc_id: r for r in bm25_search(docs, queries, k=2).collect()}
    assert got[1].rank == 1 and got[2].rank == 2
    assert got[1].score_ppm > got[2].score_ppm


def test_tfidf_with_bm25_extends_not_reranks(spark):
    """with_bm25=True adds bm25_ppm to the SAME tfidf-selected rows
    (selection and ranks unchanged), and each bm25_ppm matches the
    Python twin's arithmetic."""
    from ocr_spark.textstats import tfidf_topk

    doc_rows = [
        (1, "common zebra common common"),
        (2, "common apple banana"),
        (3, "common common"),
        (4, ""),
    ]
    df = _df(spark, doc_rows, "doc_id bigint, text string")
    base = {(r.doc_id, r.rank): (r.token, r.tf, r.df_docs, r.score)
            for r in tfidf_topk(df, k=2).collect()}
    ext = tfidf_topk(df, k=2, with_bm25=True).collect()
    assert {(r.doc_id, r.rank): (r.token, r.tf, r.df_docs, r.score)
            for r in ext} == base

    toks = {d: t.split() for d, t in doc_rows}
    dl = {d: len(ws) for d, ws in toks.items() if ws}
    avgdl = float(sum(dl.values())) / float(len(doc_rows))
    dfreq: dict = {}
    for ws in toks.values():
        for w in set(ws):
            dfreq[w] = dfreq.get(w, 0) + 1
    for r in ext:
        idf_q = len(doc_rows).bit_length() - dfreq[r.token].bit_length()
        assert r.bm25_ppm == _py_bm25_ppm(
            r.tf, idf_q, dl[r.doc_id], avgdl
        ), (r.doc_id, r.token)


def test_rrf_fuse_matches_python_twin(spark):
    """Exact integer RRF: overlap sums both lists' ppb, exclusives keep
    one, ties break doc-ascending, k bounds output, n_lists counts
    agreement."""
    from ocr_spark.similarity import rrf_fuse

    lex = _df(spark, [
        (1, 10, 1), (1, 11, 2), (1, 12, 3),
        (2, 20, 1), (2, 21, 2),
    ], "query_id bigint, doc_id bigint, rank bigint")
    sem = _df(spark, [
        (1, 11, 1), (1, 13, 2), (1, 10, 3),
        (2, 22, 1),
    ], "query_id bigint, doc_id bigint, rank bigint")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.n_lists, r.rrf_ppb)
        for r in rrf_fuse([lex, sem], k=3, k_rrf=60).collect()
    )

    ppb = lambda rank: 1_000_000_000 // (60 + rank)
    lists = {
        1: {10: [1, 3], 11: [2, 1], 12: [3], 13: [2]},
        2: {20: [1], 21: [2], 22: [1]},
    }
    want = []
    for q, docs in lists.items():
        scores = {d: sum(ppb(r) for r in rs) for d, rs in docs.items()}
        ranked = sorted(scores, key=lambda d: (-scores[d], d))[:3]
        want.extend(
            (q, d, i + 1, len(docs[d]), scores[d])
            for i, d in enumerate(ranked)
        )
    assert got == sorted(want)
    # query 2: docs 20 and 22 tie (both rank-1 in one list) → doc asc
    q2 = [(d, r) for (q, d, r, _n, _s) in got if q == 2]
    assert (20, 1) in q2 and (22, 2) in q2


def test_rrf_fuse_hybrid_with_bm25(spark):
    """Composition shape: fuse bm25 rankings with a second ranked list;
    the doc both retrievers agree on outranks each list's exclusive
    top-1 (RRF's defining property)."""
    from ocr_spark.similarity import rrf_fuse
    from ocr_spark.textstats import bm25_search

    docs = _df(spark, [
        (1, "needle in a small haystack"),
        (2, "needle needle sharp needle"),
        (3, "straw bale grass"),
        (4, "field mouse lives here"),
        (5, "other filler content entirely"),
    ], "doc_id bigint, text string")
    queries = _df(spark, [(9, "needle haystack")],
                  "query_id bigint, text string")
    lex = bm25_search(docs, queries, k=3)   # doc 1 or 2 lead lexically
    lex_top = {(r.rank): r.doc_id for r in lex.collect()}
    # a "semantic" list agreeing with the lexical #2 and promoting doc 4
    sem = _df(spark, [
        (9, 4, 1), (9, lex_top[2], 2), (9, 3, 3),
    ], "query_id bigint, doc_id bigint, rank bigint")
    fused = {r.doc_id: r for r in rrf_fuse([lex, sem], k=5).collect()}
    both = lex_top[2]
    # agreement (rank 2 + rank 2-ish) beats every single-list exclusive
    assert fused[both].n_lists == 2
    exclusives = [d for d in fused if fused[d].n_lists == 1]
    assert all(fused[both].rrf_ppb > fused[d].rrf_ppb for d in exclusives)


def test_rrf_fuse_validation(spark):
    from ocr_spark.similarity import rrf_fuse

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    lst = _df(spark, [(1, 2, 1)],
              "query_id bigint, doc_id bigint, rank bigint")
    with pytest.raises(ValueError, match="k_rrf"):
        rrf_fuse([lst], k_rrf=-1)


def test_mixture_sample_rates_and_determinism(spark):
    """Integer allocation/rate arithmetic and pure-function membership:
    the capped domain keeps everything, the zero-weight domain keeps
    nothing, and kept matches the hash threshold recomputed in Python."""
    from ocr_spark.assembly import mixture_sample
    from ocr_spark.textstats import py_portable_hash

    rows = [
        # domain a: 3 docs x 2 tokens = 6 tokens (weight 3)
        (1, "a", "t t"), (2, "a", "t t"), (3, "a", "t t"),
        # domain b: 4 docs x 5 tokens = 20 tokens (weight 1)
        (4, "b", "u u u u u"), (5, "b", "u u u u u"),
        (6, "b", "u u u u u"), (7, "b", "u u u u u"),
        # domain c: no weight -> rate 0
        (8, "c", "v v v"),
    ]
    df = _df(spark, rows, "doc_id bigint, source string, text string")
    out = {r.doc_id: r for r in mixture_sample(
        df, {"a": 3, "b": 1}, budget_tokens=8).collect()}
    assert len(out) == 8  # one row per input doc
    # a: target = 8*3//4 = 6 >= 6 tokens -> rate capped at 1e6, all kept
    assert all(out[i].rate_ppm == 1000000 and out[i].kept
               for i in (1, 2, 3))
    # b: target = 8*1//4 = 2; rate = 2*1e6 // 20 = 100000
    assert out[4].target_tokens == 2 and out[4].rate_ppm == 100000
    for i in (4, 5, 6, 7):
        want = (py_portable_hash(f"mix/{i}") % 1000000) < 100000
        assert out[i].kept == want
    # c: zero weight -> rate 0, never kept
    assert out[8].rate_ppm == 0 and not out[8].kept


def test_mixture_sample_audits_null_domain_rows(spark):
    """One row PER INPUT DOC includes NULL-domain docs: the domain join
    is null-safe, so they audit with target 0 / kept = false instead of
    silently vanishing through a non-null-safe equi-join."""
    from ocr_spark.assembly import mixture_sample

    df = _df(spark, [
        (1, "a", "t t"), (2, None, "u u u"), (3, None, "v"),
    ], "doc_id bigint, source string, text string")
    out = {r.doc_id: r for r in mixture_sample(
        df, {"a": 1}, budget_tokens=8).collect()}
    assert set(out) == {1, 2, 3}  # nothing dropped
    assert out[1].kept and out[1].rate_ppm == 1000000
    for i in (2, 3):
        assert out[i].domain is None
        assert out[i].target_tokens == 0 and out[i].rate_ppm == 0
        assert out[i].domain_tokens == 4  # NULL group aggregated once
        assert not out[i].kept


def test_exact_incremental_first_run_wins_and_union_equivalence(spark):
    """Two-batch incremental exact dedup: a delta doc identical to a
    committed doc is dropped (first-run-wins); within the delta the min
    id wins; and the kept set over both runs equals batch-ordered exact
    dedup of the full corpus."""
    from ocr_spark.dedup import (
        exact_digests,
        exact_duplicates_incremental,
    )

    batch1 = _df(spark, [
        (1, "alpha beta"), (2, "gamma"), (3, "alpha  beta"),  # 3 dups 1
    ], "doc_id bigint, text string")
    batch2 = _df(spark, [
        (10, "ALPHA BETA"),   # dup of committed 1 (case-normalized)
        (11, "delta"), (12, "delta"),  # new near pair: 11 canonical
        (13, None),            # NULL text: not dedupable, excluded
    ], "doc_id bigint, text string")

    d1 = exact_digests(batch1)
    first = exact_duplicates_incremental(d1, None)
    kept1 = {r.id for r in first.collect() if r.kept}
    assert kept1 == {1, 2}

    committed = d1  # commit the full first batch (store append stand-in)
    second = exact_duplicates_incremental(exact_digests(batch2), committed)
    rows2 = {r.id: r for r in second.collect()}
    assert set(rows2) == {10, 11, 12}  # NULL-text 13 excluded
    assert rows2[10].dup_of_committed and not rows2[10].kept
    # dup-of-committed rows carry NO delta canonical (the delta's min id
    # is itself dropped — the committed copy is the survivor; behavior
    # changed round 5, see exact_duplicates_incremental's docstring)
    assert rows2[10].new_canonical_id is None
    assert rows2[11].kept and rows2[11].new_canonical_id == 11
    assert not rows2[12].kept and rows2[12].new_canonical_id == 11
    kept2 = {r.id for r in second.collect() if r.kept}
    assert kept1 | kept2 == {1, 2, 11}


def test_exact_incremental_null_digest_is_its_own_kept_group(spark):
    """A NULL digest (a content-less row) is never grouped with another
    NULL digest nor dropped: against a committed store, each such row
    is kept with ``new_canonical_id`` equal to its own id, while digested
    rows still dedup within the delta and against the store."""
    from ocr_spark.dedup import (
        exact_digest,
        exact_digests,
        exact_duplicates_incremental,
    )

    committed = exact_digests(_df(
        spark, [(1, "alpha beta")], "doc_id bigint, text string"
    ))
    delta = _df(spark, [
        (10, None), (11, None), (12, None),
        (13, "alpha beta"),                   # dup of committed 1
        (14, "delta"), (15, "delta"),         # 14 canonical
    ], "id bigint, text string").select(
        "id",
        F.when(F.col("text").isNotNull(), exact_digest(F.col("text")))
        .alias("digest"),
    )
    rows = {
        r.id: r for r in exact_duplicates_incremental(delta, committed)
        .collect()
    }
    assert set(rows) == {10, 11, 12, 13, 14, 15}
    for i in (10, 11, 12):
        assert rows[i].kept and rows[i].new_canonical_id == i
        assert rows[i].dup_of_committed is False
    assert rows[13].dup_of_committed and not rows[13].kept
    assert rows[14].kept and not rows[15].kept
    assert rows[15].new_canonical_id == 14


def test_mixture_sample_rejects_overflowing_budget():
    """Non-ANSI Spark wraps int64 overflow silently; the ppm arithmetic
    must refuse budgets past the exact bound instead (fires before any
    plan is built — no session needed)."""
    from ocr_spark.assembly import mixture_sample

    with pytest.raises(ValueError, match="overflows int64"):
        mixture_sample(None, {"a": 1}, budget_tokens=2 ** 63)
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(None, {}, budget_tokens=10)


def test_mixture_sample_rejects_negative_weight_and_budget():
    """A negative weight passes the wsum>0 check but silently zeroes its
    own domain AND lets another domain's target exceed budget_tokens —
    past the int64 guard, target*1e6 could wrap where budget*1e6 did
    not.  Refuse both up front."""
    from ocr_spark.assembly import mixture_sample

    with pytest.raises(ValueError, match="non-negative"):
        mixture_sample(None, {"a": -5, "b": 10}, budget_tokens=10)
    with pytest.raises(ValueError, match="non-negative"):
        mixture_sample(None, {"a": 1}, budget_tokens=-1)


def test_mixture_sample_null_id_audits_kept_false(spark):
    """A NULL doc_id hashes to a NULL bucket; the kept column must
    coalesce to false (a row with kept=NULL is returned by NEITHER
    filter('kept') NOR filter(~col('kept')) — outside the audit
    contract entirely)."""
    from ocr_spark.assembly import mixture_sample

    df = _df(spark, [
        (1, "a", "t t"), (None, "a", "u u"),
    ], "doc_id bigint, source string, text string")
    rows = mixture_sample(df, {"a": 1}, budget_tokens=100).collect()
    assert len(rows) == 2
    null_row = next(r for r in rows if r.doc_id is None)
    assert null_row.kept is False  # false, not None
    assert all(r.kept is not None for r in rows)


# ------------------------------------------------------ duplicated passages

def test_strip_dup_passages_tokenizes_once(spark, monkeypatch):
    """The cut join must REUSE the gram pass's tokenization, not re-derive
    it from the raw text (a second full narrow pass over the corpus at
    100 TB).  tokens() is invoked at plan-BUILD time, so counting its
    calls pins the number of tokenize passes in the plan exactly."""
    import ocr_spark.dedup as dd

    calls = []
    real = dd.tokens

    def counting(col):
        calls.append(1)
        return real(col)

    monkeypatch.setattr(dd, "tokens", counting)
    df = _df(spark, [(1, "a b c d e")], "doc_id bigint, text string")
    out = dd.strip_dup_passages(df, k=2, persist_grams=False)
    assert len(calls) == 1
    # and the plan still evaluates correctly end-to-end
    rows = {r.id: r for r in out.collect()}
    assert rows[1].clean_text == "a b c d e"

def _passage_corpus(spark):
    shared = " ".join(f"s{i}" for i in range(10))   # 10-token shared run
    shared2 = " ".join(f"t{i}" for i in range(9))   # 9-token shared run
    return _df(spark, [
        (1, f"a1 a2 a3 {shared} a4 a5 a6 a7 a8 a9 a10 a11 {shared2} a12"),
        (2, f"b1 b2 {shared} b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 {shared2} b13"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),       # unique
        (4, "short doc"),                            # < k tokens
        (5, "r1 r2 r3 r4 r5 r6 r7 r8 " * 2),         # intra-doc repeat only
        (6, None),                                   # NULL text flows
    ], "doc_id bigint, text string")


def test_dup_passages_maximal_spans_cross_doc_only(spark):
    from ocr_spark.dedup import dup_passages

    got = {
        (r.id, r.span_start, r.span_end, r.span_tokens, r.n_grams)
        for r in dup_passages(_passage_corpus(spark), k=8).collect()
    }
    # doc 1: shared at tokens [3,13) (3 grams of 8 inside 10 tokens),
    # shared2 at [21,30); doc 2 mirrors at [2,12) and [22,31).
    assert got == {
        (1, 3, 13, 10, 3), (1, 21, 30, 9, 2),
        (2, 2, 12, 10, 3), (2, 22, 31, 9, 2),
    }
    # intra-doc repetition (doc 5) must NOT mark: min_docs counts
    # DISTINCT documents, and docs 3/4/6 have nothing to share.


def test_dup_passages_merges_overlap_and_splits_on_gap(spark):
    from ocr_spark.dedup import dup_passages

    # two docs sharing their ENTIRE 12-token text: one maximal span each,
    # not 5 separate gram rows
    t = " ".join(f"w{i}" for i in range(12))
    df = _df(spark, [(1, t), (2, t)], "doc_id bigint, text string")
    got = [(r.span_start, r.span_end, r.n_grams)
           for r in dup_passages(df, k=8).collect()]
    assert got == [(0, 12, 5), (0, 12, 5)]


def test_strip_dup_passages_cuts_exactly_covered_tokens(spark):
    from ocr_spark.dedup import strip_dup_passages

    out = {r.id: r for r in
           strip_dup_passages(_passage_corpus(spark), k=8).collect()}
    assert out[1].clean_text == "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    assert out[2].clean_text == (
        "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13"
    )
    # untouched docs flow through with canonical whitespace
    assert out[3].clean_text == "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    assert out[4].clean_text == "short doc"
    assert out[5].n_tokens_kept == out[5].n_tokens_in == 16
    assert out[6].clean_text == "" and out[6].n_tokens_in == 0
    # arithmetic invariant: kept = in − covered
    assert out[1].n_tokens_in - out[1].n_tokens_kept == 10 + 9
    assert out[2].n_tokens_in - out[2].n_tokens_kept == 10 + 9


def test_dup_passages_min_docs_threshold(spark):
    from ocr_spark.dedup import dup_passages

    t = " ".join(f"p{i}" for i in range(8))
    df = _df(spark, [
        (1, t + " x1"), (2, t + " x2"), (3, t + " x3"),
    ], "doc_id bigint, text string")
    assert dup_passages(df, k=8, min_docs=4).count() == 0
    assert dup_passages(df, k=8, min_docs=3).count() == 3


# ------------------------------------------------------ score bucketing

def test_score_buckets_exact_ntile_matches_python(spark):
    from ocr_spark.assembly import score_buckets

    rows = [(i, "g" + str(i % 2), float(i % 7)) for i in range(20)]
    df = _df(spark, rows, "doc_id bigint, source string, lm_score double")
    got = {r.id: r.bucket
           for r in score_buckets(df, n_buckets=3).collect()}
    # python twin: per group, sort by (score, id), ntile = standard SQL
    # (first n%b buckets get the extra row)
    import itertools
    want = {}
    for g, grp_rows in itertools.groupby(
        sorted(rows, key=lambda r: r[1]), key=lambda r: r[1]
    ):
        ordered = sorted(grp_rows, key=lambda r: (r[2], r[0]))
        n, b = len(ordered), 3
        sizes = [n // b + (1 if i < n % b else 0) for i in range(b)]
        pos = 0
        for i, sz in enumerate(sizes):
            for r in ordered[pos:pos + sz]:
                want[r[0]] = i + 1
            pos += sz
    assert got == want


def test_score_buckets_sampled_thresholds_and_null_group(spark):
    from ocr_spark.assembly import score_buckets
    from ocr_spark.textstats import py_portable_hash

    # group "a": plenty of docs, half sampled; group "b": choose ids that
    # all hash to the UNSAMPLED side so its bucket must be NULL
    unsampled = [i for i in range(1000, 1200)
                 if py_portable_hash(f"sb/{i}") % 2 != 0][:3]
    rows = [(i, "a", float(i)) for i in range(40)] + [
        (i, "b", 1.0) for i in unsampled
    ]
    df = _df(spark, rows, "doc_id bigint, source string, lm_score double")
    out = {r.id: r.bucket
           for r in score_buckets(df, sample_denom=2).collect()}
    assert all(out[i] is None for i in unsampled)
    # python twin for group a: thresholds from the hash half-sample
    samp = sorted(
        (float(i), i) for i in range(40)
        if py_portable_hash(f"sb/{i}") % 2 == 0
    )
    n, b = len(samp), 3
    sizes = [n // b + (1 if i < n % b else 0) for i in range(b)]
    t1 = samp[sizes[0] - 1][0]
    t2 = samp[sizes[0] + sizes[1] - 1][0]
    for i in range(40):
        want = 1 if i <= t1 else (2 if i <= t2 else 3)
        assert out[i] == want, (i, out[i], want)
    # buckets are monotone in score and all three occur
    assert {out[i] for i in range(40)} == {1, 2, 3}


# ----------------------------------------------- incremental components

def test_incremental_components_first_run_matches_batch(spark):
    from ocr_spark.dedup import connected_components, incremental_components

    ids = _df(spark, [(i,) for i in range(6)], "id bigint")
    pairs = _df(spark, [(0, 1), (1, 2), (4, 5)], "id_a bigint, id_b bigint")
    got = {(r.id, r.cluster_id, r.role)
           for r in incremental_components(ids, pairs, None).collect()}
    want = {(r.id, r.cluster_id, "delta")
            for r in connected_components(ids, pairs).collect()}
    assert got == want


def test_incremental_components_merges_committed_clusters(spark):
    from ocr_spark.dedup import incremental_components, resolve_labels

    committed = _df(spark, [(1, 1), (2, 1), (10, 10), (11, 10), (50, 50)],
                    "id bigint, cluster_id bigint")
    new_ids = _df(spark, [(100,), (200,)], "id bigint")
    # 100 bridges committed clusters 1 and 10; 200 is a singleton
    pairs = _df(spark, [(100, 2), (100, 11)], "id_a bigint, id_b bigint")
    out = incremental_components(new_ids, pairs, committed).collect()
    delta = {(r.id, r.cluster_id) for r in out if r.role == "delta"}
    merges = {(r.id, r.cluster_id) for r in out if r.role == "merge"}
    assert delta == {(100, 1), (200, 200)}
    assert merges == {(10, 1)}  # cluster 10 renamed; 1 and 50 untouched
    m = _df(spark, sorted(merges), "id bigint, cluster_id bigint")
    resolved = {(r.id, r.cluster_id)
                for r in resolve_labels(committed, m).collect()}
    assert resolved == {(1, 1), (2, 1), (10, 1), (11, 1), (50, 50)}


def test_incremental_components_new_id_becomes_canonical(spark):
    from ocr_spark.dedup import incremental_components

    committed = _df(spark, [(10, 10), (11, 10)], "id bigint, cluster_id bigint")
    new_ids = _df(spark, [(3,)], "id bigint")
    pairs = _df(spark, [(3, 10)], "id_a bigint, id_b bigint")
    out = incremental_components(new_ids, pairs, committed).collect()
    assert {(r.id, r.cluster_id, r.role) for r in out} == {
        (3, 3, "delta"), (10, 3, "merge"),
    }


def test_incremental_components_equals_one_shot_union(spark):
    """Resolved committed store + delta labels == one-shot components
    over all nodes and all edges (the equivalence the contract oracle
    replays at corpus scale)."""
    from ocr_spark.dedup import (
        connected_components,
        incremental_components,
        resolve_labels,
    )

    all_ids = list(range(12))
    all_pairs = [(0, 1), (1, 2), (3, 4), (6, 7), (2, 8), (4, 9), (10, 11)]
    cut = 6  # ids < 6 committed, >= 6 delta
    nodes1 = _df(spark, [(i,) for i in all_ids if i < cut], "id bigint")
    pairs1 = _df(spark, [p for p in all_pairs if max(p) < cut],
                 "id_a bigint, id_b bigint")
    committed = connected_components(nodes1, pairs1)
    nodes2 = _df(spark, [(i,) for i in all_ids if i >= cut], "id bigint")
    pairs2 = _df(spark, [p for p in all_pairs if max(p) >= cut],
                 "id_a bigint, id_b bigint")
    out = incremental_components(nodes2, pairs2, committed)
    merges = out.filter("role = 'merge'").select("id", "cluster_id")
    resolved = resolve_labels(committed, merges)
    got = {(r.id, r.cluster_id) for r in resolved.collect()} | {
        (r.id, r.cluster_id)
        for r in out.filter("role = 'delta'").collect()
    }
    one_shot = connected_components(
        _df(spark, [(i,) for i in all_ids], "id bigint"),
        _df(spark, all_pairs, "id_a bigint, id_b bigint"),
    )
    assert got == {(r.id, r.cluster_id) for r in one_shot.collect()}


def test_incremental_components_one_shot_union_random_graph(spark):
    """Same run-union == one-shot equivalence, on a seeded random graph
    instead of a hand-built one: arbitrary merge fan-in (one delta node
    bridging several committed clusters), chains crossing the cut, and
    committed clusters untouched by the delta all arise by chance rather
    than by construction."""
    import random

    from ocr_spark.dedup import (
        connected_components,
        incremental_components,
        resolve_labels,
    )

    rng = random.Random(77)
    # kept small: every extra unit of component diameter is one more
    # checkpointed minlabel round in FOUR component computations here
    n, cut = 24, 12
    all_ids = list(range(n))
    all_pairs = sorted({
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(34)
    })
    all_pairs = [(a, b) for a, b in all_pairs if a != b]

    committed = connected_components(
        _df(spark, [(i,) for i in all_ids if i < cut], "id bigint"),
        _df(spark, [p for p in all_pairs if max(p) < cut] or [(0, 0)],
            "id_a bigint, id_b bigint"),
    )
    out = incremental_components(
        _df(spark, [(i,) for i in all_ids if i >= cut], "id bigint"),
        _df(spark, [p for p in all_pairs if max(p) >= cut],
            "id_a bigint, id_b bigint"),
        committed,
    )
    merges = out.filter("role = 'merge'").select("id", "cluster_id")
    got = {(r.id, r.cluster_id)
           for r in resolve_labels(committed, merges).collect()} | {
        (r.id, r.cluster_id)
        for r in out.filter("role = 'delta'").collect()
    }
    one_shot = connected_components(
        _df(spark, [(i,) for i in all_ids], "id bigint"),
        _df(spark, all_pairs, "id_a bigint, id_b bigint"),
    )
    assert got == {(r.id, r.cluster_id) for r in one_shot.collect()}


def test_dup_passages_matches_python_twin_on_random_corpus(spark):
    """Differential check on a seeded random corpus over a tiny alphabet
    (forced gram collisions, heavy island merging): spans and stripped
    text must match a direct Python implementation of the semantics."""
    import random

    from ocr_spark.dedup import dup_passages, strip_dup_passages

    rng = random.Random(42)
    k = 3
    docs = {
        i: [rng.choice("abcde") + str(rng.randrange(3))
            for _ in range(rng.randrange(0, 15))]
        for i in range(40)
    }
    rows = [(i, " ".join(t)) for i, t in docs.items()]
    df = _df(spark, rows, "doc_id bigint, text string")

    # python twin
    gram_docs: dict[tuple, set] = {}
    for i, t in docs.items():
        for p in range(len(t) - k + 1):
            gram_docs.setdefault(tuple(t[p:p + k]), set()).add(i)
    marked = {
        i: sorted(
            p for p in range(len(t) - k + 1)
            if len(gram_docs[tuple(t[p:p + k])]) >= 2
        )
        for i, t in docs.items()
    }
    want_spans, want_cov = set(), {i: set() for i in docs}
    for i, ps in marked.items():
        run: list[int] = []
        for p in ps:
            if run and p - run[-1] > k:
                want_spans.add((i, run[0], run[-1] + k))
                run = []
            run.append(p)
            want_cov[i].update(range(p, p + k))
        if run:
            want_spans.add((i, run[0], run[-1] + k))

    got_spans = {(r.id, r.span_start, r.span_end)
                 for r in dup_passages(df, k=k).collect()}
    assert got_spans == want_spans

    got_clean = {r.id: r.clean_text
                 for r in strip_dup_passages(df, k=k).collect()}
    for i, t in docs.items():
        want = " ".join(tok for p, tok in enumerate(t)
                        if p not in want_cov[i])
        assert got_clean[i] == want, (i, got_clean[i], want)


def test_score_buckets_under_sampled_group_is_null_not_skewed(spark):
    """A group whose sample has fewer rows than n_buckets−1 has missing
    interior boundaries; its docs must surface bucket NULL rather than
    silently skewing into the tail bucket."""
    from ocr_spark.assembly import score_buckets
    from ocr_spark.textstats import py_portable_hash

    one_sampled = [i for i in range(2000, 2400)
                   if py_portable_hash(f"sb/{i}") % 2 == 0][:1]
    unsampled = [i for i in range(2000, 2400)
                 if py_portable_hash(f"sb/{i}") % 2 != 0][:4]
    rows = [(i, "a", float(i)) for i in range(40)] + [
        (i, "c", float(i)) for i in one_sampled + unsampled
    ]
    df = _df(spark, rows, "doc_id bigint, source string, lm_score double")
    out = {r.id: r.bucket
           for r in score_buckets(df, sample_denom=2).collect()}
    assert all(out[i] is None for i in one_sampled + unsampled)
    assert {out[i] for i in range(40)} == {1, 2, 3}  # big group unaffected


def test_score_buckets_null_scores_surface_null_in_both_branches(spark):
    """A doc the scorer failed on (NULL score) has no defensible
    tercile: it must get bucket NULL in BOTH shapes — not head-1 in the
    exact branch (nulls-first ntile) and tail-n in the sampled branch
    (CASE fallthrough) — and must not displace or skew the buckets of
    scored docs (excluded from the ntile and from the boundary
    sample)."""
    from ocr_spark.assembly import score_buckets

    scored = [(i, "a", float(i)) for i in range(60)]
    nulls = [(i, "a", None) for i in range(100, 130)]
    ddl = "doc_id bigint, source string, lm_score double"
    with_nulls = _df(spark, scored + nulls, ddl)
    clean = _df(spark, scored, ddl)

    for kwargs in ({}, {"sample_denom": 2}):
        got = {r.id: r.bucket
               for r in score_buckets(with_nulls, **kwargs).collect()}
        want = {r.id: r.bucket
                for r in score_buckets(clean, **kwargs).collect()}
        assert len(got) == 90  # one row per input doc, nulls included
        assert all(got[i] is None for i, _, _ in nulls)
        assert {i: got[i] for i, _, _ in scored} == want


def test_band_table_rejects_bad_band_size(spark):
    """band_size > k would band nothing (zero pairs, silently); a
    non-divisor leaves tail permutations unbanded — both refused."""
    from ocr_spark.dedup import band_table, minhash_sketches

    sk = minhash_sketches(
        _df(spark, [(1, "a b c d")], "doc_id bigint, text string")
    )
    for bad in (0, 3, 16):
        with pytest.raises(ValueError, match="positive divisor"):
            band_table(sk, k=8, band_size=bad)
    assert band_table(sk, k=8, band_size=4).count() == 2


def test_dup_passages_incremental_equals_one_shot_restriction(spark):
    """Delta spans against a committed gram-frequency store == one-shot
    full-corpus spans restricted to the delta docs (disjoint batches
    make delta+committed frequency the exact total), including a window
    duplicated ONLY across the batch boundary and one only within the
    delta."""
    from ocr_spark.dedup import (
        _gram_table,
        dup_passages,
        dup_passages_incremental,
        gram_doc_freqs,
    )

    shared = " ".join(f"s{i}" for i in range(10))   # committed ↔ delta
    intra = " ".join(f"d{i}" for i in range(9))     # delta ↔ delta only
    batch1 = [(1, f"a1 a2 {shared} a3 a4"), (2, "b1 b2 b3 b4 b5 b6 b7 b8 b9")]
    batch2 = [
        (10, f"c1 {shared} c2 {intra}"),
        (11, f"e1 e2 e3 {intra} e4"),
    ]
    full = _df(spark, batch1 + batch2, "doc_id bigint, text string")
    committed = gram_doc_freqs(_gram_table(
        _df(spark, batch1, "doc_id bigint, text string"), 8, "text", "doc_id"
    ))
    got = {
        (r.id, r.span_start, r.span_end, r.n_grams)
        for r in dup_passages_incremental(
            _df(spark, batch2, "doc_id bigint, text string"), committed, k=8
        ).collect()
    }
    want = {
        (r.id, r.span_start, r.span_end, r.n_grams)
        for r in dup_passages(full, k=8).collect()
        if r.id >= 10
    }
    assert got == want and got
    # the cross-batch-only window produced a span in delta doc 10
    assert any(i == 10 for i, *_ in got)
    # first batch (no store) == batch-only dup_passages
    first = {
        (r.id, r.span_start, r.span_end)
        for r in dup_passages_incremental(
            _df(spark, batch1, "doc_id bigint, text string"), None, k=8
        ).collect()
    }
    batch_only = {
        (r.id, r.span_start, r.span_end)
        for r in dup_passages(
            _df(spark, batch1, "doc_id bigint, text string"), k=8
        ).collect()
    }
    assert first == batch_only


def test_semantic_dedup_matches_python_twin(spark):
    """semantic_dedup (SemDeDup) replays EXACTLY in plain Python: the
    embed-hash twin + the oracle_ivf k-means twin + within-cell trunc6
    cosine pairs + union-find.  Also pins the semantics that motivate the
    operator: a word-order shuffle (zero shared 3-gram shingles) embeds
    identically under bag-of-tokens hashing and IS merged, while two
    token-less docs (both zero vectors) are NOT merged with each other."""
    from ocr_spark.similarity import semantic_dedup
    from ocr_spark.textstats import py_portable_hash
    from tests.oracle_ivf import argmax_cell, cosine_trunc6, ivf_train_local

    dims, n_cells, n_iters, threshold = 32, 8, 3, 0.85

    def embed_twin(text: str) -> list[float]:
        s = [0] * dims
        for t in (text or "").split():
            h = py_portable_hash(t)
            s[h % dims] += 1 if (h >> 20) & 1 else -1
        n = math.sqrt(sum(x * x for x in s))
        return [0.0] * dims if n == 0 else [x / n for x in s]

    # 6 templates x 3 near-identical variants (one word dropped each),
    # a word-order SHUFFLE pair (ids 900/901), two token-less docs
    # (920/921), and distinct singleton docs.
    rows: list[tuple[int, str | None]] = []
    for t in range(6):
        toks = [f"t{t}w{i}" for i in range(24)]
        for v in range(3):
            cut = list(toks)
            del cut[v * 5]
            rows.append((t * 100 + v, " ".join(cut)))
    shuffled = [f"s{i}" for i in range(20)]
    rows.append((900, " ".join(shuffled)))
    rows.append((901, " ".join(reversed(shuffled))))
    rows.append((920, ""))
    rows.append((921, None))
    for i in range(10):
        rows.append((950 + i, f"lonely doc {i} " + " ".join(
            f"u{i}x{j}" for j in range(15))))

    docs = _df(spark, rows, "doc_id bigint, text string")
    got = {
        r.id: (r.cell, r.cluster_id, r.is_canonical)
        for r in semantic_dedup(
            docs, dims=dims, n_cells=n_cells, threshold=threshold,
            n_iters=n_iters,
        ).collect()
    }

    # ---- plain-Python twin ----
    vecs = {i: embed_twin(t) for i, t in rows}
    centroids = ivf_train_local(
        list(vecs.values()), n_cells=n_cells, n_iters=n_iters, dims=dims
    )
    cell = {i: argmax_cell(v, centroids) for i, v in vecs.items()}
    parent = {i: i for i in vecs}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    ids = sorted(vecs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if cell[a] != cell[b]:
                continue
            na = math.sqrt(sum(x * x for x in vecs[a]))
            nb = math.sqrt(sum(x * x for x in vecs[b]))
            if na == 0 or nb == 0:  # zero vectors never pair
                continue
            if cosine_trunc6(vecs[a], vecs[b]) >= threshold:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {
        i: (cell[i], find(i), i == find(i)) for i in vecs
    }
    assert got == want

    # the semantics the operator exists for:
    assert got[900][1] == got[901][1] == 900      # shuffle pair merged
    assert got[920][1] == 920 and got[921][1] == 921  # zero vecs apart
    for t in range(6):                            # every variant family
        assert {got[t * 100 + v][1] for v in range(3)} == {t * 100}
    from ocr_spark.dedup import shingle_hashes
    sh = docs.filter(F.col("doc_id").isin(900, 901)).select(
        F.explode(shingle_hashes(ts.tokens(F.col("text")))).alias("h"),
        "doc_id",
    )
    both = (sh.groupBy("h").agg(F.count_distinct("doc_id").alias("n"))
            .filter(F.col("n") > 1).count())
    assert both == 0  # the shuffle pair shares NO syntactic shingle


def test_semantic_dedup_arrow_assignment_matches_expr(spark):
    """The Arrow matmul assignment path (the >EXPR_ASSIGN_MAX_CELLS scale
    route) produces the SAME semantic_dedup output as the bit-replayable
    unrolled expression path away from argmax near-ties — training and
    assignment both ride the selected engine.  Also drives auto-switch
    (n_cells past the cutoff runs the arrow path end-to-end, every doc
    labeled exactly once) and the arrow width fail-fast."""
    import numpy as np  # noqa: F401  (arrow path dependency, baked in)

    from ocr_spark.similarity import (
        EXPR_ASSIGN_MAX_CELLS,
        _cell_of_arrow,
        hyperplanes,
        semantic_dedup,
    )

    rows = []
    for t in range(5):
        toks = [f"a{t}b{i}" for i in range(20)]
        rows.append((t * 10, " ".join(toks)))
        rows.append((t * 10 + 1, " ".join(toks[1:])))  # near-dup partner
    for i in range(12):
        rows.append((800 + i, " ".join(f"z{i}q{j}" for j in range(18))))
    rows.append((990, ""))  # zero vector rides both paths
    docs = _df(spark, rows, "doc_id bigint, text string")

    def run(mode, n_cells=8):
        return {
            r.id: (r.cell, r.cluster_id, r.is_canonical)
            for r in semantic_dedup(
                docs, n_cells=n_cells, threshold=0.85, n_iters=2,
                assign_mode=mode,
            ).collect()
        }

    got_expr = run("expr")
    got_arrow = run("arrow")
    assert got_expr == got_arrow
    assert len(got_expr) == len(rows)
    for t in range(5):  # the planted near-dups merged under both engines
        assert got_expr[t * 10 + 1][1] == t * 10

    # auto past the cutoff = the arrow path, end-to-end
    big = run("auto", n_cells=EXPR_ASSIGN_MAX_CELLS + 8)
    assert sorted(big) == sorted(i for i, _ in rows)
    assert all(0 <= c < EXPR_ASSIGN_MAX_CELLS + 8 for c, _, _ in big.values())

    # a mismatched embedding width must raise, not score a prefix
    bad = _df(spark, [(1, [0.1] * 5)], "id bigint, v array<double>")
    with pytest.raises(Exception, match="embedding width"):
        bad.select(
            _cell_of_arrow(F.col("v"), hyperplanes(4, 8)).alias("c")
        ).collect()

def test_incremental_semantic_two_batches_equal_one_run(spark, tmp_path):
    """Semantic member of the incremental family: the union of per-run
    incremental_semantic_pairs outputs, fed through connected
    components, reproduces the one-shot semantic_dedup LABELS under the
    same pinned quantizer; run 2 never re-emits a committed-only pair;
    a planted identical cross-batch text pairs at cosine ~1.0; and the
    zero-vector doc stays a singleton canonical through both paths."""
    from ocr_spark.dedup import connected_components
    from ocr_spark.similarity import (
        embed_hash,
        incremental_semantic_pairs,
        ivf_train_kmeans,
        semantic_dedup,
        semantic_sketches,
    )
    from ocr_spark.tableio import ParquetManifestIO

    rows: list[tuple[int, str]] = []
    for t in range(6):
        toks = [f"w{t}x{i}" for i in range(20)]
        rows.append((t * 10, " ".join(toks)))          # even → batch A
        rows.append((t * 10 + 1, " ".join(toks[1:])))  # odd  → batch B
    for i in range(8):  # all-distinct background, split across batches
        rows.append((900 + i, " ".join(f"u{i}v{j}" for j in range(15))))
    rows.append((990, ""))           # zero vector, batch A
    rows.append((991, rows[0][1]))   # text identical to doc 0, batch B
    full = _df(spark, rows, "doc_id bigint, text string")
    a = full.filter(F.col("doc_id") % 2 == 0)
    b = full.filter(F.col("doc_id") % 2 == 1)

    # the quantizer is pinned at store creation (trained on batch A) —
    # part of the store contract, shared verbatim by every later run
    # AND by the one-shot reference
    cents = ivf_train_kmeans(
        embed_hash(a), n_cells=4, n_iters=2, dims=32, vec_col="vec"
    )

    io = ParquetManifestIO(str(tmp_path / "store"))
    sk_a = semantic_sketches(a, cents)
    run1 = {(r.id_a, r.id_b, r.cosine_sim)
            for r in incremental_semantic_pairs(sk_a, None).collect()}
    io.append(sk_a, "sem")

    committed = io.read(spark, "sem")
    run2 = {(r.id_a, r.id_b, r.cosine_sim)
            for r in incremental_semantic_pairs(
                semantic_sketches(b, cents), committed).collect()}

    assert not (run1 & run2)  # no pair is ever emitted twice
    b_ids = {r.doc_id for r in b.select("doc_id").collect()}
    assert all(p[0] in b_ids or p[1] in b_ids for p in run2)
    planted = [p for p in run2 if p[:2] == (0, 991)]
    assert planted and planted[0][2] >= 0.999

    # end-to-end: union-of-runs pairs → components == one-shot labels
    edges = _df(
        spark,
        sorted((ia, ib) for ia, ib, _ in run1 | run2),
        "id_a bigint, id_b bigint",
    )
    labels = connected_components(
        full.select(F.col("doc_id").alias("id")), edges
    )
    got = {r.id: r.cluster_id for r in labels.collect()}
    want = {
        r.id: r.cluster_id
        for r in semantic_dedup(full, centroids=cents).collect()
    }
    assert got == want
    assert want[990] == 990  # zero-vector doc: singleton canonical
    for t in range(6):       # every cross-batch near-dup pair merged
        assert want[t * 10 + 1] == t * 10

def test_incremental_ann_three_run_random_differential(spark, tmp_path):
    """Seeded-random differential for the single-join incremental ANN
    shape at an UNROLLED width (dims=16 ≤ UNROLL_MAX_DIMS — the width
    class whose earlier two-join-union form exponentially OOM'd the
    driver): three sequential runs through a real parquet store, so run
    3's committed side is a UNION of two snapshot directories below the
    join — a plan shape the two-batch test never builds.  Union of the
    three runs' pairs must equal the one-shot single-table
    lsh_ann_pairs over the full corpus, with no pair emitted twice and
    every run-k pair touching batch k."""
    import random

    from ocr_spark.similarity import (
        ann_sketches,
        hyperplanes,
        incremental_lsh_ann_pairs,
        lsh_ann_pairs,
    )
    from ocr_spark.tableio import ParquetManifestIO

    rng = random.Random(20260819)
    dims = 16

    def unit(seed_vec):
        n = math.sqrt(sum(x * x for x in seed_vec))
        return [x / n for x in seed_vec]

    rows = []
    base_vecs = []
    for i in range(40):  # anchor vectors
        v = unit([rng.gauss(0, 1) for _ in range(dims)])
        base_vecs.append(v)
        rows.append((i, v))
    for i in range(40, 120):  # jittered near-dups of random anchors
        a = base_vecs[rng.randrange(len(base_vecs))]
        v = unit([x + rng.gauss(0, 0.12) for x in a])
        rows.append((i, v))
    rows.append((990, [0.0] * dims))  # zero vector rides a batch

    batch_of = {vid: rng.randrange(3) for vid, _ in rows}
    full = _df(spark, rows, "vec_id bigint, embedding array<double>")
    planes = hyperplanes(3, dims=dims)
    io = ParquetManifestIO(str(tmp_path / "store"))

    runs, seen = [], set()
    for k in range(3):
        ids = [vid for vid, _ in rows if batch_of[vid] == k]
        batch = full.filter(F.col("vec_id").isin(ids))
        sk = ann_sketches(batch, planes=planes, dims=dims)
        committed = io.read(spark, "ann") if k else None
        got = {(r.id_a, r.id_b, r.cosine_sim)
               for r in incremental_lsh_ann_pairs(
                   sk, committed, dims=dims, min_cosine=0.8).collect()}
        assert not (got & seen)  # no pair re-emitted by a later run
        assert all(
            batch_of[p[0]] == k or batch_of[p[1]] == k for p in got
        )
        runs.append(got)
        seen |= got
        io.append(sk, "ann")

    want = {(r.id_a, r.id_b, r.cosine_sim)
            for r in lsh_ann_pairs(
                full, planes=planes, dims=dims, min_cosine=0.8).collect()}
    assert seen == want
    assert len(want) > 20  # the jitter actually produced pairs to check
