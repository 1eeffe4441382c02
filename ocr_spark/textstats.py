"""Text-analysis operators for a training-data pipeline, as native Catalyst
column expressions: tokenization, token counting, language-ID, quality
scoring, document fingerprinting.

Not part of the reference (which only ever sees OCR'd ID cards); these are
the large-corpus curation operators the engine needs at 10^12-document scale.
Everything here is pure ``pyspark.sql.functions`` — JVM-side, whole-stage
codegen, no Python in the hot path — and every operator has a line-for-line
ANSI-SQL twin in the driver contract (DuckDB oracle).

Portability contract with the oracles (do not change casually):
- tokens   = split(trim(text), '\\s+'), empty text → empty array
- norm     = lower(trim(collapse-ws(text)))
- hash     = cast(conv(substr(md5(x),1,15),16,10) as bigint)
             ≡ DuckDB ('0x'||substr(md5(x),1,15))::bigint  (60-bit, positive)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword language-ID
# heuristic.  Deliberately small + literal: they are broadcast as plan
# constants and mirrored verbatim in the DuckDB oracle SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "for", "with"),
    "es": ("el", "la", "de", "y", "que", "en", "los", "del", "se", "por"),
    "de": ("der", "die", "das", "und", "zu", "den", "von", "mit", "ist", "im"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "une", "du"),
}
LANG_ORDER: tuple[str, ...] = ("de", "en", "es", "fr")  # tie-break order

# One BPE-ish pre-tokenization class: letter runs, digit runs, single
# non-alnum marks (the classic GPT-2-style pre-split, ASCII approximation).
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def trunc4(col: Column) -> Column:
    """Floor-truncate to 4 decimals.  Used instead of round() for every
    cross-engine-compared double: Spark rounds ties via decimal HALF_UP
    while DuckDB rounds the raw double, so exact .xxxx5 values diverge;
    floor on the identical IEEE double is deterministic in both."""
    return F.floor(col * F.lit(10000.0)) / F.lit(10000.0)


def portable_hash(col: Column) -> Column:
    """60-bit positive hash identical across Spark and DuckDB (see module
    docstring).  Used by minhash/simhash/LSH so oracles can replay them."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def py_portable_hash(s: str) -> int:
    """Driver-side Python twin of :func:`portable_hash` — THE single
    definition every driver-side constant derivation (hyperplanes, IVF
    centroids, minhash coefficients, test oracles) must go through, so a
    width/encoding change can never desynchronize one consumer."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def norm_text(text: Column) -> Column:
    """Canonical text form shared by dedup + fingerprinting."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def tokens(text: Column) -> Column:
    """Whitespace tokens; '' and NULL → empty array (portable with
    string_split_regex on the trimmed string filtered for '')."""
    t = F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")
    return F.filter(t, lambda x: x != F.lit(""))


def explode_non_null(df: DataFrame, expr, alias: str, *keep) -> DataFrame:
    """``select(*keep, explode_outer(expr) AS alias)`` plus a null filter
    — the ONE supported way to explode a computed array here.

    A plain ``explode`` makes Catalyst infer a ``size(expr) > 0``
    pre-filter and push it through the exchange to the scan, where the
    whole generator expression re-evaluates per row on the scan's (often
    single-row-group → single-core) partitioning.  Measured: the dedup
    k-gram stage ran 3.4 s plain vs 0.6 s outer at sf0.1, and simhash's
    feature explode 37 s plain vs 2.8 s outer on the repartitioned union
    corpus.  Outer generators fall out of whole-stage codegen, but that
    loss is an order of magnitude smaller.  A bare ``explode_outer``
    emits one NULL row per empty array that every downstream aggregate
    would have to guard against; outer + explicit null filter keeps
    single evaluation AND drops the ghost rows.  This helper exists so a
    new call site cannot quietly pick the non-outer variant and
    re-trigger the trap (``posexplode`` sites use the same outer + null
    filter form inline).
    """
    return (
        df.select(*keep, F.explode_outer(expr).alias(alias))
        .filter(F.col(alias).isNotNull())
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count via the pre-tokenizer regex — the cheap
    stand-in for a real BPE vocab at corpus-statistics time."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(text, F.lit("")), F.lit(BPE_ISH_REGEX), F.lit(0)
        )
    ).cast("bigint")


def stopword_hits(toks: Column, lang: str) -> Column:
    """Number of tokens (with multiplicity) in the language's stopword set."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))


def langid(text: Column) -> Column:
    """Argmax stopword-vote language; deterministic tie-break on LANG_ORDER;
    zero hits everywhere → 'und' (undetermined)."""
    toks = tokens(text)
    scored = [
        F.struct(
            stopword_hits(toks, lang).alias("hits"),
            # negative index gives "earlier lang wins ties" under max()
            F.lit(-i).alias("prio"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(LANG_ORDER)
    ]
    best = F.array_max(F.array(*scored))
    return F.when(best["hits"] <= 0, F.lit("und")).otherwise(best["lang"])


def punct_ratio(text: Column) -> Column:
    """Non-alnum/non-space chars per char, 4 decimals; '' → 0.0."""
    t = F.coalesce(text, F.lit(""))
    n = F.length(t)
    punct = F.size(
        F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        trunc4(punct.cast("double") / n.cast("double"))
    )


def quality_score(text: Column, lang: str = "en") -> Column:
    """Heuristic 0..1 quality score of a document for corpus curation:
    rewards mid-length docs and stopword presence, penalizes punctuation
    soup.  Rounded to 4 decimals so cross-engine float equality holds."""
    toks = tokens(text)
    n_tok = F.size(toks).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    sw_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        stopword_hits(toks, lang).cast("double") / n_tok
    )
    sw_score = F.least(sw_ratio * F.lit(4.0), F.lit(1.0))
    p_score = F.greatest(
        F.lit(0.0), F.lit(1.0) - punct_ratio(text) * F.lit(2.0)
    )
    return trunc4(
        F.lit(0.4) * len_score + F.lit(0.3) * sw_score + F.lit(0.3) * p_score
    )


# PII scrubbing patterns — deliberately simple character-class regexes so
# Java (Spark) and RE2 (DuckDB) agree exactly; each replaced with a typed
# placeholder token so downstream tokenization stays stable.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # explicit class, not [^\s]: Java's \s includes \x0b, RE2's does not
    ("url", r"https?://[^ \t\n\r\f\x0b]+", "<URL>"),
    # literal space, not \s: Java's \s includes \x0B, RE2's does not.
    # Separators are bounded to ≤2 between digits (') ' and ' (' are two
    # chars in real formats) and total digits to 8-15 (ITU E.164 + short
    # national formats): an unbounded run class greedily collapsed whole
    # year lists / address+zip sequences into a single <PHONE>,
    # destroying content.
    ("phone", r"\+?[0-9](?:[()\- ]{0,2}[0-9]){7,14}", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def scrub_pii(text: Column) -> Column:
    """Replace emails, URLs, phone-like runs and IPv4s with placeholder
    tokens — the standard pre-training scrub, as chained native
    ``regexp_replace`` (one codegen pass per pattern, no UDF).  Pattern
    order matters (URL before IP would leave host-embedded IPs; email
    before phone keeps digits in addresses intact) and is part of the
    contract."""
    out = F.coalesce(text, F.lit(""))
    for _name, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> list[Column]:
    """One ``<name>_n`` count column per PII pattern (pre-scrub counts)."""
    t = F.coalesce(text, F.lit(""))
    return [
        F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0)))
        .cast("bigint").alias(f"{name}_n")
        for name, pattern, _token in PII_PATTERNS
    ]


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id",
                     min_tokens: int = 50):
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models" §A1.1 quality heuristics): highly repetitive
    documents (keyword stuffing, templated spam, decode loops) are
    low-value training data even when every individual line looks fine.

    Output per doc: ``n_tokens``, ``top_token_frac`` (occurrences of the
    most frequent token / total tokens), ``dup_2gram_frac`` /
    ``dup_3gram_frac`` (1 − distinct/total word n-grams), and
    ``repetitive`` (top_token_frac > 0.20 or dup_3gram_frac > 0.30 — the
    Gopher-shaped cut, tune per corpus).  The repetition thresholds apply
    only when ``n_tokens >= min_tokens`` (Gopher pairs its repetition
    cuts with a ~50-word minimum): on tiny documents the fractions are
    degenerate (an all-distinct 4-token doc has top_token_frac 0.25) and
    would flag nearly everything short; pass ``min_tokens=0`` to disable
    the floor.  All fractions floor-truncated to 4 digits (cross-engine,
    see trunc4).

    Shape for scale: the n-gram fractions are pure array expressions (no
    shuffle); the token-frequency max uses the standard explode →
    groupBy(doc, token) → groupBy(doc) two-level aggregation —
    whole-stage codegen with map-side partial counts, shuffling only
    (doc_id, token, count) rows, never texts.  Spark lacks a per-array
    mode() primitive; an HOF emulation would be O(tokens × distinct)
    interpreted per row, strictly worse."""
    from ocr_spark.dedup import shingles

    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))

    def dup_frac(n: int) -> Column:
        total = F.size("toks") - (n - 1)
        distinct = F.size(shingles(F.col("toks"), n))
        return F.when(total <= 0, F.lit(0.0)).otherwise(
            trunc4(
                F.lit(1.0)
                - distinct.cast("double") / total.cast("double")
            )
        )

    grams = base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )
    tok_counts = (
        explode_non_null(base, "toks", "tok", "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("total_c"),
        )
        .select(
            "doc_id",
            trunc4(
                F.col("top_c").cast("double")
                / F.col("total_c").cast("double")
            ).alias("top_token_frac"),
        )
    )
    out = grams.join(tok_counts, on="doc_id", how="left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("top_token_frac", F.lit(0.0)).alias("top_token_frac"),
        "dup_2gram_frac",
        "dup_3gram_frac",
    )
    return out.withColumn(
        "repetitive",
        (F.col("n_tokens") >= min_tokens)
        & ((F.col("top_token_frac") > 0.20)
           | (F.col("dup_3gram_frac") > 0.30)),
    )


def fingerprint(text: Column) -> Column:
    """Full-document fingerprint: md5 of the normalized text."""
    return F.md5(norm_text(text))


def with_winnow_fingerprints(df, text_col: str = "text",
                             out_col: str = "winnow",
                             k: int = 5, w: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken \'03):
    hash every char k-gram of the normalized text, slide a window of w
    hashes, keep each window\'s minimum — the classic plagiarism/near-dup
    fingerprint that guarantees matches of length ≥ k+w-1 share a print.

    DataFrame-level on purpose: the k-gram hash array MUST be a projected
    attribute before the window-min pass references it — an inline
    expression gets re-evaluated inside the per-window lambda, turning the
    operator O(n²) in document length (observed as a multi-minute hang at
    SF scale).  Three narrow projections, no shuffle, no UDF.

    Adds ``out_col`` = distinct selected hashes in window order
    (array<bigint>); all other columns pass through."""
    cols = df.columns
    norm = norm_text(F.coalesce(F.col(text_col), F.lit("")))
    staged = df.select(*cols, norm.alias("__winnow_norm"))

    t = F.col("__winnow_norm")
    n = F.length(t)
    grams = F.when(n < k, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: portable_hash(t.substr(i, F.lit(k))),
        )
    )
    staged = staged.select(*cols, grams.alias("__winnow_grams"))

    g = F.col("__winnow_grams")
    sel = F.when(
        F.size(g) < w, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(g) - (w - 1)),
            lambda j: F.array_min(F.slice(g, j, w)),
        )
    )
    return staged.select(*cols, F.array_distinct(sel).alias(out_col))


def prefix_fingerprint(text: Column, n_tokens: int = 8) -> Column:
    """Locality-friendly fingerprint of the first ``n_tokens`` tokens —
    the 'rolling hash head' used for cheap near-duplicate pre-bucketing."""
    head = F.array_join(F.slice(tokens(norm_text(text)), 1, n_tokens), " ")
    return portable_hash(head)


def bitlen(col: Column) -> Column:
    """``floor(log2(x)) + 1`` of a positive bigint as an EXACT integer
    (the length of the binary representation).

    This is the cross-engine log2 quantizer every surprisal/idf proxy in
    this module builds on: ``ln``/``log2`` over doubles are not required
    to be correctly rounded, so the JVM and DuckDB can disagree in the
    last ulp and flip a trunc4 boundary — string-length-of-``bin()`` is
    exact and identical in both engines (and in Python:
    ``int.bit_length``)."""
    return F.length(F.bin(col)).cast("bigint")


def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_exploded: bool = True,
) -> DataFrame:
    """Unigram-LM quality scoring (the KenLM-perplexity stand-in of
    CCNet/RedPajama-style curation): score each document by its average
    per-token corpus surprisal, quantized to whole bits —
    ``surprisal(t) = bitlen(total_occurrences) − bitlen(count(t))``
    ≈ ``log2(total / count(t))``.  Rare-token-heavy documents (gibberish,
    OCR noise, codes) score high; documents of common fluent text score
    low — the same keep-the-middle signal a real LM gives, with bit
    granularity (see :func:`bitlen` for why not ``ln``: the oracle must
    replay the arithmetic exactly).

    Output: ``(doc_id, n_tokens, sum_surprisal, lm_score)`` with
    ``lm_score = trunc4(sum_surprisal / n_tokens)`` (0.0 for token-less
    docs — they flow through, not vanish).

    Shape for 100 TB: one explode feeds BOTH the frequency build and the
    probe (``persist_exploded`` caches it — session-lifetime entry, same
    caveat as dedup's sketch cache); the unigram table is one row per
    distinct token (groupBy with map-side partial counts), joined back on
    the token.  Broadcast it when the vocabulary fits (it usually does —
    vocabularies grow sub-linearly in corpus size); a hot token is a
    skewed probe key whose build side is ONE row, so AQE's skew-join
    split handles the residual shuffle case.  In production the table is
    typically capped to top-V with an OOV default and persisted across
    runs; here it is exact so the oracle can replay it."""
    ex = explode_non_null(
        df, tokens(F.col(text_col)), "tok", F.col(id_col).alias("doc_id")
    )
    if persist_exploded:
        ex = ex.persist()
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total_c"))
    surprisal = freq.join(F.broadcast(total)).select(
        "tok",
        (bitlen(F.col("total_c")) - bitlen(F.col("c"))).alias("surprisal"),
    )
    scored = (
        ex.join(surprisal, on="tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("surprisal").cast("bigint").alias("sum_surprisal"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint")
            .alias("n_tokens"),
            F.coalesce("sum_surprisal", F.lit(0)).cast("bigint")
            .alias("sum_surprisal"),
            F.when(F.coalesce("n_tokens", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                trunc4(
                    F.col("sum_surprisal").cast("double")
                    / F.col("n_tokens").cast("double")
                )
            ).alias("lm_score"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_counts: bool = True,
    with_bm25: bool = False,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf·idf with the
    idf quantized to whole bits: ``idf(t) = bitlen(N) − bitlen(df_t)``
    ≈ ``log2(N / df_t)`` (exact integers, see :func:`bitlen`), so
    ``score = tf · idf`` is exact bigint arithmetic the oracle replays
    bit-for-bit.  ``N`` = all input documents (including token-less ones,
    which simply produce no output rows).

    Determinism: ties rank by ``(score DESC, token ASC)`` under
    ``row_number`` — total order, partitioning-independent.

    Output: ``(doc_id, rank, token, tf, df_docs, score)``, ≤ k rows per
    doc.  Shape for 100 TB: term counts are one (doc, token) groupBy
    (map-side combine); document frequency reuses those counts with a
    second groupBy on token (one row per distinct token — broadcast
    join back); the top-k window shuffles by doc_id only.  No shuffle
    carries raw text.  ``persist_counts`` caches the (doc, token, tf)
    table that feeds both the df build and the probe."""
    tc = (
        explode_non_null(
            df, tokens(F.col(text_col)), "token",
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    if persist_counts:
        tc = tc.persist()
    dfreq = tc.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_docs")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = dfreq.join(F.broadcast(n_docs)).select(
        "token",
        "df_docs",
        (bitlen(F.col("n_docs")) - bitlen(F.col("df_docs"))).alias("idf_q"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    scored = (
        tc.join(idf, on="token")
        .select(
            "doc_id", "token", "tf", "df_docs",
            (F.col("tf") * F.col("idf_q")).cast("bigint").alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "token", "tf", "df_docs", "score")
    )
    if not with_bm25:
        return scored
    # BM25 weight OF THE TFIDF-SELECTED rows (selection stays tf·idf so
    # the output is a strict column extension): needs dl per doc and the
    # corpus avgdl, then the shared per-term ppm expression.  idf_q is
    # re-derived via the same broadcast join rather than threaded through
    # the window to keep the selected plan unchanged.
    dl = tc.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    avg = dl.join(F.broadcast(n_docs)).agg(
        (F.sum("dl").cast("double")
         / F.first("n_docs").cast("double")).alias("avgdl")
    )
    return (
        scored.join(dl, on="doc_id")
        .join(F.broadcast(avg))
        .join(idf.select("token", "idf_q"), on="token")
        .select(
            "doc_id", "rank", "token", "tf", "df_docs", "score",
            bm25_term_ppm(
                F.col("tf"), F.col("idf_q"), F.col("dl"), F.col("avgdl")
            ).alias("bm25_ppm"),
        )
    )


# Okapi BM25 constants (the standard defaults) and the exactness trick:
# the per-term score is ONE double expression — literals parse to the
# same doubles everywhere, +|*|/ are IEEE-correctly-rounded, so the
# expression is bit-identical across engines as long as the
# parenthesization matches — floored to integer parts-per-million.
# Summing the resulting BIGINTs is then order-independent, dodging the
# float-summation-order trap that would otherwise flip trunc/tie
# boundaries between Spark and DuckDB partial-aggregation orders.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_term_ppm(
    tf: Column, idf_q: Column, dl: Column, avgdl: Column
) -> Column:
    """Per-(doc, term) Okapi BM25 partial score in exact ppm:
    ``floor(1e6 · idf_q · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)))``
    with the bit-quantized idf (:func:`bitlen`) standing in for the
    log-idf.  The DuckDB twin must replicate this exact expression tree
    (see the module-level constants' comment)."""
    tfd = tf.cast("double")
    num = idf_q.cast("double") * (tfd * F.lit(BM25_K1 + 1.0))
    den = tfd + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (dl.cast("double") / avgdl)
    )
    return F.floor((num / den) * F.lit(1000000.0)).cast("bigint")


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    persist_counts: bool = True,
) -> DataFrame:
    """Okapi BM25 lexical retrieval: top-``k`` documents per query —
    the sparse/lexical complement to the embedding-ANN operators in
    :mod:`ocr_spark.similarity` (hybrid retrieval runs both and merges).

    Scoring: per matched (query, doc, term), :func:`bm25_term_ppm`
    (bit-quantized idf, standard k1=1.2 / b=0.75 length normalization);
    per (query, doc), the exact bigint sum of term ppms; ranking by
    ``(score_ppm DESC, doc_id ASC)`` — a total order, so results are
    partitioning-independent and oracle-replayable.

    Output: ``(query_id, doc_id, rank, n_terms_matched, score_ppm)``,
    ≤ ``k`` rows per query; queries matching nothing produce no rows.

    Shape for 100 TB: the corpus side is the same two groupBys
    tfidf_topk runs (term counts with map-side combine, then one row
    per distinct token); queries are small by definition — their
    distinct (query_id, token) pairs BROADCAST into the term-count
    table, so the corpus never shuffles against the query set, and only
    matched rows (|queries| · avg postings) reach the per-pair sum.
    The final top-k window shuffles matched pairs by query_id only.

    ``persist_counts`` caches the (doc, token, tf) table that feeds the
    df/dl builds and the query probe (same knob as
    :func:`tfidf_topk`).  The cache outlives the call — a long-lived
    session scoring many corpora in a loop should pass False (or
    unpersist between corpora) to avoid accumulating one cached
    corpus-sized table per call.
    """
    tc = (
        explode_non_null(
            docs, tokens(F.col(text_col)), "token",
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    if persist_counts:
        tc = tc.persist()
    dfreq = tc.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_docs")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = dfreq.join(F.broadcast(n_docs)).select(
        "token",
        (bitlen(F.col("n_docs")) - bitlen(F.col("df_docs"))).alias("idf_q"),
    )
    dl = tc.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    avg = dl.join(F.broadcast(n_docs)).agg(
        (F.sum("dl").cast("double")
         / F.first("n_docs").cast("double")).alias("avgdl")
    )
    qt = (
        explode_non_null(
            queries, tokens(F.col(query_text_col)), "token",
            F.col(query_id_col).alias("query_id"),
        )
        .select("query_id", "token")
        .distinct()
    )
    matched = (
        tc.join(F.broadcast(qt), on="token")
        .join(idf, on="token")
        .join(dl, on="doc_id")
        .join(F.broadcast(avg))
        .select(
            "query_id", "doc_id",
            bm25_term_ppm(
                F.col("tf"), F.col("idf_q"), F.col("dl"), F.col("avgdl")
            ).alias("term_ppm"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
            F.sum("term_ppm").cast("bigint").alias("score_ppm"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )
    return (
        matched.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "n_terms_matched", "score_ppm")
    )
