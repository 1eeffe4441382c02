"""Eval-set decontamination: flag training documents that overlap a
benchmark/eval set by hashed word n-grams.

The standard training-data hygiene operator (the curation-suite sibling of
dedup/PII-scrub): any document sharing ≥ ``min_overlap`` distinct n-grams
with the eval set — POOLED across eval documents, so two single-gram hits
on two different eval docs count as 2 — is contamination; it would leak
benchmark answers into the training corpus.  (Per-eval-doc thresholds are
the stricter alternative; group the gram join by ``(doc_id, eval_id)``
and take the max if that contract is needed.  ``n_eval_hit`` in the
output already reports how many eval docs were touched.)

Shape for 100 TB: eval sets are small by definition (10^4–10^6 grams), so
the hashed eval grams are **broadcast** — the corpus side never shuffles
its grams.  Per doc: distinct-shingle hashes (narrow, reuses
:func:`ocr_spark.dedup.shingle_hashes`), a broadcast-hash-join against the
eval grams, and one groupBy(doc_id) over the MATCHED grams only (tiny —
contamination is rare).  No O(corpus × eval) pair blowup, no corpus-side
gram shuffle.  For a membership set too big to broadcast exactly
(blocklists / seen-registries at 10^9+ keys), use
:func:`decontaminate_bloom`: a Bloom bitmap built as a TABLE
(:mod:`ocr_spark.membership`) prunes the corpus grams first, and the
exact join runs only on the tiny surviving fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.dedup import shingle_hashes
from ocr_spark.textstats import explode_non_null, tokens

# Decontamination-appropriate defaults, NOT the dedup shingle width: 8-13
# word grams are the typical benchmark-decontamination window (GPT-3 used
# 13-grams, PaLM 8-grams) and ≥2 distinct shared grams avoids flagging a
# document for one incidentally common phrase.  Dedup keeps its own 3-gram
# default (DEFAULT_SHINGLE) — similarity and leakage are different tasks.
DEFAULT_DECONTAM_NGRAM = 8
DEFAULT_MIN_OVERLAP = 2


def eval_gram_table(
    eval_set: DataFrame,
    n: int = DEFAULT_DECONTAM_NGRAM,
    eval_id_col: str = "eval_id",
    text_col: str = "text",
) -> DataFrame:
    """(eval_id, g) distinct hashed n-grams of the eval set — the small
    side; precompute + cache it when decontaminating many corpora."""
    return (
        explode_non_null(
            eval_set, shingle_hashes(tokens(F.col(text_col)), n), "g",
            F.col(eval_id_col).alias("eval_id"),
        )
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    eval_set: DataFrame,
    n: int = DEFAULT_DECONTAM_NGRAM,
    min_overlap: int = DEFAULT_MIN_OVERLAP,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """Per-document eval-set overlap: (doc_id, n_matched_grams,
    n_eval_hit, contaminated).

    ``n_matched_grams`` = distinct doc n-grams also present in ANY eval
    document; ``n_eval_hit`` = distinct eval documents sharing ≥ 1 gram;
    ``contaminated`` = n_matched_grams ≥ ``min_overlap``.  Filter the
    corpus with ``~contaminated`` to decontaminate.  The defaults are the
    decontamination-typical 8-word grams with ≥2 shared grams; raise them
    further to trade recall for precision on boilerplate-heavy corpora,
    or lower ``n`` for short-document corpora where few docs reach 8
    tokens at all.  ``n=3, min_overlap=1`` (the dedup-shingle values)
    flag far more documents.
    """
    eg = eval_gram_table(eval_set, n, eval_id_col, text_col)
    dg = explode_non_null(
        docs, shingle_hashes(tokens(F.col(text_col)), n), "g",
        F.col(id_col).alias("doc_id"),
    )
    return _finish(docs, id_col, _hits(dg, eg), min_overlap)


def _hits(
    dg: DataFrame, eg: DataFrame, broadcast_eval: bool = True
) -> DataFrame:
    """groupBy(doc_id) over the matched grams — shared by the broadcast
    and Bloom-pruned paths, which differ only in what reaches the join.
    ``broadcast_eval=False`` makes the gram join a shuffled hash join for
    membership sets past the broadcast ceiling (the Bloom verify path at
    blocklist scale)."""
    return (
        dg.join(F.broadcast(eg) if broadcast_eval else eg, on="g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_matched_grams"),
            F.countDistinct("eval_id").alias("n_eval_hit"),
        )
    )


def _finish(
    docs: DataFrame, id_col: str, hits: DataFrame, min_overlap: int
) -> DataFrame:
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_matched_grams", F.lit(0)).alias("n_matched_grams"),
            F.coalesce("n_eval_hit", F.lit(0)).alias("n_eval_hit"),
            (F.coalesce("n_matched_grams", F.lit(0)) >= min_overlap)
            .alias("contaminated"),
        )
    )


def decontaminate_bloom(
    docs: DataFrame,
    eval_set: DataFrame,
    n: int = DEFAULT_DECONTAM_NGRAM,
    min_overlap: int = DEFAULT_MIN_OVERLAP,
    m_bits: int = 1 << 20,
    k: int = 4,
    mode: str = "verify",
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    broadcast_bloom: bool = True,
    broadcast_eval: bool = True,
    persist_eval: bool = True,
) -> DataFrame:
    """Bloom-pruned decontamination — the membership-set scale path.

    ``mode='verify'`` (the default, and the production shape): build a
    Bloom bitmap over the eval grams (:func:`ocr_spark.membership.bloom_build`),
    prune the corpus grams through it, then run the EXACT eval join on
    the survivors only.  Bloom filters have no false negatives, so the
    output is **identical** to :func:`decontaminate` — same schema, same
    rows — while the exact join (the part that needs the full eval gram
    table resident) processes only the pruned fraction.  Size
    ``m_bits ≈ 12 × distinct eval grams`` for ~0.6% false-positive rate
    at ``k=4``.

    ``mode='approx'``: skip the verify join entirely — after the bitmap
    is built, the eval table is never touched again (THE blocklist shape:
    the bitmap is computed once, persisted, and reused across corpora).
    Output ``(doc_id, n_bloom_grams, contaminated)`` where
    ``n_bloom_grams`` counts distinct doc grams the filter accepts;
    ``contaminated`` errs only toward over-flagging (false positives at
    the filter's fpp), never under.

    Scale knobs, all three needed at the 10^9-key blocklist regime:
    ``broadcast_bloom=False`` switches the bitmap probe to a shuffled
    hash join for bitmaps past the broadcast ceiling (≳10^8 bits);
    ``broadcast_eval=False`` does the same for the VERIFY join's eval
    gram table (an 8+ GB membership set cannot broadcast — without this
    the verify path would collect it to the driver);
    ``persist_eval`` caches the eval gram table so the bitmap build and
    the verify join share one tokenize/shingle pass (pass False if the
    caller manages its own cache of :func:`eval_gram_table`).  In approx
    mode neither eval knob matters — the eval set is read once, for the
    bitmap, and never joined.
    """
    from ocr_spark.membership import bloom_build, bloom_probe

    if mode not in ("verify", "approx"):
        raise ValueError(f"mode must be 'verify' or 'approx', got {mode!r}")
    eg = eval_gram_table(eval_set, n, eval_id_col, text_col)
    if mode == "verify" and persist_eval:
        # the bitmap build and the verify join both consume eg; without
        # the cache the membership set is tokenized/shingled twice.
        eg = eg.persist()
    bloom = bloom_build(eg, "g", m_bits, k)
    # no .distinct() on the corpus grams: shingle_hashes is array_distinct
    # per doc, so (doc_id, g) is already unique — a global distinct here
    # would just force an extra full shuffle of every corpus gram row.
    dg = explode_non_null(
        docs, shingle_hashes(tokens(F.col(text_col)), n), "g",
        F.col(id_col).alias("doc_id"),
    )
    probed = bloom_probe(
        dg, bloom, "g", m_bits, k, broadcast_bloom=broadcast_bloom
    )
    candidates = probed.filter(F.col("might_contain")).drop("might_contain")
    if mode == "approx":
        hits = candidates.groupBy("doc_id").agg(
            F.countDistinct("g").alias("n_bloom_grams")
        )
        return (
            docs.select(F.col(id_col).alias("doc_id"))
            .join(hits, on="doc_id", how="left")
            .select(
                "doc_id",
                F.coalesce("n_bloom_grams", F.lit(0)).alias("n_bloom_grams"),
                (F.coalesce("n_bloom_grams", F.lit(0)) >= min_overlap)
                .alias("contaminated"),
            )
        )
    return _finish(
        docs, id_col, _hits(candidates, eg, broadcast_eval), min_overlap
    )
