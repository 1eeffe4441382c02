"""Distributed BPE tokenizer training — learn merge rules over a corpus
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units"), Spark-first.

The scale insight is Sennrich's own: BPE does not train on the corpus,
it trains on the WORD-FREQUENCY TABLE.  One corpus pass builds
``(word, freq)`` (explode → groupBy — the only corpus-sized job), and
every merge round after that runs on the vocabulary table, which is
bounded by the corpus's distinct-word count, not its token count: a
100 TB crawl with a 10^7-word vocabulary iterates over 10^7 rows per
round regardless of corpus size.

Per round (all on the persisted/checkpointed vocab table):

1. adjacent symbol pairs via ``arrays_zip(slice, slice)`` — explode,
   weighted by word freq, one aggregation → pair counts (exact
   bigints);
2. best pair = total order ``(count DESC, a ASC, b ASC)`` — exact
   integers + a total order make every round's choice partition- and
   shuffle-invariant, so the learned merge SEQUENCE is a pure function
   of the corpus (the plain-Python twin in tests/test_bpe.py replays it
   rule-for-rule);
3. apply the rule with one ``aggregate`` fold over each word's symbol
   array — greedy left-to-right, chain-aware (merging ``(a,a)`` over
   ``aaaa`` yields ``[aa, aa]``), interpreted-eval but per VOCAB row,
   never per corpus token (the measured HOF trap only bites at
   corpus/pair cardinality — see similarity.UNROLL_MAX_DIMS);
4. lineage truncation via :func:`ocr_spark.dedup.make_checkpointer`
   (shared with connected_components): without it, round N's plan
   nests N folds and Catalyst analysis grows without bound.

Segmentation (``bpe_segment``) applies the learned rules to the
DISTINCT words only — an Arrow-batched pandas UDF over the vocabulary
frame (ranked-merge apply is inherently sequential per word; vocab
cardinality makes the Python loop cheap) — and the corpus gets its
pieces by a word → pieces equi-join, so corpus-sized data never crosses
the Python boundary.

Unicode note: symbols start as Java UTF-16 code units (``split`` on a
string column), which equals Python's code-point split for all BMP
text; astral-plane characters (emoji) would segment as surrogate halves
on the Spark side.  Tokenize/normalize upstream if that matters.

The reference service (main.py) ships no tokenizer training; this
operator belongs to the engine's training-data additions, beside the
trained quality probe and the dedup/ANN families.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.dedup import make_checkpointer

#: end-of-word marker appended as a standalone symbol (Sennrich's
#: ``</w>``): merges learned against it cannot cross word boundaries,
#: and a piece ending in it is word-final by construction.
EOW = "</w>"


def word_freqs(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(word, freq)`` — the ONE corpus-sized pass of BPE training
    (explode whitespace tokens → groupBy word).  NULL/empty docs simply
    contribute nothing."""
    from ocr_spark.textstats import explode_non_null, tokens

    return (
        explode_non_null(docs, tokens(F.col(text_col)), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _initial_symbols(word) -> F.Column:
    """Character symbols + the EOW marker.  ``split(word, '(?!^)')``
    splits between every pair of adjacent chars (Java code units — see
    the module's unicode note); Spark's split runs with limit -1, so
    the zero-width match at the string's END leaves a trailing ''
    element that must be filtered (unfiltered it learned a bogus
    ``('', EOW)`` merge as round one — caught by the twin test)."""
    return F.concat(
        F.filter(F.split(word, r"(?!^)"), lambda x: x != F.lit("")),
        F.array(F.lit(EOW)),
    )


def _merge_fold(syms, a: str, b: str) -> F.Column:
    """Greedy left-to-right application of one merge rule ``(a, b)`` →
    ``a||b`` over a symbol array, as a single ``aggregate`` fold.  The
    accumulator's LAST element is the only merge candidate, so a symbol
    produced by an earlier merge in the same scan chains correctly."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
    max_word_chars: int = 100,
    checkpoint_mode: str = "auto",
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merge rules; returns them in
    training order (the order IS the apply priority).  Stops early when
    the best remaining pair's weighted count drops below ``min_count``
    (merging singleton noise just memorizes the corpus).

    ``max_word_chars`` drops longer "words" from TRAINING only (they
    are still segmented at apply time): a single pathological token — a
    base64 blob, a megabyte of run-together markup — would otherwise
    make every round's pair explode and fold O(its length), and such
    strings carry no subword signal worth learning.  The default
    mirrors the cap production trainers ship (e.g. WordPiece's
    ``max_input_chars_per_word=100``).

    Each round costs one explode+aggregate job and one ``.first()``
    (driver receives ONE row per round) over the vocab table; the
    updated symbol table is checkpointed per round
    (:func:`ocr_spark.dedup.make_checkpointer` — ``'reliable'`` on a
    cluster checkpoint dir, ``'local'`` single-machine)."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be ≥ 0 (got {n_merges})")
    if min_count < 1:
        raise ValueError(f"min_count must be ≥ 1 (got {min_count})")
    if max_word_chars < 1:
        raise ValueError(
            f"max_word_chars must be ≥ 1 (got {max_word_chars})"
        )
    ckpt = make_checkpointer(docs.sparkSession, checkpoint_mode)

    vocab = ckpt(
        word_freqs(docs, text_col)
        .filter(F.length("word") <= max_word_chars)
        .select(
            "freq", _initial_symbols(F.col("word")).alias("syms")
        )
    )
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            pair = F.col("pair")
            best = (
                vocab.select(
                    "freq",
                    F.explode(
                        F.arrays_zip(
                            F.expr(
                                "slice(syms, 1, size(syms) - 1)"
                            ).alias("a"),
                            F.expr(
                                "slice(syms, 2, size(syms) - 1)"
                            ).alias("b"),
                        )
                    ).alias("pair"),
                )
                .groupBy(
                    pair["a"].alias("a"), pair["b"].alias("b")
                )
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .first()
            )
            if best is None or int(best["cnt"]) < min_count:
                break
            a, b = best["a"], best["b"]
            merges.append((a, b))
            new_vocab = ckpt(
                vocab.select(
                    "freq", _merge_fold(F.col("syms"), a, b).alias("syms")
                )
            )
            vocab.unpersist()
            vocab = new_vocab
    finally:
        vocab.unpersist()
    return merges


def _apply_merges(
    chars: list[str], merges: list[tuple[str, str]]
) -> list[str]:
    """Executor-side BPE apply for ONE symbol sequence: SEQUENTIAL
    REPLAY of the rules in training order, each as the same greedy
    left-to-right chain-aware scan :func:`_merge_fold` runs — so
    segmenting a word reproduces the training table's final symbols for
    it exactly (pinned by test_bpe's consistency test).  Rank-based
    apply (merge the lowest-rank adjacent pair repeatedly) is the other
    classic formulation; the two can diverge when a later rule's output
    string collides with an earlier rule's operand, and this engine
    picks the one that matches its own trainer."""
    syms = list(chars)
    for a, b in merges:
        out: list[str] = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


def bpe_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(piece, piece_id)`` — the corpus's realized piece vocabulary
    under ``merges``, with DETERMINISTIC dense ids (rank in lexicographic
    piece order): ids are a pure function of the piece SET, so two runs
    — or two clusters — that segment the same corpus agree on every id
    without coordination.  The piece inventory is corpus-dependent (the
    character base alone is), hence built from the segmented corpus, not
    from the rule list."""
    from pyspark.sql import Window

    pieces = (
        bpe_segment(docs, merges, text_col, id_col)
        .select(F.explode("pieces").alias("piece"))
        .distinct()
    )
    # vocab-sized window sort (tens of thousands of rows), not a corpus
    # sort; single partition is deliberate — a global rank needs one
    return pieces.select(
        "piece",
        (F.row_number().over(
            Window.orderBy(F.asc("piece"))
        ) - 1).cast("bigint").alias("piece_id"),
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, n_tokens, piece_ids)`` — one row per document with its
    full piece-id sequence in reading order: the handoff to sequence
    packing (``assembly.pack_sequences`` wants per-doc token counts) and
    shard export.  ``vocab`` comes from :func:`bpe_vocab` (pass the SAME
    frame to every encode over a corpus slice so ids stay aligned); a
    piece missing from it fails loudly rather than silently dropping
    tokens — encode with the vocab built over the corpus that is being
    encoded, or a superset."""
    seg = bpe_segment(docs, merges, text_col, id_col)
    per_piece = (
        seg.select(
            "id", "pos", F.posexplode("pieces").alias("ppos", "piece")
        )
        .join(vocab, on="piece", how="left")
    )
    # the unknown-piece guard rides INSIDE both output columns (CaseWhen
    # branches evaluate lazily per row): a standalone guard column — or
    # a guard in one column only — would be pruned away with its
    # raise_error by Catalyst the moment a caller selects past it
    unknown = F.col("_unknown") > 0
    missing = F.raise_error(F.concat(
        F.lit("bpe_encode: pieces missing from the vocab for doc id "),
        F.col("id").cast("string"),
        F.lit(" — encode with a vocab built over this corpus "
              "(bpe_vocab) or a superset"),
    ))
    return (
        per_piece.groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("piece_id").isNull(), 1).otherwise(0)
            ).alias("_unknown"),
            F.array_sort(
                F.collect_list(F.struct("pos", "ppos", "piece_id"))
            ).alias("_ordered"),
        )
        .select(
            "id",
            F.when(unknown, missing.cast("bigint"))
            .otherwise(F.size("_ordered").cast("bigint"))
            .alias("n_tokens"),
            F.when(unknown, missing.cast("array<bigint>"))
            .otherwise(
                F.transform(F.col("_ordered"), lambda s: s["piece_id"])
            )
            .alias("piece_ids"),
        )
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, word, pieces)`` — one row per token OCCURRENCE in reading
    order is deliberately NOT the output shape: segmentation is a pure
    function of the word, so the pieces are computed once per DISTINCT
    word (Arrow-batched pandas UDF over the vocabulary frame — the
    sequential ranked apply is real Python, but at vocab cardinality)
    and joined back to the exploded corpus.  Returns one row per
    ``(doc, position)`` with ``pos`` for order reconstruction."""
    from ocr_spark.textstats import tokens

    rules = list(merges)

    @F.pandas_udf("array<string>")
    def seg(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: _apply_merges(
                # Python code-point split + EOW — identical to the
                # trainer's Java code-unit split for all BMP text; an
                # astral-plane char is ONE symbol here but two surrogate
                # units in the trainer (module unicode note) — normalize
                # upstream if the corpus carries emoji
                [c for c in w] + [EOW],
                rules,
            )
        )

    # posexplode_outer + null filter, NOT plain posexplode: the
    # non-outer generator makes Catalyst infer a size(tokens())>0
    # pre-filter that re-evaluates the tokenize at the scan (the
    # measured trap textstats.explode_non_null exists for; posexplode
    # needs the inline form because that helper is explode-only)
    exploded = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "word"),
    ).filter(F.col("word").isNotNull())
    # vocab side from its own word_freqs pass (explode_non_null inside)
    # rather than exploded.distinct(): referencing `exploded` twice
    # without a persist would evaluate the corpus tokenize subtree
    # twice ANYWAY, and this API returns an unmaterialized frame, so a
    # persist here would leak past the call (see quality_probe)
    seg_vocab = word_freqs(docs, text_col).select(
        "word", seg(F.col("word")).alias("pieces")
    )
    return exploded.join(seg_vocab, on="word").select(
        "id", "pos", "word", "pieces"
    )
