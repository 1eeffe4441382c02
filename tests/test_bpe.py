"""Distributed BPE trainer: twin differentials, determinism across
partitionings, fold semantics, and trainer↔segmenter consistency
(ocr_spark/bpe.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.bpe import (
    EOW,
    _merge_fold,
    bpe_segment,
    learn_bpe,
    word_freqs,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


# ------------------------------------------------------------------ twin
# Independent plain-Python Sennrich BPE: own pair counting, own total
# order, own greedy scan — not imported from the library.

def _twin_scan(syms, a, b):
    out = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _twin_freqs(texts):
    freqs = {}
    for t in texts:
        for w in (t or "").split():
            freqs[w] = freqs.get(w, 0) + 1
    return freqs


def _twin_learn(texts, n_merges, min_count=2):
    vocab = {
        w: (list(w) + [EOW], f) for w, f in _twin_freqs(texts).items()
    }
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        merges.append((a, b))
        vocab = {
            w: (_twin_scan(syms, a, b), f)
            for w, (syms, f) in vocab.items()
        }
    return merges


def _twin_segment(word, merges):
    syms = list(word) + [EOW]
    for a, b in merges:
        syms = _twin_scan(syms, a, b)
    return syms


CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the cats sat and sat again"),
    (3, "a catalog of cats and mats"),
    (4, "the the the mat mat"),
    (5, ""),
    (6, None),
    (7, "résumé régime résumé"),   # BMP accents: é is one unit both sides
]


def test_learn_matches_python_twin_across_partitionings(spark):
    """The learned merge SEQUENCE is a pure function of the corpus —
    exact bigint pair counts + the (count DESC, a ASC, b ASC) total
    order make every round partition-invariant, and the independent
    twin replays it rule-for-rule.  The rules are unique and never carry
    the end-of-word marker on a left operand (EOW only ends a symbol)."""
    want = _twin_learn([t for _i, t in CORPUS], n_merges=12)
    assert len(want) == 12  # non-vacuous: the corpus supports 12 rounds
    assert len(set(want)) == len(want)
    assert all(EOW not in a for a, _b in want)
    docs = _df(spark, CORPUS, "doc_id bigint, text string")
    for parts in (1, 7):
        got = learn_bpe(docs.repartition(parts), n_merges=12)
        assert got == want, parts


def test_classic_tiny_corpus_merge_order(spark):
    """Hand-checkable corpus: 'ab ab ab cd' → (a,b) and (b,EOW) tie at
    3, the total order picks ('a','b'); the merged 'ab' then pairs with
    EOW at 3 for round two."""
    docs = _df(spark, [(1, "ab ab ab cd")], "doc_id bigint, text string")
    got = learn_bpe(docs, n_merges=2, min_count=2)
    assert got == [("a", "b"), ("ab", EOW)]


def test_min_count_floor_stops_early(spark):
    """Every pair in a one-occurrence word counts 1 < min_count=2 — no
    merges learned (merging singleton noise memorizes the corpus)."""
    docs = _df(spark, [(1, "unique")], "doc_id bigint, text string")
    assert learn_bpe(docs, n_merges=5, min_count=2) == []
    # min_count=1 does learn (and drains every pair eventually)
    assert learn_bpe(docs, n_merges=1, min_count=1) != []


def test_merge_fold_is_greedy_and_chain_aware(spark):
    """'aaaa' under rule (a,a): greedy left-to-right non-overlapping →
    [aa, aa] — the fold must let a merged symbol chain into the next
    scan position but not re-consume its own input."""
    df = spark.createDataFrame(
        [(["a", "a", "a", "a"],), (["a", "a", "a"],), (["b", "a"],)],
        "syms array<string>",
    )
    got = [
        r.out for r in df.select(
            _merge_fold(F.col("syms"), "a", "a").alias("out")
        ).collect()
    ]
    assert got == [["aa", "aa"], ["aa", "a"], ["b", "a"]]
    assert _twin_scan(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]


def test_segment_reproduces_training_symbols(spark):
    """bpe_segment's pieces for every distinct corpus word equal the
    training table's final symbols for that word (sequential-replay
    apply — the trainer and segmenter cannot drift), and pos
    reconstructs reading order."""
    docs = _df(spark, CORPUS, "doc_id bigint, text string")
    merges = learn_bpe(docs, n_merges=10)
    seg = bpe_segment(docs, merges)
    rows = seg.collect()
    for r in rows:
        assert list(r.pieces) == _twin_segment(r.word, merges), r.word
        assert "".join(r.pieces) == r.word + EOW  # lossless
    doc1 = sorted(
        (r.pos, r.word) for r in rows if r.id == 1
    )
    assert [w for _p, w in doc1] == "the cat sat on the mat".split()


def test_empty_corpus_learns_nothing(spark):
    docs = _df(spark, [(1, ""), (2, None)], "doc_id bigint, text string")
    assert learn_bpe(docs, n_merges=3) == []
    assert bpe_segment(docs, []).count() == 0


def test_arg_validation(spark):
    docs = _df(spark, [(1, "x y")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="n_merges"):
        learn_bpe(docs, n_merges=-1)
    with pytest.raises(ValueError, match="min_count"):
        learn_bpe(docs, n_merges=1, min_count=0)


def test_word_freqs_weights_rounds(spark):
    """Pair counts are weighted by word FREQUENCY — 'the' appearing 6
    times makes (t,h) count ≥ 6 even though the vocab row is one."""
    docs = _df(spark, CORPUS, "doc_id bigint, text string")
    wf = {r.word: r.freq for r in word_freqs(docs).collect()}
    assert wf["the"] == 6 and wf["sat"] == 3
    # the winning first pair aggregates mass ACROSS words (('a','t')
    # rides cat+cats+catalog+mat+mats+sat — no single word gives it
    # that count); the library must pick the same pair as the twin
    first = _twin_learn([t for _i, t in CORPUS], 1)
    docs1 = learn_bpe(docs, n_merges=1, min_count=1)
    assert docs1 == first == [("a", "t")]


def test_max_word_chars_excludes_blobs_from_training(spark):
    """A pathological mega-token must not poison training (its pairs
    would dominate every round at O(length) fold cost) — but it still
    segments at apply time."""
    blob = "x" + "yz" * 300  # 601 chars of repeating structure
    docs = _df(
        spark,
        [(1, f"ab ab ab {blob}"), (2, blob)],
        "doc_id bigint, text string",
    )
    # default cap (100): the blob is excluded — rules come from 'ab'
    got = learn_bpe(docs, n_merges=1, min_count=2)
    assert got == [("a", "b")]
    # cap raised: the blob's (y,z) pair (300 per occurrence × 2 docs)
    # swamps everything
    got_raw = learn_bpe(docs, n_merges=1, min_count=2, max_word_chars=1000)
    assert got_raw == [("y", "z")]
    # apply still segments the blob (training exclusion ≠ apply drop)
    seg = bpe_segment(docs, got)
    blob_rows = [r for r in seg.collect() if r.word == blob]
    assert blob_rows and all(
        "".join(r.pieces) == blob + EOW for r in blob_rows
    )
    with pytest.raises(ValueError, match="max_word_chars"):
        learn_bpe(docs, n_merges=1, max_word_chars=0)


def test_vocab_ids_deterministic_and_dense(spark):
    """bpe_vocab assigns rank-in-lexicographic-order ids — a pure
    function of the piece set, identical across partitionings."""
    from ocr_spark.bpe import bpe_vocab

    docs = _df(spark, CORPUS, "doc_id bigint, text string")
    merges = learn_bpe(docs, n_merges=8)
    v1 = {r.piece: r.piece_id for r in bpe_vocab(docs, merges).collect()}
    v2 = {
        r.piece: r.piece_id
        for r in bpe_vocab(docs.repartition(5), merges).collect()
    }
    assert v1 == v2
    assert sorted(v1.values()) == list(range(len(v1)))  # dense 0..n-1
    assert list(sorted(v1)) == [
        p for p, _i in sorted(v1.items(), key=lambda kv: kv[1])
    ]  # id order IS lexicographic piece order


def test_encode_roundtrip_and_packing_handoff(spark):
    """bpe_encode emits per-doc piece-id sequences in reading order
    (decode via the inverted vocab reassembles every document's words),
    and its (id, n_tokens) shape feeds assembly.pack_sequences — the
    tokenize → encode → pack composition a training-data pipeline
    runs."""
    from ocr_spark.assembly import pack_sequences
    from ocr_spark.bpe import bpe_encode, bpe_vocab

    docs = _df(spark, CORPUS, "doc_id bigint, text string")
    merges = learn_bpe(docs, n_merges=8)
    vocab = bpe_vocab(docs, merges)
    enc = bpe_encode(docs, merges, vocab)
    rows = {r.id: r for r in enc.collect()}
    inv = {r.piece_id: r.piece for r in vocab.collect()}
    for doc_id, text in CORPUS:
        if not text:
            assert doc_id not in rows  # token-less docs have no pieces
            continue
        decoded = "".join(inv[i] for i in rows[doc_id].piece_ids)
        assert decoded == "".join(w + EOW for w in text.split()), doc_id
        assert rows[doc_id].n_tokens == len(rows[doc_id].piece_ids)

    packed = pack_sequences(
        enc.select(F.col("id").alias("doc_id"), "n_tokens"),
        target_tokens=16, n_shards=2, tokens_col="n_tokens",
    )
    prows = packed.collect()
    assert len(prows) == len(rows)
    # packing consumed the TRAINED tokenizer's counts, not whitespace
    assert {r.doc_id: r.n_tokens for r in prows} == {
        i: rows[i].n_tokens for i in rows
    }


def test_encode_unknown_piece_fails_loudly(spark):
    """Encoding with a vocab that lacks the corpus's pieces must raise,
    not silently drop tokens."""
    from ocr_spark.bpe import bpe_encode, bpe_vocab

    docs = _df(spark, [(1, "ab ab")], "doc_id bigint, text string")
    other = _df(spark, [(2, "xy")], "doc_id bigint, text string")
    vocab = bpe_vocab(other, [])
    with pytest.raises(Exception, match="missing from the vocab"):
        bpe_encode(docs, [], vocab).collect()


def test_encode_unknown_piece_fails_when_only_piece_ids_selected(spark):
    """The unknown-piece guard must survive column pruning: a caller that
    selects ``(id, piece_ids)`` past ``n_tokens`` still gets the error,
    not silently NULL piece ids."""
    from ocr_spark.bpe import bpe_encode, bpe_vocab

    docs = _df(spark, [(1, "ab ab")], "doc_id bigint, text string")
    other = _df(spark, [(2, "xy")], "doc_id bigint, text string")
    vocab = bpe_vocab(other, [])
    with pytest.raises(Exception, match="missing from the vocab"):
        bpe_encode(docs, [], vocab).select("id", "piece_ids").collect()
