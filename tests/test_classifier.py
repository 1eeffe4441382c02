"""Trained linear-probe classifier: bit-exact twin differentials,
learning sanity, and fail-fast edges (ocr_spark/classifier.py vs
tests/oracle_clf.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.classifier import (
    UNIT,
    evaluate_linear_probe,
    probe_features,
    py_fast_sigmoid_ppm,
    quality_probe,
    score_linear_probe,
    train_linear_probe,
)
from tests import oracle_clf as twin

DIMS = 32


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


# Two distinguishable vocabularies: "good" docs draw from one word set,
# "bad" docs from another, with deterministic repetition patterns so
# features are varied but reproducible.
_GOOD = ["clear", "prose", "reads", "well", "with", "structure", "and",
         "meaning", "that", "holds"]
_BAD = ["zx9", "q0q", "buy", "now", "click", "free", "win", "$$$",
        "spam", "offer"]


def _corpus(n: int) -> list[tuple[int, str, int]]:
    rows = []
    for i in range(n):
        words = _GOOD if i % 2 == 0 else _BAD
        text = " ".join(
            words[(i + k) % len(words)] for k in range((i % 7) + 3)
        )
        rows.append((i, text, 1 if i % 2 == 0 else 0))
    # label-carrying edge docs: empty and NULL text (zero feature rows)
    rows.append((n, "", 0))
    rows.append((n + 1, None, 0))
    return rows


def _twin_rows(rows):
    return [(twin.features_local(text, DIMS), y) for _i, text, y in rows]


def test_fast_sigmoid_integer_properties():
    """Midpoint, bounds, monotonicity, and the exact complement
    p(z) + p(−z) == UNIT — all in pure integers."""
    assert py_fast_sigmoid_ppm(0) == UNIT // 2
    last = 0
    for z in [-10**15, -10**9, -3 * UNIT, -1, 0, 1, UNIT, 10**9, 10**15]:
        p = py_fast_sigmoid_ppm(z)
        assert 0 < p < UNIT
        assert p >= last
        last = p
        assert p + py_fast_sigmoid_ppm(-z) == UNIT
    # twin and library sigmoids are independent code — pin equality
    for z in range(-2 * UNIT, 2 * UNIT + 1, 99_999):
        assert py_fast_sigmoid_ppm(z) == twin.sigmoid_ppm_local(z)


def test_train_matches_python_twin_across_partitionings(spark):
    """The trained weights are a pure function of the row multiset:
    1-partition and 13-partition runs both land int-for-int on the
    plain-Python twin's weights (exact-integer gradients are
    order-independent; nothing else could make this hold)."""
    rows = _corpus(60)
    want_w, want_b = twin.train_local(
        _twin_rows(rows), DIMS, iters=6, lr_ppm=250_000
    )
    docs = _df(spark, rows, "doc_id bigint, text string, y bigint")
    for parts in (1, 13):
        feats = probe_features(
            docs.repartition(parts), dims=DIMS, carry=("y",)
        )
        model = train_linear_probe(
            feats, "y", dims=DIMS, iters=6, lr_ppm=250_000
        )
        assert model["w"] == want_w, parts
        assert model["b"] == want_b, parts
        assert model["n"] == len(rows)
    # residual L1 telemetry: training must actually reduce the mean
    # residual on this separable corpus
    assert model["l1_ppm"][-1] < model["l1_ppm"][0]


def test_scores_match_python_twin(spark):
    rows = _corpus(40)
    w, b = twin.train_local(
        _twin_rows(rows), DIMS, iters=5, lr_ppm=250_000
    )
    docs = _df(spark, rows, "doc_id bigint, text string, y bigint")
    feats = probe_features(docs, dims=DIMS)
    got = {
        r.id: (r.z_ppm, r.clf_prob_ppm)
        for r in score_linear_probe(
            feats, {"w": w, "b": b}, dims=DIMS
        ).collect()
    }
    assert len(got) == len(rows)
    for doc_id, text, _y in rows:
        assert got[doc_id] == twin.score_local(
            twin.features_local(text, DIMS), w, b
        ), doc_id


def test_probe_learns_the_label(spark):
    """End-to-end quality_probe on the separable corpus: the trained
    probe must rank nearly every good doc above the midpoint and nearly
    every bad doc below it (training accuracy — the sanity floor that
    the exact-integer GD actually LEARNS, not just reproduces) — and a
    probe trained without the ``id % 5 == 0`` slice must classify that
    unseen slice as well (generalization, not memorized rows)."""
    rows = _corpus(200)
    docs = _df(spark, rows, "doc_id bigint, text string, y bigint")
    scored = quality_probe(
        docs.select("doc_id", "text", "y"),
        F.col("y"), iters=10,
    )
    pred = {r.id: int(r.clf_prob_ppm >= UNIT // 2) for r in scored.collect()}
    hits = sum(1 for doc_id, _t, y in rows if pred[doc_id] == y)
    # measured: 200/202 at iters=10 — the two label-0 token-less docs
    # score exactly sigmoid(b), and the slightly-positive trained bias
    # puts them a hair above the midpoint; bound leaves slack
    assert hits >= int(len(rows) * 0.93)

    feats = probe_features(docs, carry=("y",))
    model = train_linear_probe(
        feats.filter(F.col("id") % 5 != 0), "y", iters=10
    )
    held = evaluate_linear_probe(feats.filter(F.col("id") % 5 == 0), model)
    # measured: 975_609 ppm (40/41 — every token-bearing doc right; the
    # token-less label-0 doc 200 lands a hair above the midpoint, as above)
    assert held["n"] == 41
    assert held["accuracy_ppm"] >= 950_000, held


def test_empty_feature_table_raises(spark):
    feats = probe_features(
        _df(spark, [], "doc_id bigint, text string, y bigint"),
        dims=DIMS, carry=("y",),
    )
    with pytest.raises(ValueError, match="empty feature table"):
        train_linear_probe(feats, "y", dims=DIMS, iters=2)


def test_bad_labels_fail_fast(spark):
    rows = [(1, "some text", 1), (2, "more text", 2), (3, "x", None)]
    docs = _df(spark, rows, "doc_id bigint, text string, y bigint")
    feats = probe_features(docs, dims=DIMS, carry=("y",))
    with pytest.raises(ValueError, match="must be 0/1"):
        train_linear_probe(feats, "y", dims=DIMS, iters=2)


def test_fractional_labels_fail_fast(spark):
    """Validation must see the RAW label: a double 0.7 would cast-
    truncate to a 'valid' 0 and silently train on garbage — the check
    runs before the bigint cast, so it fails loudly instead (1.0/0.0
    doubles remain acceptable: they ARE exactly 0/1)."""
    from ocr_spark.classifier import evaluate_linear_probe

    bad = _df(spark, [(1, "a b", 0.7), (2, "c d", 0.0)],
              "doc_id bigint, text string, y double")
    feats = probe_features(bad, dims=DIMS, carry=("y",))
    with pytest.raises(ValueError, match="must be 0/1"):
        train_linear_probe(feats, "y", dims=DIMS, iters=2)
    with pytest.raises(ValueError, match="must be 0/1"):
        evaluate_linear_probe(
            feats, {"w": [0] * DIMS, "b": 0}, "y", dims=DIMS
        )

    ok = _df(spark, [(1, "a b", 1.0), (2, "c d", 0.0)],
             "doc_id bigint, text string, y double")
    feats_ok = probe_features(ok, dims=DIMS, carry=("y",))
    model = train_linear_probe(feats_ok, "y", dims=DIMS, iters=2)
    assert model["n"] == 2
    # and the width guard now covers evaluation too (it was score-only)
    with pytest.raises(ValueError, match="width"):
        evaluate_linear_probe(
            feats_ok, {"w": [0] * 16, "b": 0}, "y", dims=DIMS
        )


def test_quality_probe_validates_the_uncast_label(spark):
    """quality_probe must hand train_linear_probe the RAW label: a 0.7
    label expression cast to bigint first would truncate to a 'valid'
    0.  A boolean label is 0/1 by type and trains."""
    docs = _df(spark, [(1, "a b", 1), (2, "c d", 0)],
               "doc_id bigint, text string, y bigint")
    with pytest.raises(ValueError, match="must be 0/1"):
        quality_probe(docs, F.col("y") * F.lit(0.7), iters=1)
    scored = quality_probe(docs, F.col("y") == 1, iters=1)
    assert {r.id for r in scored.collect()} == {1, 2}


def test_model_width_mismatch_raises(spark):
    feats = probe_features(
        _df(spark, [(1, "a b c")], "doc_id bigint, text string"),
        dims=DIMS,
    )
    with pytest.raises(ValueError, match="width"):
        score_linear_probe(feats, {"w": [0] * 16, "b": 0}, dims=DIMS)


def test_token_less_doc_scores_the_bias(spark):
    """Empty/NULL docs have the all-zero feature row, so their score is
    exactly sigmoid(b) — they are classified by the corpus prior, not
    dropped and not NULL."""
    rows = [(1, "", 0), (2, None, 0), (3, "word", 1)]
    docs = _df(spark, rows, "doc_id bigint, text string, y bigint")
    feats = probe_features(docs, dims=DIMS)
    b = 123_456
    got = {
        r.id: (r.z_ppm, r.clf_prob_ppm)
        for r in score_linear_probe(
            feats, {"w": [7] * DIMS, "b": b}, dims=DIMS
        ).collect()
    }
    assert got[1] == (b, py_fast_sigmoid_ppm(b))
    assert got[2] == (b, py_fast_sigmoid_ppm(b))
    assert got[3] != got[1]


def test_evaluate_linear_probe_exact_confusion(spark):
    """evaluate_linear_probe returns exact confusion counts in one job,
    matching a driver-side recount, and fails loudly on bad labels."""
    from ocr_spark.classifier import evaluate_linear_probe

    rows = _corpus(80)
    docs = _df(spark, rows, "doc_id bigint, text string, y bigint")
    feats = probe_features(docs, dims=DIMS, carry=("y",))
    model = train_linear_probe(feats, "y", dims=DIMS, iters=6)
    got = evaluate_linear_probe(feats, model, "y", dims=DIMS)

    want = {"tp": 0, "fp": 0, "tn": 0, "fn": 0}
    for _id, text, y in rows:
        z, p = twin.score_local(
            twin.features_local(text, DIMS), model["w"], model["b"]
        )
        pred = int(p >= UNIT // 2)
        want[("t" if pred == y else "f") + ("p" if pred else "n")] += 1
    for k, v in want.items():
        assert got[k] == v, (k, got)
    assert got["n"] == len(rows)
    assert got["accuracy_ppm"] == (
        (got["tp"] + got["tn"]) * UNIT
    ) // got["n"]

    bad = _df(spark, [(1, "a", 3)], "doc_id bigint, text string, y bigint")
    with pytest.raises(ValueError, match="must be 0/1"):
        evaluate_linear_probe(
            probe_features(bad, dims=DIMS, carry=("y",)), model, "y",
            dims=DIMS,
        )
