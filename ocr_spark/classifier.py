"""Trained quality classifier — a linear probe over hashed token
features, trained by EXACT-INTEGER batch gradient descent.

The curation family's heuristic scorer (``textstats.quality_score``)
ranks documents by surface statistics; production pipelines add a
TRAINED filter distilled from labeled examples — GPT-3 filtered
CommonCrawl with a logistic-regression classifier over hashed features
(Brown et al. 2020, appendix A), CCNet ranks by a model trained on a
reference corpus (Wenzek et al. 2020).  This module is that operator,
built to this engine's reproducibility bar: every quantity on the data
path is an exact integer, so training is bit-deterministic across
partition counts, shuffle orders, executor counts, AND engines (a
plain-Python twin replays it int-for-int — no floating-point summation
order anywhere).

Design (all integer, parts-per-million fixed point):

* **features** — :func:`ocr_spark.similarity.hashed_token_sums`: the
  embedding family's signed feature-hash vote sums ``s0..s{dims-1}``,
  exact bigints, single-sourced with ``embed_hash`` so the two can
  never drift on the vote arithmetic.
* **link** — the "fast sigmoid" ``σ(z) ≈ ½(1 + z/(1+|z|))`` instead of
  the exponential form: same shape, same [0,1] range and 0.5 midpoint,
  but pure ratio arithmetic, so it computes EXACTLY in ppm integers via
  one truncating division of non-negative operands (floor == truncate
  for those, so Spark ``div``, DuckDB ``//`` and Python ``//`` all
  agree; ``exp()`` would tie bit-reproducibility to each platform's
  libm).  ``p_ppm = 500000 ± (500000·|z|) div (UNIT + |z|)``.
* **loss/gradient** — squared error on the link output:
  ``g_j = Σ_d (p_d − y_d)·s_dj``.  Residuals are ppm integers,
  features are bigint counts, so per-document contributions and their
  sums are exact bigints — order-independent by construction, no
  micro-unit quantization step needed (contrast
  ``similarity.ivf_train_kmeans``, whose float members must be
  quantized first).
* **update** — driver-side pure-Python big-int arithmetic:
  ``w_j −= sign(G_j) · (lr_ppm·|G_j|) // (n·UNIT)``.  One Spark
  aggregation job per iteration over the persisted feature table;
  dims+1 bigints cross the wire, nothing else.

Scale shape: the feature pass is one explode → one codegen hash
aggregate (the measured ``embed_hash`` shape); each GD iteration is one
map-side-combined aggregate over ``(id, dims×bigint)`` rows.  Labels
ride the feature aggregate's GROUPING KEY (``carry=``), never a second
corpus-sized join.  Overflow discipline under ANSI mode (which makes
bigint overflow an error, not a wrap): per-dim gradient magnitude is
bounded by ``n · UNIT · max|s_j|``, so the exact path holds while
``n · max_tokens_per_doc < 2^63/UNIT ≈ 9.2e12`` — e.g. 10^9 docs of
≤9,000 tokens; beyond that, train on a deterministic hash-sample of
that size (a probe does not need every row of a 10^12-doc corpus).

The reference service (main.py) ships no trained models — this operator
belongs to the engine's training-data-curation additions, beside
dedup/ANN/decontam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ocr_spark.similarity import hashed_token_sums

#: fixed-point scale: 1.0 == 1_000_000 ppm
UNIT = 1_000_000

#: contract-pinned configuration (driver_contract.q_doc_stats and the
#: gen_truth twin must use EXACTLY these — shared constants so the Spark
#: query and the fixture generator cannot drift)
CONTRACT_DIMS = 32
CONTRACT_ITERS = 4
CONTRACT_LR_PPM = 250_000


def py_fast_sigmoid_ppm(z_ppm: int) -> int:
    """Driver-side integer fast sigmoid: ``500000 ± (500000·|z|) //
    (UNIT + |z|)`` — the exact arithmetic the Spark expression from
    :func:`fast_sigmoid_ppm_sql` computes per row.  Monotone, bounded
    in (0, UNIT), ``p(0) = UNIT/2``, and exactly complementary:
    ``p(z) + p(−z) == UNIT`` (the magnitude term is shared)."""
    az = abs(z_ppm)
    mag = (500_000 * az) // (UNIT + az)
    return 500_000 + (mag if z_ppm >= 0 else -mag)


def fast_sigmoid_ppm_sql(z_sql: str) -> str:
    """SQL fragment computing :func:`py_fast_sigmoid_ppm` of ``z_sql``
    (an expression of ppm-scaled bigint).  The division's operands are
    non-negative by construction, where truncating ``div`` (Spark),
    ``//`` (DuckDB) and ``//`` (Python) are all plain floor — the whole
    link is engine-portable integer arithmetic."""
    az = f"abs({z_sql})"
    mag = f"((500000 * {az}) div (1000000 + {az}))"
    return (
        f"(500000 + (CASE WHEN ({z_sql}) >= 0 "
        f"THEN {mag} ELSE -{mag} END))"
    )


def _z_sql(w: list[int], b: int) -> str:
    """Flat ppm-bigint decision expression ``Σ w_j·s_j + b`` with the
    CURRENT weights folded in as literals (the probe's analog of the
    plan-literal centroids in ``similarity``) — whole-stage codegen'd,
    nothing interpreted, nothing broadcast."""
    terms = " + ".join(
        f"({int(wj)}L * s{j})" for j, wj in enumerate(w)
    )
    return f"({terms} + {int(b)}L)"


def _step(lr_ppm: int, grad: int, n: int) -> int:
    """One coordinate's GD step, sign-split so the inner division's
    operands are non-negative (floor == truncate — the same portability
    argument as the link)."""
    mag = (lr_ppm * abs(grad)) // (n * UNIT)
    return mag if grad >= 0 else -mag


def _bad_label(feats: DataFrame, label_col: str) -> F.Column:
    """1 where the RAW label is not exactly 0 or 1 (NULL, 2, 0.7, …),
    else 0 — shared by training and evaluation so the fail-fast
    discipline cannot drift.  Checked BEFORE any bigint cast: casting
    first would truncate a fractional label to a 'valid' 0.  A boolean
    label is 0/1 by type once non-NULL (and ANSI mode refuses to
    compare it with integers)."""
    raw = F.col(label_col)
    bad = raw.isNull()
    if not isinstance(feats.schema[label_col].dataType, BooleanType):
        bad = bad | ~raw.isin(0, 1)
    return F.when(bad, F.lit(1)).otherwise(F.lit(0))


def probe_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = CONTRACT_DIMS,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(id, *carry, s0..s{dims-1})`` exact-bigint hashed token counts
    — the probe's feature table (see module docstring).  Thin alias of
    :func:`ocr_spark.similarity.hashed_token_sums` so classifier call
    sites read as one family."""
    return hashed_token_sums(docs, text_col, id_col, dims, carry=carry)


def train_linear_probe(
    feats: DataFrame,
    label_col: str = "y",
    dims: int = CONTRACT_DIMS,
    iters: int = CONTRACT_ITERS,
    lr_ppm: int = CONTRACT_LR_PPM,
) -> dict:
    """Full-batch GD on the fast-sigmoid linear probe; returns
    ``{"w": [ppm ints], "b": ppm int, "n": docs, "l1_ppm": [per-iter
    mean |residual| in ppm]}``.

    ``feats`` must carry ``s0..s{dims-1}`` bigint columns plus a
    {0,1}-valued ``label_col`` (ride it through
    :func:`probe_features`'s ``carry=`` — labels through the grouping
    key, never a second corpus-sized join).  Persist ``feats`` before
    calling when the corpus is not trivially cheap to recompute: every
    iteration re-reads it.

    Determinism: each iteration is ONE aggregation job collecting
    ``dims+2`` exact bigints (gradients, residual L1, n); the weight
    update runs in driver-side Python big-int arithmetic
    (:func:`_step`).  Exact integers end-to-end ⇒ the trained weights
    are a pure function of the (multi)set of feature rows — invariant
    to partitioning, and replayed int-for-int by the plain-Python twin
    (tests/oracle_clf.py, which gates this path under the driver's
    correctness fixture via tools/gen_truth.py).

    Rate guidance (measured): signed-hash count features give
    near-zero-mean gradients, so useful rates run well above the
    intuition for normalized features — the 20k-doc marker
    corpus needed ``lr_ppm ≈ 4_000_000`` (4.0) for 0.96 holdout at 16
    iterations, while the contract default ``250_000`` plateaued at
    0.85.  Watch ``l1_ppm``: a slow monotone decline means raise the
    rate, oscillation means lower it.  The contract constants stay
    pinned regardless — they gate ARITHMETIC, not convergence.
    """
    if iters < 1:
        raise ValueError(f"iters must be ≥ 1 (got {iters})")
    w = [0] * dims
    b = 0
    n = None
    l1: list[int] = []
    for it in range(iters):
        z_then_r = (
            feats.select(
                *[F.col(f"s{j}") for j in range(dims)],
                # validation must see the RAW column: checking after the
                # bigint cast would let a fractional label (0.7)
                # truncate to a "valid" 0 and silently skew training
                _bad_label(feats, label_col).alias("bad_y"),
                F.col(label_col).cast("bigint").alias("y"),
                F.expr(_z_sql(w, b)).alias("z"),
            )
            .select(
                *[F.col(f"s{j}") for j in range(dims)],
                "bad_y",
                (
                    F.expr(fast_sigmoid_ppm_sql("z"))
                    - F.col("y") * F.lit(UNIT)
                ).alias("r"),
            )
        )
        aggs = [
            F.sum(F.col("r") * F.col(f"s{j}")).alias(f"g{j}")
            for j in range(dims)
        ] + [
            F.sum("r").alias("gb"),
            F.sum(F.abs(F.col("r"))).alias("l1"),
            F.count(F.lit(1)).alias("n"),
        ]
        if it == 0:
            # label validation folded into the first iteration's job —
            # a non-{0,1}, fractional, or NULL label would silently
            # skew every gradient, so it fails loudly, at zero extra
            # jobs
            aggs.append(F.sum("bad_y").alias("bad"))
        row = z_then_r.agg(*aggs).first()
        n = int(row["n"])
        if n == 0:
            raise ValueError(
                "cannot train a probe on an empty feature table"
            )
        if it == 0 and int(row["bad"] or 0):
            raise ValueError(
                f"label column {label_col!r} must be 0/1 and non-NULL "
                f"({int(row['bad'])} offending rows)"
            )
        w = [
            wj - _step(lr_ppm, int(row[f"g{j}"]), n)
            for j, wj in enumerate(w)
        ]
        b -= _step(lr_ppm, int(row["gb"]), n)
        l1.append(int(row["l1"]) // n)
    return {"w": w, "b": b, "n": n, "l1_ppm": l1}


def score_linear_probe(
    feats: DataFrame,
    model: dict,
    dims: int = CONTRACT_DIMS,
) -> DataFrame:
    """``(id, z_ppm, clf_prob_ppm)`` for every feature row — the trained
    weights folded in as plan literals, one codegen projection, no
    broadcast, no shuffle beyond what ``feats`` already carries.
    ``clf_prob_ppm ≥ 500000 ⟺ z ≥ 0``: the natural keep-threshold is
    the link's midpoint, but downstream gates pick their own cut."""
    w, b = model["w"], model["b"]
    if len(w) != dims:
        raise ValueError(
            f"model width {len(w)} != feature width {dims}"
        )
    z = _z_sql(w, b)
    return feats.select(
        "id",
        F.expr(z).alias("z_ppm"),
        F.expr(fast_sigmoid_ppm_sql(z)).alias("clf_prob_ppm"),
    )


def evaluate_linear_probe(
    feats: DataFrame,
    model: dict,
    label_col: str = "y",
    dims: int = CONTRACT_DIMS,
    threshold_ppm: int = UNIT // 2,
) -> dict:
    """Confusion counts of the probe against ``label_col`` in ONE
    aggregation job: ``{"tp", "fp", "tn", "fn", "n", "accuracy_ppm"}``
    — exact integers (accuracy as ppm via truncating division), so the
    numbers are reproducible across partitionings like everything else
    here.  Evaluate on a held-out slice for generalization (e.g. a
    deterministic hash split via ``assembly.stratified_sample``); on the
    training slice this reports training accuracy."""
    if len(model["w"]) != dims:
        raise ValueError(
            f"model width {len(model['w'])} != feature width {dims}"
        )
    z = _z_sql(model["w"], model["b"])
    pred = F.expr(fast_sigmoid_ppm_sql(z)) >= F.lit(threshold_ppm)
    y = F.col(label_col).cast("bigint")
    y1 = y == 1
    row = feats.agg(
        F.sum((pred & y1).cast("bigint")).alias("tp"),
        F.sum((pred & ~y1).cast("bigint")).alias("fp"),
        F.sum((~pred & ~y1).cast("bigint")).alias("tn"),
        F.sum((~pred & y1).cast("bigint")).alias("fn"),
        F.count(F.lit(1)).alias("n"),
        # same label discipline as training: a NULL/2 label would
        # silently fall out of every confusion bucket — fail loudly
        F.sum(_bad_label(feats, label_col)).alias("bad"),
    ).first()
    if int(row["bad"] or 0):
        raise ValueError(
            f"label column {label_col!r} must be 0/1 and non-NULL "
            f"({int(row['bad'])} offending rows)"
        )
    out = {k: int(row[k] or 0) for k in ("tp", "fp", "tn", "fn", "n")}
    out["accuracy_ppm"] = (
        ((out["tp"] + out["tn"]) * UNIT) // out["n"] if out["n"] else 0
    )
    return out


def quality_probe(
    docs: DataFrame,
    label_expr,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = CONTRACT_DIMS,
    iters: int = CONTRACT_ITERS,
    lr_ppm: int = CONTRACT_LR_PPM,
) -> DataFrame:
    """Train on ``label_expr`` (a 0/1 or boolean Column over ``docs``;
    any other value raises) and score every document:
    ``(id, z_ppm, clf_prob_ppm)``.  The labeled feature
    table is persisted only WHILE training iterates it, then released —
    the returned scores recompute the feature aggregate once at
    materialize time (one extra corpus pass) rather than pinning a
    corpus-sized cache on a long-lived session.  Callers scoring
    repeatedly should build :func:`probe_features` themselves, persist,
    and drive :func:`train_linear_probe` / :func:`score_linear_probe`
    directly (the shape ``jobs/run_curation.py`` uses)."""
    feats = probe_features(
        # the RAW label: train_linear_probe validates it before its cast
        docs.withColumn("y", label_expr),
        text_col=text_col, id_col=id_col, dims=dims, carry=("y",),
    ).persist()
    try:
        model = train_linear_probe(
            feats, "y", dims=dims, iters=iters, lr_ppm=lr_ppm
        )
    finally:
        feats.unpersist()
    return score_linear_probe(feats, model, dims=dims)
