"""Approximate-nearest-neighbor search over an embedding column.

Two strategies over ``array<float>`` embeddings:

- **brute-force cosine top-k** — the correctness baseline.  The query set is
  broadcast (it is small by definition); the corpus side stays partitioned,
  each partition scores its rows and a single top-k-per-query window reduces.
  At 100 TB this is the "score everything once" pattern: one broadcast, one
  shuffle keyed by query_id for the top-k.
- **random-hyperplane LSH buckets** — the scale path.  Bucket assignment is
  narrow (per-row sign bits against literal hyperplanes baked into the
  plan); candidate generation joins on the bucket key; cosine verification
  runs only inside buckets.  Recall is tuned by planes-per-table and number
  of bucket tables; a single table is enough for the oracle-checked shape.

Float discipline: embeddings are cast to double and reduced with an ordered
left fold so the bit pattern matches the DuckDB oracle's identical fold —
IEEE doubles are deterministic given the same operation order, which makes
`round(x, 6)` safely comparable across engines.  When the vector width is
statically known the fold is UNROLLED into the same left-associative sum as
a flat codegen expression (interpreted HOF lambdas are the measured
bottleneck at candidate-pair cardinality); norms are precomputed per vector
and carried through joins, never recomputed per pair.

The hyperplane components are derived from the portable md5 hash on the
DRIVER (plain Python) and inlined as literals in both plans, so Spark and
the oracle share them by construction.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.textstats import py_portable_hash as _hash60

DEFAULT_PLANES = 8
DEFAULT_DIMS = 64


def hyperplanes(
    n_planes: int = DEFAULT_PLANES, dims: int = DEFAULT_DIMS, seed: str = "lsh"
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dims."""
    return [
        [
            (_hash60(f"{seed}/p{p}/d{d}") % 2001 - 1000) / 1000.0
            for d in range(dims)
        ]
        for p in range(n_planes)
    ]


def hashed_token_sums(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 32,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(id, *carry, s0..s{dims-1})`` — the EXACT-BIGINT signed
    feature-hash token sums that are :func:`embed_hash` minus the final
    normalize: each token occurrence votes ±1 into dimension
    ``h % dims`` (sign bit ``(h >> 20) & 1``, h = the md5-portable
    60-bit hash), summed per document.  Single-sourced here so the
    embedding and the trained-classifier features
    (:mod:`ocr_spark.classifier`) can never drift on the vote
    arithmetic.

    ``carry`` names extra per-document columns (labels, source tags —
    anything functionally dependent on the id) to ride through the
    aggregate's GROUPING KEY: at corpus scale that costs nothing extra
    in the one existing shuffle, where a join-back of labels onto the
    sums would be a second corpus-sized exchange.

    Plan shape (shared with :func:`embed_hash` — see its docstring for
    the measured traps): explode_outer(tokens) → ONE codegen hash
    aggregate with ``dims`` conditional sums; every doc keeps a group
    (empty/NULL text contributes one zero-vote null-token row), so all
    sums are 0, never NULL, and there is no join-back.
    """
    from ocr_spark.textstats import portable_hash, tokens

    h = F.col("h")
    tok_null = F.col("tok").isNull()
    ex = (
        df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in carry],
            # outer: empty docs keep one null-token row (zero vote below)
            # AND no inferred size>0 pre-filter re-evaluates tokens() at
            # the scan (see textstats.explode_non_null)
            F.explode_outer(tokens(F.col(text_col))).alias("tok"),
        )
        .select(
            "id", *carry, "tok", portable_hash(F.col("tok")).alias("h")
        )
        .select(
            "id",
            *carry,
            F.when(tok_null, F.lit(0))
            .otherwise(F.pmod(h, F.lit(dims)))
            .cast("int").alias("d"),
            F.when(tok_null, F.lit(0))
            .when(
                F.shiftright(h, 20).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)).alias("sgn"),
        )
    )
    # every doc has ≥1 row (explode_outer), so each sum is 0, not NULL,
    # for token-less docs — no coalesce, no join-back
    return ex.groupBy("id", *carry).agg(*[
        F.sum(F.when(F.col("d") == j, F.col("sgn")).otherwise(F.lit(0)))
        .cast("bigint").alias(f"s{j}")
        for j in range(dims)
    ])


def embed_hash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 32,
) -> DataFrame:
    """Deterministic text → embedding: signed feature hashing of the
    token stream into ``dims`` dimensions, L2-normalized — the operator
    that closes the text → vector → ANN chain without an external
    embedding model (Weinberger et al. 2009, "Feature Hashing for Large
    Scale Multitask Learning").

    Each token occurrence votes ±1 into dimension ``h % dims`` with sign
    from an independent hash bit (``(h >> 20) & 1``), h = the md5-portable
    60-bit hash — so the vector is a pure function of the text,
    reproducible across engines (the DuckDB oracle replays the identical
    arithmetic; dimension sums are exact bigints, the one float step is
    the final IEEE divide-by-norm).  Token-less documents get the zero
    vector (NOT null — they flow through LSH as a real, joinable bucket).

    Shape for scale: explode_outer(tokens) → ONE codegen hash aggregate
    with ``dims`` conditional sums (the same proven shape as
    ``simhash_from_features`` — a per-row higher-order fold would be
    interpreted per token × dim), shuffling only (id, dims×bigint) rows
    with map-side partial aggregation.  Token-less docs are covered by
    the SAME aggregate: explode_outer emits one null-token row per empty
    doc, which contributes (d=0, sgn=0) — a zero vote — so every doc has
    a group and there is NO join-back.  (The previous left-join-back
    fused a BroadcastHashJoin into the normalize stage, whose generated
    method then outgrew the JVM 64 KB limit at dims=32 and silently
    dropped the whole stage to interpreted eval; the joinless plan is
    one exchange smaller AND compiles.)  32 dims is the oracle-checked
    contract width AND the default — below it, hash-collision noise
    inflates unrelated-pair cosine (measured at
    driver_contract.EMBED_DIMS: at 16 dims, 14.6% of LSH candidates
    cleared a 0.85 verify); above ~32 the unrolled per-pair dot
    outgrows whole-stage codegen limits, so raise planes (bucket
    selectivity), not dims, as the corpus grows.
    """
    filled = hashed_token_sums(df, text_col, id_col, dims)
    ssq = None
    for j in range(dims):
        sq = F.col(f"s{j}") * F.col(f"s{j}")  # exact bigint
        ssq = sq if ssq is None else ssq + sq
    # The norm is materialized as its OWN projection (CollapseProject
    # keeps the split: expensive alias, referenced more than once), and
    # the divides run through ONE interpreted transform() over a plain
    # column-ref array rather than dims unrolled when/divide branches:
    # unrolled, the normalize tree lands inside whatever codegen method
    # consumes it (measured: the aggregate's doAggregateWithKeysOutput,
    # and before the join-back removal a BroadcastHashJoin's doConsume)
    # and pushes it past the JVM 64 KB method limit — Janino then fails
    # and the WHOLE stage silently drops to interpreted eval.  The HOF
    # runs once per DOCUMENT (never per candidate pair, where
    # interpreted folds are the measured trap — see UNROLL_MAX_DIMS);
    # arithmetic is bit-identical (same casts, same IEEE divides, one
    # sqrt).
    normed = filled.withColumn("nrm", F.sqrt(ssq.cast("double")))
    raw = F.array(*[F.col(f"s{j}").cast("double") for j in range(dims)])
    vec = F.when(
        F.col("nrm") == 0.0, F.array(*([F.lit(0.0)] * dims))
    ).otherwise(F.transform(raw, lambda x: x / F.col("nrm")))
    return normed.select("id", vec.alias("vec"))


# Beyond this width the unrolled sum stops paying: the generated method
# outgrows whole-stage-codegen limits and the whole STAGE falls back to
# interpreted expression eval (measured: the 64-wide unroll took the
# text→ANN chain 12 s → 84 s and regressed ann_cosine_topk 0.55 s →
# 2.9 s, while ≤32-wide unrolls are 2-3× wins).  Wider dots keep the HOF
# fold — identical arithmetic either way, so the cutoff is purely a
# physical-plan choice.
UNROLL_MAX_DIMS = 32


def dot_fold(a: Column, b: Column, dims: int | None = None) -> Column:
    """Ordered left-fold dot product in double (cross-engine stable).

    When ``dims`` is statically known and ≤ :data:`UNROLL_MAX_DIMS`, the
    fold is UNROLLED into a flat left-associative sum
    ``(((0.0 + a0*b0) + a1*b1) + ...)`` — bit-identical arithmetic to the
    ``zip_with`` + ``aggregate`` fold (same operation order, same
    doubles), but whole-stage-codegen'd instead of interpreted per
    element.  HOF lambdas run on the interpreted expression path, which
    is the measured bottleneck when the dot sits on a candidate-PAIR
    cardinality (millions of rows): the unrolled twin is pure codegen.
    Callers that cannot know the width (ragged or dynamic arrays) keep the
    HOF fold, as do widths past the codegen cutoff."""
    if dims is not None and dims > UNROLL_MAX_DIMS:
        dims = None
    if dims is not None:
        acc: Column = F.lit(0.0).cast("double")
        for j in range(dims):
            acc = acc + (
                F.get(a, j).cast("double") * F.get(b, j).cast("double")
            )
        return acc
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(
        prods, F.lit(0.0).cast("double"), lambda acc, x: acc + x
    )


def cosine(
    a: Column,
    b: Column,
    decimals: int = 6,
    dims: int | None = None,
    norm_a: Column | None = None,
    norm_b: Column | None = None,
) -> Column:
    """Cosine similarity floor-truncated to ``decimals`` digits (cross-engine
    deterministic — see textstats.trunc4); zero vectors → 0.0.

    ``norm_a`` / ``norm_b`` accept PRECOMPUTED vector norms: norms are a
    per-vector property, so computing them per candidate PAIR does the same
    fold millions of extra times — precompute once on the vector table and
    carry the scalar through the join (arithmetic is unchanged: same
    ``sqrt(dot(v, v))`` value, computed earlier)."""
    dot = dot_fold(a, b, dims=dims)
    na = F.sqrt(dot_fold(a, a, dims=dims)) if norm_a is None else norm_a
    nb = F.sqrt(dot_fold(b, b, dims=dims)) if norm_b is None else norm_b
    scale = F.lit(float(10 ** decimals))
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        F.floor(dot / (na * nb) * scale) / scale
    )


def vec_norm(vec: Column, dims: int | None = None) -> Column:
    """L2 norm ``sqrt(dot(v, v))`` — the per-vector precompute for
    :func:`cosine`'s ``norm_a`` / ``norm_b``."""
    return F.sqrt(dot_fold(vec, vec, dims=dims))


def _guarded_norm(vec: Column, dims: int) -> Column:
    """:func:`vec_norm` that FAILS FAST when a non-null vector's width
    differs from the statically-declared ``dims``.

    A declared width drives prefix reads (``F.get(vec, 0..dims-1)``) and
    centroid/plane literals of that width, so a mismatch silently computes
    a plausible-but-wrong prefix cosine (declared < actual) or
    null-propagates rows out of the result (declared > actual) — the same
    degenerate-silence class as :func:`_guarded_bucket`.  The guard lives
    inside the norm expression, which every scoring path computes and
    carries through its join, so Catalyst cannot prune it away.  A NULL
    vector stays a NULL norm (missing vector, not a width bug)."""
    return (
        F.when(vec.isNull(), F.lit(None).cast("double"))
        .when(F.size(vec) == dims, vec_norm(vec, dims=dims))
        .otherwise(
            F.raise_error(F.concat(
                F.lit("ann: embedding width "),
                F.size(vec).cast("string"),
                F.lit(f" != declared dims {dims}"),
            ))
        )
    )


def _flat_names(dims: int, prefix: str) -> list[str]:
    """Column names produced by :func:`_flat_cols` for this width."""
    if dims > UNROLL_MAX_DIMS:
        return [f"{prefix}arr"]
    return [f"{prefix}{j}" for j in range(dims)]


def _flat_cols(vec: Column, dims: int, prefix: str) -> list[Column]:
    """Vector payload for one side of a pair join: ``dims`` scalar double
    columns below the codegen cutoff, the array itself above it.

    Candidate-pair verification over JOINED array columns pays a
    null-and-bounds-checked array ``get`` per element per pair — measured
    5× slower than reading flat double columns at 6.2M pairs × 32 dims
    (6.8 s vs 1.35 s).  Splitting the vector into scalar columns BEFORE
    the join makes the per-pair dot a flat multiply-add chain over direct
    column reads; the row width through the shuffle is the same bytes
    (UnsafeRow stores array elements inline anyway).  Past
    :data:`UNROLL_MAX_DIMS` the flat select itself outgrows whole-stage
    codegen (measured: ann_cosine_topk 0.55 s → 1.9 s at 64 flat
    columns), so the array rides the join and the dot keeps the HOF
    fold — identical arithmetic, different physical plan."""
    if dims > UNROLL_MAX_DIMS:
        return [vec.alias(f"{prefix}arr")]
    return [
        F.get(vec, j).cast("double").alias(f"{prefix}{j}")
        for j in range(dims)
    ]


def _flat_cosine(
    pa: str, pb: str, dims: int, norm_a: Column, norm_b: Column,
    decimals: int = 6,
) -> Column:
    """:func:`cosine` over the :func:`_flat_cols` payload — identical
    left-associative arithmetic (``0.0 + a0*b0 + a1*b1 + ...``) whether
    unrolled over flat columns or folded over the carried array, so the
    cross-engine truncated values match the fold bit-for-bit."""
    if dims > UNROLL_MAX_DIMS:
        return cosine(
            F.col(f"{pa}arr"), F.col(f"{pb}arr"), decimals=decimals,
            norm_a=norm_a, norm_b=norm_b,
        )
    acc: Column = F.lit(0.0).cast("double")
    for j in range(dims):
        acc = acc + F.col(f"{pa}{j}") * F.col(f"{pb}{j}")
    scale = F.lit(float(10 ** decimals))
    return F.when((norm_a == 0.0) | (norm_b == 0.0), F.lit(0.0)).otherwise(
        F.floor(acc / (norm_a * norm_b) * scale) / scale
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine_sim), k rows per query, self
    matches excluded.  ``broadcast(queries)`` keeps the corpus scan narrow;
    the only shuffle is the per-query top-k window.  Norms are precomputed
    per vector (not per scored pair), and a statically-known ``dims``
    unrolls the dot into codegen (see :func:`dot_fold`).
    """
    if dims is not None:
        # flat scalar columns through the broadcast cross join
        # (see _flat_cols); the dot reads direct double columns
        q = queries.select(
            F.col(id_col).alias("query_id"),
            *_flat_cols(F.col(vec_col), dims, "q"),
            _guarded_norm(F.col(vec_col), dims).alias("qnrm"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            *_flat_cols(F.col(vec_col), dims, "x"),
            _guarded_norm(F.col(vec_col), dims).alias("cnrm"),
        )
        sim = _flat_cosine(
            "x", "q", dims,
            norm_a=F.col("cnrm"), norm_b=F.col("qnrm"),
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            vec_norm(F.col(vec_col)).alias("qnrm"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            vec_norm(F.col(vec_col)).alias("cnrm"),
        )
        sim = cosine(
            F.col("cv"), F.col("qv"),
            norm_a=F.col("cnrm"), norm_b=F.col("qnrm"),
        )
    scored = c.join(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "neighbor_id",
        sim.alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_centroids(
    n_cells: int = 16, dims: int = DEFAULT_DIMS, seed: str = "ivf"
) -> list[list[float]]:
    """Deterministic pseudo-random coarse-quantizer centroids — the
    oracle-replayable default (literals shared with the DuckDB SQL by
    construction).  For a data-adapted quantizer train with
    :func:`ivf_train_kmeans`; the assignment/probe machinery is identical
    either way."""
    return hyperplanes(n_cells, dims, seed)


# Member vectors are quantized to integer micro-units before the centroid
# mean: bigint sums are EXACT and order-independent, so training is
# bit-deterministic across partitionings, shuffle orders, AND engines (the
# pure-Python oracle twin replays the identical arithmetic).  The 1e-6
# quantization error is noise against unit-norm vectors; the driver-side
# exact division holds while |per-dim sum| < 2^53 micro-units (~10^9 rows
# of unit-scale components per cell — repartition the mean into per-cell
# partial sums combined as Python ints beyond that).
UNIT_SCALE = 1e6


def centroid_from_unit_sums(sums: list[int], n: int) -> list[float]:
    """Unit-normalized mean from exact micro-unit sums (shared by the
    Spark trainer and the plain-Python oracle twin — keep single-sourced).
    """
    return _normalize([s / n / UNIT_SCALE for s in sums])


def ivf_train_kmeans(
    corpus: DataFrame,
    n_cells: int = 16,
    n_iters: int = 5,
    dims: int = DEFAULT_DIMS,
    vec_col: str = "embedding",
    seed: str = "ivf",
    assign_mode: str = "auto",
) -> list[list[float]]:
    """Spherical k-means training for the IVF coarse quantizer.

    Lloyd iterations as plain DataFrame aggregations: assign each vector to
    its argmax-dot centroid (the same ``_cell_of`` expression the index
    uses), then recompute each centroid as the per-dimension mean of its
    members (``dims`` codegen'd integer-sum aggregates over one
    groupBy(cell) shuffle — see ``UNIT_SCALE`` for why integer) and
    re-normalize to unit length — with unit centroids, argmax-dot ≡
    argmax-cosine, so training and probing optimize the same objective.
    ``assign_mode`` picks the per-row assignment engine (see
    :func:`_assign_cell`): ``'auto'`` keeps quantizer-scale cell counts
    on the bit-replayable unrolled expression and switches to the
    Arrow matmul past :data:`EXPR_ASSIGN_MAX_CELLS` — the integer-sum
    centroid update is identical either way, so determinism-given-
    assignments holds in both modes (only near-tie argmax ranking can
    differ, and only in the arrow mode).
    Centroids live on the driver between iterations (n_cells × dims floats
    — broadcast as plan literals, never shuffled), so the per-iteration
    cost is ONE pass + one tiny shuffle regardless of corpus size.  Init =
    the deterministic seeded centroids and sums are exact integers, so
    training is bit-reproducible regardless of partitioning; empty cells
    keep their previous centroid.
    """
    centroids = [
        _normalize(c) for c in hyperplanes(n_cells, dims, seed)
    ]
    v = F.col(vec_col)
    # The scoring paths carry _guarded_norm through their joins, but the
    # trainer's sums never read a norm (Catalyst would prune a mere
    # select), so the width guard rides a FILTER instead: a vector whose
    # width differs from ``dims`` would otherwise null-pad every centroid
    # score (silent cell-0 assignment) and skip its out-of-range dims in
    # the sums while still counting in n — a plausible-but-wrong
    # quantizer with no error.  NULL vectors are missing data, not a
    # width bug (same contract as _guarded_norm): skipped, not trained on
    # (they too would inflate n while contributing nothing to the sums).
    trainable = corpus.filter(v.isNotNull()).filter(
        F.when(F.size(v) == dims, F.lit(True)).otherwise(
            F.raise_error(F.concat(
                F.lit("ivf_train_kmeans: embedding width "),
                F.size(v).cast("string"),
                F.lit(f" != declared dims {dims}"),
            ))
        )
    )
    for _ in range(n_iters):
        assigned = trainable.select(
            _assign_cell(v, centroids, assign_mode).alias("cell"),
            v.alias("v"),
        )
        sums = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.floor(
                        F.element_at("v", d + 1).cast("double")
                        * F.lit(UNIT_SCALE)
                    ).cast("bigint")
                ).alias(f"s{d}")
                for d in range(dims)
            ]
        ).collect()
        by_cell = {
            int(r["cell"]): centroid_from_unit_sums(
                [int(r[f"s{d}"]) for d in range(dims)], int(r["n"])
            )
            for r in sums
        }
        centroids = [
            by_cell.get(i, centroids[i]) for i in range(n_cells)
        ]
    return centroids


def _normalize(vec: list[float]) -> list[float]:
    import math

    norm = math.sqrt(sum(x * x for x in vec))
    return [x / norm for x in vec] if norm > 0 else list(vec)


def _scored_cells(vec: Column, centroids: list[list[float]]) -> Column:
    """``array<struct<score,prio,cell>>`` — one scored struct per
    centroid, the SINGLE source of the (score, prio) ranking key for
    both the index side (:func:`_cell_of`'s argmax via ``array_max``)
    and the query side (:func:`ivf_search`'s n_probes ranking via
    ``reverse(array_sort)``).  IVF recall depends on those two rankings
    agreeing exactly (a corpus vector's own cell must appear in its
    identical query's probe list); two hand-copied struct lists drifting
    apart would silently drop exact matches from results."""
    return F.array(*[
        F.struct(
            dot_fold(
                vec, F.array(*[F.lit(v) for v in c])
            ).alias("score"),
            F.lit(-i).alias("prio"),
            F.lit(i).alias("cell"),
        )
        for i, c in enumerate(centroids)
    ])


def _cell_of(vec: Column, centroids: list[list[float]]) -> Column:
    """Argmax-dot centroid id, ties to the lowest id (struct-max trick)."""
    return F.array_max(_scored_cells(vec, centroids))["cell"]


# The expression path unrolls every centroid into the plan (n_cells structs
# × dims multiply-adds per row in ONE generated method): bit-replayable and
# codegen-fast at quantizer scale (16-64 cells), but the method outgrows
# whole-stage codegen limits and plan-compile time grows linearly past
# that — SemDeDup-style partitioning wants THOUSANDS of cells.  Above this
# cutoff assignment switches to an Arrow-batched matmul argmax.
EXPR_ASSIGN_MAX_CELLS = 64


def _cell_of_arrow(vec: Column, centroids: list[list[float]]) -> Column:
    """Argmax-dot centroid id as a vectorized pandas UDF — the LARGE
    ``n_cells`` assignment path (one ``X @ Cᵀ`` matmul + argmax per Arrow
    batch, so per-row cost is a BLAS flop, not an expression-tree node).

    Matches :func:`_cell_of` semantics: ties to the lowest centroid id
    (``np.argmax`` returns the first maximum), a NULL vector goes to
    cell 0 (all-zero scores — same as the zero vector), and a row whose
    width differs from the centroid width raises rather than silently
    scoring a prefix.  NOT bit-replayable: BLAS reduces the dot in a
    different order than the expression path's left fold, so a pair of
    centroids whose scores differ only in the last ulps can rank either
    way — use the expression path for oracle-gated shapes (the
    ``EXPR_ASSIGN_MAX_CELLS`` default keeps contract configurations on
    it) and this path when cell count, not replayability, is binding.
    The centroid matrix rides the serialized UDF closure to each
    executor once (n_cells × dims doubles — 12.8 MB at the paper's 50k
    cells × 32 dims)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64).T  # (dims, n_cells)
    dims = cmat.shape[0]

    @pandas_udf("int")
    def _assign(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype="int32")
        rows = []
        zero = np.zeros(dims, dtype=np.float64)
        for v in batch:
            if v is None:
                rows.append(zero)
                continue
            a = np.asarray(v, dtype=np.float64)
            if a.shape != (dims,):
                raise ValueError(
                    f"ann: embedding width {a.shape} != declared "
                    f"dims {dims}"
                )
            rows.append(a)
        scores = np.stack(rows) @ cmat
        return pd.Series(np.argmax(scores, axis=1).astype("int32"))

    return _assign(vec)


def _assign_cell(
    vec: Column, centroids: list[list[float]], assign_mode: str = "auto"
) -> Column:
    """Dispatch centroid assignment: ``'expr'`` (plan-literal unrolled,
    bit-replayable), ``'arrow'`` (batched matmul, scales to thousands of
    cells), or ``'auto'`` (expr up to :data:`EXPR_ASSIGN_MAX_CELLS`)."""
    if assign_mode == "auto":
        assign_mode = (
            "expr" if len(centroids) <= EXPR_ASSIGN_MAX_CELLS else "arrow"
        )
    if assign_mode == "expr":
        return _cell_of(vec, centroids)
    if assign_mode == "arrow":
        return _cell_of_arrow(vec, centroids)
    raise ValueError(f"unknown assign_mode {assign_mode!r}")


def ivf_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF index build: (id, v, cell).  Narrow — one pass, no shuffle; at
    scale the output is written partitioned by cell so probes prune files."""
    centroids = centroids or ivf_centroids()
    return corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _cell_of(F.col(vec_col), centroids).alias("cell"),
    )


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k: score only vectors whose cell is among each query's
    ``n_probes`` closest centroids — the inverted-file pruning that turns
    brute force O(N) per query into O(N · probes / cells).

    Output: (query_id, neighbor_id, cosine_sim), ≤ k rows per query."""
    centroids = centroids or ivf_centroids()
    dims = len(centroids[0])  # cell assignment already requires this width
    # flat scalar columns through the probe join (see _flat_cols)
    indexed = ivf_assign(corpus, id_col, vec_col, centroids).select(
        "id",
        *_flat_cols(F.col("v"), dims, "x"),
        _guarded_norm(F.col("v"), dims).alias("nrm"),
        "cell",
    )

    probe_cells = F.slice(
        F.reverse(F.array_sort(
            _scored_cells(F.col(vec_col), centroids)
        )),
        1, n_probes,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *_flat_cols(F.col(vec_col), dims, "q"),
        _guarded_norm(F.col(vec_col), dims).alias("qnrm"),
        F.transform(probe_cells, lambda s: s["cell"]).alias("cells"),
    ).select(
        "query_id",
        *_flat_names(dims, "q"),
        "qnrm",
        # outer + null filter: the inferred size>0 pre-filter would
        # re-score every centroid per query row a second time (see
        # textstats.explode_non_null).  n_probes ≥ 1 → never null.
        F.explode_outer("cells").alias("cell"),
    ).filter(F.col("cell").isNotNull())

    cand = indexed.join(F.broadcast(q), on="cell").filter(
        F.col("id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        _flat_cosine(
            "x", "q", dims,
            norm_a=F.col("nrm"), norm_b=F.col("qnrm"),
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def lsh_bucket(
    vec: Column, planes: list[list[float]] | None = None
) -> Column:
    """Sign-bit bucket string of a vector against the literal hyperplanes."""
    planes = planes or hyperplanes()
    bits = [
        F.when(
            dot_fold(vec, F.array(*[F.lit(v) for v in plane])) > 0.0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _guarded_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """``lsh_bucket`` that FAILS FAST on a vector/plane width mismatch.

    ``zip_with`` null-pads a length mismatch, every sign bit falls to '0',
    and the bucketing silently degenerates to one global bucket — an
    all-pairs cross join at scale.  The guard lives inside the bucket
    expression itself (not a droppable side column), so Catalyst cannot
    prune it away.  A NULL embedding keeps its pre-guard behavior: NULL
    bucket → the row drops out of the equi-join (it is a missing vector,
    not a width bug)."""
    dims = len(planes[0])
    return (
        F.when(vec.isNull(), F.lit(None).cast("string"))
        .when(F.size(vec) == dims, lsh_bucket(vec, planes))
        .otherwise(
            # vec is non-null here, so size() is non-null and the message
            # cannot null-propagate through concat
            F.raise_error(F.concat(
                F.lit("lsh bucket: embedding width "),
                F.size(vec).cast("string"),
                F.lit(f" != plane width {dims}"),
            ))
        )
    )


def ann_sketches(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    dims: int = DEFAULT_DIMS,
    n_planes: int = DEFAULT_PLANES,
) -> DataFrame:
    """``(id, v, bucket)`` per-vector ANN sketch — the PERSISTABLE
    unit of incremental embedding near-dup search, mirroring
    ``dedup.minhash_sketches``: the bucket is a pure per-vector function
    of the (literal) plane set, so sketches written by one run bucket
    identically against sketches computed by a later run.  The verify
    norm is NOT stored: the reader re-derives it from ``v``
    (:func:`incremental_lsh_ann_pairs`), which keeps one source of truth
    and doubles as the width guard — persisting it too would be ~8 dead
    bytes per vector at the 10^9-row posture.  Store through the
    :mod:`ocr_spark.tableio` seam; the plane set (seed, ``n_planes``,
    ``dims``) is part of the store's contract — persist those parameters
    next to it (a mismatched reader raises via :func:`_guarded_bucket`
    on width mismatches, but a SAME-width different-seed plane set is
    not detectable from the data)."""
    planes = planes or hyperplanes(n_planes, dims=dims)
    return corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _guarded_bucket(F.col(vec_col), planes).alias("bucket"),
    )


def incremental_lsh_ann_pairs(
    new_sketches: DataFrame,
    committed_sketches: DataFrame | None = None,
    dims: int = DEFAULT_DIMS,
    min_cosine: float = 0.6,
    persist_new: bool = True,
) -> DataFrame:
    """Cross-run incremental embedding ANN: cosine-≥ ``min_cosine`` pairs
    TOUCHING the new batch — (new × new) ∪ (new × committed) — without
    re-pairing the committed corpus against itself; the embedding member
    of the incremental dedup family (exact / minhash / simhash /
    clusters / passages all have the same shape).

    Store protocol mirrors ``dedup.incremental_minhash_pairs``: sketch
    the delta (:func:`ann_sketches`), bucket-join it against itself and
    against the committed sketch store, verify exact cosine from the
    carried vectors (norms re-derived here — see :func:`ann_sketches`),
    then append the delta's sketches to commit the run.  The committed
    side contributes one sketch scan + the bucket equi-join probe —
    never a committed × committed pair.  Buckets are pure per-vector
    functions of the plane literals, so the union of every run's output
    equals the
    full-corpus single-table :func:`lsh_ann_pairs` over all vectors
    (each pair is emitted by the run that introduced its later member) —
    replayed exactly by the ``ann_incremental`` contract oracle.

    One bucket per vector (single-table LSH), so no pair can be emitted
    twice WITHIN a side — the only distinct is structural (new × new vs
    new × committed are disjoint by the id-disjointness precondition,
    shared with the whole incremental family).

    Physically this is ONE bucket equi-join — probe = the delta, build =
    delta ∪ committed with a ``same_side`` marker deciding the pair
    emission rule (``l.id < r.id`` within the delta so each new×new pair
    emits once; every delta×committed match emits, ids being disjoint) —
    one shuffle instead of the two a per-side join pair would cost.  The
    verify carries the vector ARRAY through the join and folds the dot
    with the HOF :func:`cosine` at EVERY width, deliberately forgoing
    the ``_flat_cols`` unrolled-column fast path ``lsh_ann_pairs`` uses:
    when the union (either form — two verified joins unioned after, or
    the inputs unioned below one join) met the ``dims``-term unrolled
    cosine filter, Catalyst's constraint propagation
    (``getAllValidConstraints`` alias substitution + canonicalization)
    grew exponentially — a measured driver heap OOM at FIVE delta rows ×
    dims=32, while dims=64 was immune purely because it already rode the
    array path (lambda-bearing HOFs are opaque to constraint inference).
    ``dot_fold`` guarantees the fold's left-associative arithmetic is
    bit-identical to the unrolled twin, so oracle values are unchanged;
    the forgone codegen win applies per CANDIDATE, a band-join-bounded
    volume here, not the corpus."""
    def _flat(sdf: DataFrame) -> DataFrame:
        # re-derive the verify payload from the STORED vector: a store
        # written at a different width raises through _guarded_norm
        # (nrm feeds every verified pair, so Catalyst cannot prune it)
        flat = sdf.select(
            "id",
            "bucket",
            _guarded_norm(F.col("v"), dims).alias("nrm"),
            F.col("v").alias("xarr"),
        )
        # zero/NULL norms: same exclusion as lsh_ann_pairs (the shared
        # all-zero bucket; pairs forced to cosine 0.0 — unverifiable
        # whenever min_cosine > 0).  The store keeps every sketch; only
        # this run's PAIRING prep drops them, on both sides.
        if min_cosine > 0:
            flat = flat.filter(F.col("nrm") > 0)
        return flat

    nb = _flat(new_sketches)
    if persist_new:
        nb = nb.persist()

    def _verify(joined: DataFrame) -> DataFrame:
        # cosine is symmetric, so canonicalizing ids after the join is
        # free — no column swap needed for the vector payload
        return joined.select(
            F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
            # the HOF fold, NOT the unrolled flat-column dot: identical
            # left-associative arithmetic (dot_fold), but the lambda is
            # opaque to constraint propagation — see the docstring
            cosine(
                F.col("l.xarr"), F.col("r.xarr"),
                norm_a=F.col("l.nrm"), norm_b=F.col("r.nrm"),
            ).alias("cosine_sim"),
        ).filter(F.col("cosine_sim") >= min_cosine)

    if committed_sketches is None:
        return _verify(
            nb.alias("l")
            .join(nb.alias("r"), on="bucket")
            .filter(F.col("l.id") < F.col("r.id"))
        )
    # single join: build side = delta ∪ committed, marked per row — see
    # the docstring for why the two-join-then-union form is forbidden
    build = nb.withColumn("same_side", F.lit(True)).unionByName(
        _flat(committed_sketches).withColumn("same_side", F.lit(False))
    )
    return _verify(
        nb.alias("l")
        .join(build.alias("r"), on="bucket")
        .filter(
            F.when(F.col("r.same_side"), F.col("l.id") < F.col("r.id"))
            .otherwise(F.col("l.id") != F.col("r.id"))
        )
    )


def _cosine_self_join(
    keyed: DataFrame, keys: list[str], dims: int, min_cosine: float,
    dedup: bool,
) -> DataFrame:
    """The one bucket self-join + exact-cosine verify behind
    :func:`lsh_ann_pairs` and :func:`semantic_dedup`.

    ``keyed`` carries ``(id, *keys, nrm)`` plus the :func:`_flat_cols`
    payload under prefix ``x``.  Two rows that share all ``keys`` are
    one candidate (``id_a < id_b``); the verify reads the carried payload
    and norms, so no vector joins back.  ``dedup`` distincts the verified pairs, for
    inputs where one pair can share several keys (multi-table LSH).

    NULL norms (missing vectors) can never verify, so they never pair.
    Zero norms are excluded too whenever ``min_cosine > 0``: they all
    share one bucket (every plane dot is 0) and every pair they form is
    a forced cosine 0.0, so m such vectors would be m²/2 dead candidates
    in one straggler bucket.  At ``min_cosine ≤ 0`` a 0.0 pair passes,
    so there they pair."""
    nrm = F.col("nrm")
    keyed = keyed.filter(nrm > 0 if min_cosine > 0 else nrm.isNotNull())
    pairs = (
        keyed.alias("l")
        .join(keyed.alias("r"), on=keys)
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            _flat_cosine(
                "l.x", "r.x", dims,
                norm_a=F.col("l.nrm"), norm_b=F.col("r.nrm"),
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= min_cosine)
    )
    return pairs.distinct() if dedup else pairs


def lsh_ann_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    min_cosine: float = 0.6,
    n_tables: int = 1,
    dims: int = DEFAULT_DIMS,
    n_planes: int = DEFAULT_PLANES,
) -> DataFrame:
    """Bucketed ANN candidate pairs verified by exact cosine.

    Narrow bucket assignment → join on (table, bucket) → cosine only
    inside buckets.  Output: (id_a, id_b, cosine_sim) with id_a < id_b.

    ``n_tables`` > 1 is the recall lever: a pair at angle θ collides in
    one table of p planes with probability (1−θ/π)^p; T independent
    tables raise that to 1−(1−(1−θ/π)^p)^T while multiplying candidate
    work by ≤ T.  Table t hashes against ``hyperplanes(n_planes, dims)``
    seeded ``"lsh"`` for t = 0 and ``"lsh/t{t}"`` after, so the
    multi-table pair set is the union of the single-table pair sets
    over those seeds, and a superset of the default single table's at
    equal ``n_planes``.  A pair colliding in several tables is emitted
    once.  Explicit ``planes`` is one table; passing it with
    ``n_tables`` > 1 raises.

    The vector width must equal the plane width (``dims``, or the width
    of ``planes``): the norm raises on the first mismatched row (see
    :func:`_guarded_norm`) instead of letting out-of-range reads null
    every row out of the result or degenerate the bucketing to one
    global bucket (an all-pairs cross join at scale).

    The prepared ``(id, payload, norm)`` base is persisted before the
    self-join, because a self-join evaluates its input subtree once per
    side: when ``corpus`` is itself a computed pipeline (e.g.
    ``embed_hash``) that chain would otherwise run twice (measured 15.2 s
    vs 4.7 s on the text → ANN chain at sf0.1).  Spark's CacheManager
    holds the entry until unpersist; long-lived sessions issuing many
    one-shot calls should clear the cache.  Each table is one narrow
    ``(tbl, bucket)`` projection of that base, unioned under one join,
    so the payload rides the join and no vector joins back.

    This is not :func:`incremental_lsh_ann_pairs` over no store, because
    the two verify forms differ only at ``dims`` ≤ :data:`UNROLL_MAX_DIMS`
    (wider vectors fold through the HOF in both), where the flat columns
    here measured 5× on the verify (:func:`_flat_cols`) and the same
    flat columns under a union with a committed store exhausted the
    driver heap — so the form follows whether a committed store is there.
    """
    if planes is not None and n_tables > 1:
        raise ValueError(
            "pass either explicit planes (single table) or n_tables"
        )
    tables = [planes] if planes is not None else [
        hyperplanes(
            n_planes, dims=dims, seed="lsh" if t == 0 else f"lsh/t{t}"
        )
        for t in range(max(n_tables, 1))
    ]
    dims = len(tables[0][0])
    base = corpus.select(
        F.col(id_col).alias("id"),
        *_flat_cols(F.col(vec_col), dims, "x"),
        _guarded_norm(F.col(vec_col), dims).alias("nrm"),
    ).persist()
    # the buckets hash the payload itself: the flat columns re-packed
    # below the codegen cutoff, the carried array above it
    payload = _flat_names(dims, "x")
    vec = F.col(payload[0]) if dims > UNROLL_MAX_DIMS else F.array(*payload)
    banded = functools.reduce(DataFrame.unionByName, [
        base.select(
            "*", F.lit(t).alias("tbl"), lsh_bucket(vec, tp).alias("bucket"),
        )
        for t, tp in enumerate(tables)
    ])
    return _cosine_self_join(
        banded, ["tbl", "bucket"], dims, min_cosine, dedup=len(tables) > 1,
    )


def semantic_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 32,
    n_cells: int = 16,
    threshold: float = 0.85,
    centroids: list[list[float]] | None = None,
    train: bool = True,
    n_iters: int = 5,
    assign_mode: str = "auto",
) -> DataFrame:
    """SemDeDup semantic near-duplicate pruning (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): embed every document
    (:func:`embed_hash`), cluster the embedding space with the spherical
    k-means quantizer (:func:`ivf_train_kmeans`), compute exact cosine
    ONLY within each cluster, and keep one canonical document per
    semantic-duplicate component.

    Output: ``(id, cell, cluster_id, is_canonical)`` — every input doc
    exactly once.  ``cluster_id`` is the minimum doc id reachable through
    intra-cell cosine-≥ ``threshold`` pairs (singletons label
    themselves); ``is_canonical`` marks the row a training-data pipeline
    keeps; ``cell`` is the k-means cluster the doc was compared within
    (diagnostic — cell-size telemetry is how skew is seen early).

    Complements the SYNTACTIC family: MinHash/simhash pair documents
    that share shingles (literal copies); this pairs documents whose
    token DISTRIBUTIONS embed nearby — e.g. a word-order shuffle shares
    no 3-gram shingle but embeds identically under bag-of-tokens feature
    hashing.  The paper keeps the member farthest from the centroid;
    here canonical = min doc id, the same deterministic survivor rule as
    every other dedup operator in this repo (survivor choice is policy,
    not pairing semantics — re-rank within ``cluster_id`` downstream to
    change it).

    Scale shape: embedding is one explode + one codegen aggregate;
    training is ``n_iters`` × (one corpus pass + an ``n_cells``-row
    collect); assignment is narrow; the ONLY pair work is the
    within-cell self-join, so candidate count is Σ|cell|²/2 and
    ``n_cells`` is the quadratic-discipline lever — grow it linearly
    with the corpus so the mean cell stays bounded (the paper runs 50k
    clusters at web scale for exactly this reason), and watch the
    per-cell candidate count (Σ|cell|²/2) for a skewed giant cell.
    ``assign_mode`` (see :func:`_assign_cell`) makes large cell counts
    practical: ``'auto'`` keeps ≤
    :data:`EXPR_ASSIGN_MAX_CELLS` cells on the bit-replayable unrolled
    expression and switches bigger quantizers to the Arrow-batched
    matmul argmax — without it, a 50k-cell assignment would be a 50k-
    struct expression tree per row, which no codegen survives.  Pairing
    is the self-join shared with :func:`lsh_ann_pairs`
    (:func:`_cosine_self_join`), keyed on ``cell``: zero-norm vectors
    (token-less docs) are excluded from it whenever ``threshold > 0``,
    but they keep their label row (each its own singleton component).

    ``train=False`` skips k-means and uses the deterministic seeded
    centroids (unit-normalized :func:`ivf_centroids`) — the
    oracle-replayable default when a caller needs plan-literal centroids
    with no training action; explicit ``centroids`` (e.g. trained once,
    persisted, reused across incremental runs) skip training too.

    The embedding table is persisted for the duration (the trainer scans
    it ``n_iters`` times) and so is the prepared assignment table — the
    latter is NOT only the usual evaluate-once-per-join-side discipline
    (as in :func:`lsh_ann_pairs`): the self-join carries a
    64-attribute cosine filter, and optimizing that filter over the raw
    assignment subtree sends Catalyst's constraint propagation
    (``getAllValidConstraints`` alias substitution) into exponential
    blowup — a measured driver OOM at 30 input rows.  The persisted
    table plans as an ``InMemoryRelation`` leaf (empty constraint set),
    which cuts the explosion at its source.  Both caches are unpersisted
    before return — by then the component loop has materialized the edge
    list and the (id, cell) table is checkpointed, so nothing downstream
    recomputes either chain.
    """
    from ocr_spark.dedup import connected_components

    emb = embed_hash(docs, text_col=text_col, id_col=id_col, dims=dims)
    emb = emb.persist()
    assigned = None
    try:
        if centroids is None:
            centroids = (
                ivf_train_kmeans(
                    emb, n_cells=n_cells, n_iters=n_iters, dims=dims,
                    vec_col="vec", assign_mode=assign_mode,
                )
                if train
                else [_normalize(c) for c in ivf_centroids(n_cells, dims)]
            )
        v = F.col("vec")
        assigned = emb.select(
            "id",
            _assign_cell(v, centroids, assign_mode).alias("cell"),
            _guarded_norm(v, dims).alias("nrm"),
            *_flat_cols(v, dims, "x"),
        ).persist()
        pairs = _cosine_self_join(
            assigned, ["cell"], dims, threshold, dedup=False
        )
        nodes = emb.select("id")
        # the component loop materializes the edge list (and with it the
        # persisted embed cache) during this call
        labels = connected_components(nodes, pairs.select("id_a", "id_b"))
        # (id, cell) is checkpointed EAGERLY while the embed cache is
        # still hot: the caller materializes the returned frame after the
        # finally-unpersist below, and a lazy reference to `assigned`
        # would silently recompute the whole embed chain at that point
        cells = assigned.select("id", "cell").localCheckpoint(eager=True)
        return (
            labels.join(cells, on="id", how="left")
            .select(
                "id", "cell", "cluster_id",
                (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
            )
        )
    finally:
        if assigned is not None:
            assigned.unpersist()
        emb.unpersist()


def semantic_sketches(
    docs: DataFrame,
    centroids: list[list[float]],
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 32,
    assign_mode: str = "auto",
    persist_emb: bool = True,
) -> DataFrame:
    """``(id, v, bucket)`` per document — the PERSISTABLE unit of
    incremental SemDeDup, completing the incremental dedup family
    (exact / minhash / simhash / clusters / passages / ANN all have
    one).  ``v`` is the :func:`embed_hash` vector; ``bucket`` is the
    quantizer cell id as a string.

    ``persist_emb`` (default on, session-lifetime like the minhash
    operators' ``persist_base`` — callers batch-clearing via
    ``spark.catalog.clearCache`` is the convention) caches the embed
    table so the sketch projection plans over an ``InMemoryRelation``
    leaf.  This is NOT an optimization knob: the assignment expression
    references the embedding vector ~``n_cells × dims`` times and the
    pairing reader re-derives 1 + ``dims`` more columns from it, and
    optimizing that stack over the raw embed AGGREGATE sends Catalyst's
    constraint alias-substitution (``getAllValidConstraints``) into the
    same exponential driver OOM :func:`semantic_dedup` documents — a
    measured heap exhaustion at THIRTY input rows.  ``ann_sketches``
    needs no such cut only because its base is a parquet scan leaf
    already.  Turn it off only when the input embeds trivially or the
    caller persists upstream itself.

    Deliberately shares the :func:`ann_sketches` store schema so the
    ENTIRE downstream incremental machinery is single-sourced: pairing
    is :func:`incremental_lsh_ann_pairs` (cell equi-join + exact-cosine
    verify — see :func:`incremental_semantic_pairs`), the commit
    protocol and id-disjointness precondition are the family's, and
    label maintenance feeds ``dedup.incremental_components`` exactly
    like minhash pairs do.  The one semantic difference lives here: the
    join key is a trained-quantizer cell (argmax-dot against pinned
    centroids) instead of hyperplane sign bits.

    ``centroids`` is REQUIRED and is part of the store's contract —
    pin the quantizer when the store is created (train once with
    :func:`ivf_train_kmeans`, or use the seeded unit
    :func:`ivf_centroids`) and persist its parameters next to the
    store.  Re-training between runs would re-partition the embedding
    space and silently orphan every committed cell assignment; that is
    why this function will not train for you.  Vector width is ``dims``
    by construction (``embed_hash`` emits exactly ``dims`` entries);
    a store written at a different width fails fast at pairing time
    through the reader's ``_guarded_norm``."""
    emb = embed_hash(docs, text_col=text_col, id_col=id_col, dims=dims)
    if persist_emb:
        emb = emb.persist()
    return emb.select(
        "id",
        F.col("vec").alias("v"),
        _assign_cell(F.col("vec"), centroids, assign_mode)
        .cast("string")
        .alias("bucket"),
    )


def incremental_semantic_pairs(
    new_sketches: DataFrame,
    committed_sketches: DataFrame | None = None,
    dims: int = 32,
    threshold: float = 0.85,
    persist_new: bool = True,
) -> DataFrame:
    """Cross-run incremental SemDeDup: cosine-≥ ``threshold`` semantic
    pairs TOUCHING the new batch — (new × new) ∪ (new × committed) —
    without re-pairing the committed corpus against itself.

    Pure delegation to :func:`incremental_lsh_ann_pairs` over
    :func:`semantic_sketches` rows: the cell id rides the ``bucket``
    column, so the equi-join, flat-column cosine verify, zero-norm
    exclusion (token-less docs never pair — same rule as
    :func:`semantic_dedup`), and new/committed canonicalization are the
    single-sourced family implementation.  Because a cell assignment is
    a pure function of (vector, pinned centroids), the union of every
    run's output equals the one-shot within-cell pair set of
    :func:`semantic_dedup` under the same centroids — so feeding each
    run's pairs into ``dedup.incremental_components`` maintains exactly
    the one-shot cluster labels (gated end-to-end by
    ``test_incremental_semantic_two_batches_equal_one_run``)."""
    return incremental_lsh_ann_pairs(
        new_sketches,
        committed_sketches,
        dims=dims,
        min_cosine=threshold,
        persist_new=persist_new,
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval lists (Cormack &
    Clarke 2009) — the standard way to combine this engine's lexical
    (:func:`ocr_spark.textstats.bm25_search`) and embedding
    (:func:`brute_force_topk` / :func:`ivf_search`) retrievers into one
    hybrid ranking::

        lex = bm25_search(docs, queries, k=100)
        sem = brute_force_topk(corpus_vecs, query_vecs, k=100).select(
            "query_id", F.col("neighbor_id").alias("doc_id"),
            F.row_number().over(...).alias("rank"))
        hybrid = rrf_fuse([lex, sem], k=10)

    Scoring: RRF's ``1/(k_rrf + rank)`` is computed as the EXACT integer
    ``1_000_000_000 div (k_rrf + rank)`` (parts-per-billion, floor
    division) — monotone-identical per term to the float form, and the
    per-(query, doc) sum of bigints is order-independent, so fused ranks
    never depend on union or aggregation order (the same summation
    discipline as bm25's ppm scores).  Ties break ``(score DESC,
    doc ASC)`` — a total order.

    Output: ``(query_id, doc_id, rank, n_lists, rrf_ppb)``, ≤ ``k`` rows
    per query; ``n_lists`` = how many input lists ranked the doc (the
    agreement signal hybrid pipelines threshold on).

    Shape for 100 TB: inputs are already top-k'd per query (bounded:
    lists × k rows per query), so the union + one groupBy + one window
    all shuffle only ranked candidates, never corpora.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if k_rrf < 0:
        raise ValueError(f"k_rrf must be >= 0, got {k_rrf}")
    # integer DIV, not `/`+cast: float division's rounding could differ
    # from exact floor division in the last bit; DIV is exact in both
    # engines (DuckDB `//`, Python `//`)
    parts = [
        df.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            (F.lit(k_rrf).cast("bigint")
             + F.col(rank_col).cast("bigint")).alias("denom"),
        ).selectExpr(
            "query_id", "doc_id",
            "CAST(1000000000L DIV denom AS BIGINT) AS ppb",
        )
        for df in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.sum("ppb").cast("bigint").alias("rrf_ppb"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_ppb").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "n_lists", "rrf_ppb")
    )
