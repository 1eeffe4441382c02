"""Corpus-assembly operators: deterministic sampling and sequence packing.

The last mile of a training-data pipeline, after curation: pick a
reproducible subset (per-language mixture weights) and pack documents
into fixed-token-budget training sequences.

Scale shapes:

- **Sampling** is a pure narrow filter on a hash of the document id — no
  shuffle, no RNG state, trivially reproducible across reruns, engines,
  and partitionings (the classic hash-mod-threshold sample; Spark's
  ``df.sample`` is seed-dependent on partitioning and NOT oracle-safe).
- **Packing** needs a running token total, which is inherently
  sequential — so it runs PER SHARD: documents hash into ``n_shards``
  independent shards, and each shard packs with one window cumsum
  (shuffle by shard + in-partition sort).  Shards are the parallelism
  unit: at 100 TB use thousands of shards sized so one shard's rows fit
  an executor; each training sequence then concatenates one (shard, bin)
  group.  Bins overshoot their budget by at most one document (greedy
  next-fit), the standard packing trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.textstats import portable_hash, token_count


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    A row is kept iff ``hash(salt/id) mod 10^6 < fraction · 10^6`` for
    its stratum's fraction — so membership is a pure function of the id
    (stable under reruns/repartitioning, and the DuckDB oracle replays
    it exactly).  Strata absent from ``fractions`` get
    ``default_fraction``.  Fractions are exact at the 1e-6 granularity.

    NULL-``id`` rows are DROPPED at every fraction (even 1.0): with no
    id there is no deterministic bucket, and this operator returns the
    kept rows only — use :func:`mixture_sample`'s audit output when
    per-row keep/drop accounting (including unidentifiable rows) is
    needed.
    """
    bucket = portable_hash(
        F.concat(F.lit(f"{salt}/"), F.col(id_col).cast("string"))
    ) % F.lit(1000000)
    frac = None
    for name, p in fractions.items():
        thr = F.lit(int(round(p * 1000000)))
        cond = F.col(stratum_col) == name
        frac = F.when(cond, thr) if frac is None else frac.when(cond, thr)
    thr_col = (
        frac.otherwise(F.lit(int(round(default_fraction * 1000000))))
        if frac is not None
        else F.lit(int(round(default_fraction * 1000000)))
    )
    return df.filter(bucket < thr_col)


def pack_sequences(
    df: DataFrame,
    target_tokens: int = 2048,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document to a (shard, bin) training sequence by greedy
    next-fit packing of whitespace token counts.

    Within a shard (documents ordered by id), a document goes to bin
    ``floor(tokens_before / target_tokens)`` — bin boundaries therefore
    land within one document of each target multiple, so every closed
    bin's total lies in ``[target − max_doc, target + max_doc]`` (a bin
    that follows an overshooting document starts correspondingly late).
    Output: (doc_id, shard, bin, n_tokens, cum_tokens) where
    ``cum_tokens`` includes this document.

    ``tokens_col``: name a precomputed per-doc
    token-count column to pack by REAL tokenizer counts instead of the
    whitespace approximation — the handoff from ``bpe.bpe_encode``,
    whose ``n_tokens`` are the trained tokenizer's piece counts.  By
    default ``text_col`` is counted by whitespace.
    """
    shard = shard_key(F.col(id_col), n_shards)
    n_tok = (
        F.col(tokens_col) if tokens_col is not None
        else token_count(F.col(text_col))
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        shard.alias("shard"),
        n_tok.cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "shard",
        F.floor(
            (cum - F.col("n_tokens")) / F.lit(target_tokens)
        ).cast("bigint").alias("bin"),
        "n_tokens",
        cum.alias("cum_tokens"),
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int],
    budget_tokens: int,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Token-budget corpus mixing: allocate ``budget_tokens`` across
    domains proportionally to integer ``weights``, then keep each
    domain's documents at the deterministic hash-threshold rate that
    hits its allocation in expectation — the data-mixing step between
    curation and packing (domain weights are how training corpora are
    actually composed; a plain per-domain fraction ignores that domains
    have wildly different token volumes).

    All arithmetic is exact bigint, replayable by the oracle:
    ``target_d = budget · w_d DIV Σw`` (domains without a weight get 0),
    ``rate_ppm_d = min(10^6, target_d · 10^6 DIV domain_tokens)``, and a
    document is kept iff ``hash(salt/id) mod 10^6 < rate_ppm_d``. The
    expected kept-token count per domain is ``≈ target_d`` (capped at
    the domain's full volume); membership is a pure function of the id,
    stable under reruns and partitioning (same contract as
    :func:`stratified_sample`).

    Output: one row PER INPUT DOC — ``(doc_id, domain, n_tokens,
    domain_tokens, target_tokens, rate_ppm, kept)`` — so the caller can
    filter ``kept`` or audit the realized mixture.  That contract
    includes NULL-domain docs (null-safe domain join): like any
    unweighted domain they audit with target 0 / ``kept = false``
    rather than silently vanishing.  NULL-``id`` docs likewise audit
    ``kept = false`` (no id → no deterministic hash bucket), never
    ``kept = NULL``.

    Shape for 100 TB: one groupBy(domain) over (domain, n_tokens) rows
    (map-side combine — domains are few), a broadcast join of the tiny
    per-domain rate table, and a narrow hash filter.  No driver
    ``collect``: the rates are computed IN-PLAN with integer division,
    so the whole thing is one job."""
    wsum = sum(weights.values())
    if wsum <= 0:
        raise ValueError("mixture weights must sum to a positive value")
    if any(w < 0 for w in weights.values()):
        # A negative weight both yields a silent rate-0 domain AND lets
        # another domain's target exceed budget_tokens — past the int64
        # guard below, target·10^6 could wrap where budget·10^6 did not.
        raise ValueError("mixture weights must be non-negative")
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be non-negative")
    # The in-plan rate needs target·10^6 as a bigint; non-ANSI Spark
    # WRAPS int64 overflow silently (wrong rates, no error), so refuse
    # budgets past the exact bound up front.  ~9.2×10^12 tokens covers
    # tens of TB of text per job; for more, shard the budget across jobs
    # (or re-derive the rate at coarser ppm granularity).
    if budget_tokens * 1_000_000 >= 2 ** 63:
        raise ValueError(
            "budget_tokens too large for exact ppm arithmetic "
            f"({budget_tokens:.3g} * 1e6 overflows int64); split the "
            "budget across jobs"
        )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(domain_col).alias("domain"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    totals = base.groupBy("domain").agg(
        F.sum("n_tokens").cast("bigint").alias("domain_tokens")
    )
    tgt = None
    for name, w in weights.items():
        # exact Python-int division — plan literal per domain
        t = F.lit((budget_tokens * w) // wsum).cast("bigint")
        cond = F.col("domain") == name
        tgt = F.when(cond, t) if tgt is None else tgt.when(cond, t)
    tgt = (
        tgt.otherwise(F.lit(0).cast("bigint"))
        if tgt is not None else F.lit(0).cast("bigint")
    )
    rates = totals.select(
        "domain",
        "domain_tokens",
        tgt.alias("target_tokens"),
    ).select(
        "domain",
        "domain_tokens",
        "target_tokens",
        F.when(F.col("domain_tokens") <= 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.least(
                F.lit(1000000).cast("bigint"),
                F.expr("(target_tokens * 1000000) DIV domain_tokens"),
            )
        ).alias("rate_ppm"),
    )
    bucket = portable_hash(
        F.concat(F.lit(f"{salt}/"), F.col("doc_id").cast("string"))
    ) % F.lit(1000000)
    # NULL-SAFE domain join: the totals groupBy produces a NULL-domain
    # row for NULL-domain docs, and a plain equi-join would drop BOTH
    # sides silently — violating the one-row-PER-INPUT-DOC audit
    # contract.  Null-safe matching keeps them: no weight CASE matches
    # NULL, so such docs audit with target 0 / rate 0 / kept = false.
    return base.alias("b").join(
        F.broadcast(rates).alias("r"),
        F.col("b.domain").eqNullSafe(F.col("r.domain")),
    ).select(
        F.col("b.doc_id").alias("doc_id"),
        F.col("b.domain").alias("domain"),
        F.col("b.n_tokens").alias("n_tokens"),
        F.col("r.domain_tokens").alias("domain_tokens"),
        F.col("r.target_tokens").alias("target_tokens"),
        F.col("r.rate_ppm").alias("rate_ppm"),
        # coalesce: a NULL doc_id hashes to a NULL bucket and the bare
        # comparison would emit kept = NULL — a row that neither
        # filter('kept') nor filter(~col('kept')) returns, breaking the
        # audit contract.  An unidentifiable doc cannot be sampled
        # deterministically, so it audits as kept = false.
        F.coalesce(
            bucket < F.col("r.rate_ppm"), F.lit(False)
        ).alias("kept"),
    )


def score_buckets(
    df: DataFrame,
    score_col: str = "lm_score",
    by: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    sample_denom: int | None = None,
    salt: str = "sb",
) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing: assign each
    document to one of ``n_buckets`` score terciles WITHIN its group
    (language/domain) — the step between LM scoring and mixture
    sampling (CCNet keeps "head" and "middle", drops "tail").

    Two shapes, selected by ``sample_denom``:

    - ``None`` — EXACT ``ntile`` over ``(score, id)`` per group (total
      order → partitioning-independent).  This sorts each group inside
      one window partition: correct and oracle-replayable, but a group
      at 100 TB does not fit one partition — use it when groups are
      bounded (per-shard bucketing, evaluation slices).
    - ``d`` — the SCALE shape, and what CCNet itself does: compute the
      bucket BOUNDARIES on a deterministic hash sample (docs whose
      ``hash(salt/id) % d == 0`` — reproducible across reruns, engines,
      and partitionings, unlike ``df.sample``), then assign every doc by
      comparing its score to the broadcast boundaries.  Only the sample
      is ever sorted (bounded: |corpus|/d rows); the assignment is a
      narrow broadcast-join + CASE.  Boundary ``t_i`` = max sampled
      score in sample-ntile ``i``; doc bucket = smallest ``i`` with
      ``score ≤ t_i``, else ``n_buckets``.  A group sampled fewer than
      ``n_buckets − 1`` times (including zero) has missing boundaries
      and gets bucket NULL — surfaced, not silently guessed; raise
      ``1/d`` or pre-split tiny groups.

    Output: ``(id, group, score, bucket)`` — one row per input doc.
    NULL-score docs get bucket NULL in BOTH shapes (a doc the scorer
    failed on has no defensible quality tercile — surfaced, not
    guessed), and never influence the boundaries or the ntile counts of
    scored docs.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(by).alias("grp"),
        F.col(score_col).alias("score"),
    )
    if sample_denom is None:
        # NULL scores are excluded from the ntile entirely (they would
        # sort nulls-first into the head bucket AND displace real rows
        # across every tercile) and surface as bucket NULL — same
        # unscored-doc contract as the sampled branch below.  NULL-ness
        # rides the window PARTITION key instead of a filter + union:
        # NULL-score rows form their own partition (their ntile is
        # computed then discarded by the CASE), so scored rows' terciles
        # are untouched and the input lineage is scanned ONCE — the
        # filter/filter/union form evaluated an unpersisted upstream
        # chain twice.
        wb = Window.partitionBy("grp", F.col("score").isNull()).orderBy(
            F.col("score").asc(), F.col("id").asc()
        )
        return base.select(
            "id", "grp", "score",
            F.when(
                F.col("score").isNotNull(),
                F.ntile(n_buckets).over(wb),
            ).cast("bigint").alias("bucket"),
        )
    if sample_denom < 1:
        raise ValueError("sample_denom must be >= 1")
    # NULL scores must not enter the boundary sample: they sort
    # nulls-first into sample-ntile 1 (displacing real rows and skewing
    # every boundary down), and with enough of them tile 1's max(score)
    # is NULL — which the missing-boundary check would read as "group
    # under-sampled" and nullify the WHOLE group's buckets.
    sampled = base.filter(
        F.col("score").isNotNull()
        & (portable_hash(
            F.concat(F.lit(f"{salt}/"), F.col("id").cast("string"))
        ) % sample_denom == 0)
    )
    ws = Window.partitionBy("grp").orderBy(
        F.col("score").asc(), F.col("id").asc()
    )
    bounds = (
        sampled.select(
            "grp", "score",
            F.ntile(n_buckets).over(ws).alias("sb"),
        )
        .groupBy("grp")
        .pivot("sb", list(range(1, n_buckets + 1)))
        .agg(F.max("score"))
        .select(
            "grp",
            *[F.col(str(i)).alias(f"t{i}") for i in range(1, n_buckets + 1)],
        )
    )
    bucket = None
    for i in range(1, n_buckets):
        cond = F.col("score") <= F.col(f"t{i}")
        bucket = F.when(cond, i) if bucket is None else bucket.when(cond, i)
    bucket = (
        bucket.otherwise(n_buckets) if bucket is not None
        else F.lit(n_buckets)
    )
    # ALL interior boundaries t1..t(n-1) must exist, which needs at
    # least n_buckets−1 sampled rows: a group sampled 0 times has no
    # boundaries at all, and a group sampled fewer than n_buckets−1
    # times has NULL upper boundaries whose CASE arms silently never
    # match — every doc above t1 would skew into the tail bucket.  Both
    # cases surface as bucket NULL instead.
    missing = F.lit(False)
    for i in range(1, n_buckets):
        missing = missing | F.col(f"t{i}").isNull()
    return base.join(F.broadcast(bounds), on="grp", how="left").select(
        "id", "grp", "score",
        # NULL score first: `score <= t_i` evaluates NULL for it, so the
        # CASE would otherwise fall through every arm into the TAIL
        # bucket — while the exact branch put the same doc in the head.
        # Unscored docs surface as bucket NULL in both branches.
        F.when(F.col("score").isNull(), F.lit(None).cast("bigint"))
        .when(missing, F.lit(None).cast("bigint"))
        .otherwise(bucket.cast("bigint")).alias("bucket"),
    )


def curation_verdicts(
    docs: DataFrame,
    eval_set: DataFrame | None = None,
    quality_lang: str = "en",
    quality_min: float = 0.5,
    decontam_n: int | None = None,
    decontam_min_overlap: int | None = None,
    verify_threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document curation verdict — the operators working together
    the way a training-data job composes them (the chain behind the
    ``curate_corpus`` contract query and ``jobs/run_curation.py``):
    language-ID + quality score + Gopher repetition gate, eval-set
    decontamination, near-dup cluster assignment, and the final
    keep/drop decision.

    Returns one row per input doc: ``(doc_id, pred_lang, quality,
    cluster_id, is_canonical, repetitive, contaminated, kept)`` with
    ``kept = is_canonical ∧ quality ≥ quality_min ∧ ¬repetitive ∧
    ¬contaminated`` — the non-kept rows carry every gate's value, so a
    curation run is auditable by drop reason, not just by count.

    ``eval_set`` (``(eval_id, text)``) is optional: without one,
    ``contaminated`` is uniformly false and the decontamination join is
    skipped entirely (no empty-frame shuffle).  ``decontam_n`` /
    ``decontam_min_overlap`` default to :mod:`ocr_spark.decontam`'s
    library defaults when None.

    ``id_col`` must be non-null on every row: the composition joins are
    plain equi-joins on the id, so a NULL id would silently vanish from
    the audit (callers with nullable ids must fail or filter first —
    ``jobs/run_curation.py`` refuses them loudly).

    Scale shape: every gate is one pass over the corpus — the stats are
    narrow per-row expressions, repetition is one explode + aggregate,
    decontamination broadcasts the eval grams, and the cluster pass is
    the band-key-only MinHash+LSH join — so the composite inherits each
    operator's documented 100 TB posture; nothing here adds a shuffle
    beyond the per-gate joins on ``doc_id``.
    """
    from ocr_spark.decontam import decontaminate
    from ocr_spark.dedup import dedup_clusters
    from ocr_spark.textstats import langid, quality_score, repetition_stats

    base = docs.select(id_col, text_col)
    stats = base.select(
        id_col,
        langid(F.col(text_col)).alias("pred_lang"),
        quality_score(F.col(text_col), quality_lang).alias("quality"),
    )
    clusters = dedup_clusters(
        base, text_col=text_col, id_col=id_col,
        verify_threshold=verify_threshold,
    )
    # the helpers emit a literal 'doc_id' column regardless of id_col —
    # alias back so a non-default id_col resolves in the joins below
    rep = repetition_stats(base, text_col=text_col, id_col=id_col).select(
        F.col("doc_id").alias(id_col), "repetitive"
    )
    out = (
        stats.join(clusters, stats[id_col] == clusters.id)
        # drop clusters' hardcoded 'id' by COLUMN REFERENCE: with
        # id_col='id' (dedup_clusters' own output convention) the join
        # result holds two 'id' columns and every later on=id_col join
        # would raise AMBIGUOUS_REFERENCE
        .drop(clusters.id)
        .join(rep, on=id_col)
    )
    if eval_set is not None:
        kwargs = {}
        if decontam_n is not None:
            kwargs["n"] = decontam_n
        if decontam_min_overlap is not None:
            kwargs["min_overlap"] = decontam_min_overlap
        cont = decontaminate(
            base, eval_set, id_col=id_col, text_col=text_col, **kwargs
        ).select(F.col("doc_id").alias(id_col), "contaminated")
        out = out.join(cont, on=id_col)
    else:
        out = out.withColumn("contaminated", F.lit(False))
    return out.select(
        id_col,
        "pred_lang",
        "quality",
        "cluster_id",
        "is_canonical",
        "repetitive",
        "contaminated",
        (
            F.col("is_canonical")
            & (F.col("quality") >= quality_min)
            & ~F.col("repetitive")
            & ~F.col("contaminated")
        ).alias("kept"),
    )


def shard_key(id_col: Column, n_shards: int) -> Column:
    """The corpus's shard assignment — single-sourced so the packer
    (:func:`pack_sequences`), the physical exporter
    (:func:`write_training_shards`), and any telemetry all key on the
    SAME expression (hash of the stringified id mod ``n_shards``)."""
    return F.pmod(
        portable_hash(id_col.cast("string")), F.lit(n_shards)
    ).cast("int")


def shard_manifest(
    docs: DataFrame,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-shard accounting: ``(shard, n_docs, n_tokens, content_xor)``.

    ``content_xor`` is the bit-XOR of each member's portable hash of
    ``id || '\\x1f' || text`` — ORDER-INDEPENDENT (xor commutes) and
    overflow-free, so the digest is a pure function of the shard's
    membership + contents no matter how partitions deliver rows.  The
    same aggregation over the WRITTEN files must reproduce it
    (:func:`verify_training_shards`) — a torn/duplicated/lost row flips
    it with probability 1 − 2⁻⁶⁰.
    """
    return (
        docs.select(
            shard_key(F.col(id_col), n_shards).alias("shard"),
            token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
            portable_hash(
                F.concat_ws("\x1f", F.col(id_col).cast("string"),
                            F.coalesce(F.col(text_col), F.lit("")))
            ).alias("h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.bit_xor("h").alias("content_xor"),
        )
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Terminal export: write the corpus as ``n_shards`` self-contained
    parquet shards plus a verifiable manifest — the deterministic
    hand-off a training job consumes.

    Layout: ``{out_dir}/shards/shard=K/`` holds ONE file per shard
    (repartitioned on the shard key, rows sorted by id within it — a
    rerun over the same corpus is byte-stable modulo parquet metadata,
    and the manifest is exactly reproducible), and
    ``{out_dir}/manifest/`` holds the per-shard accounting of
    :func:`shard_manifest`.  ``errorifexists`` on both: an export is a
    publication, never silently rewritten — re-export to a fresh
    directory and swap.

    Scale shape: one hash repartition into ``n_shards`` (the shuffle a
    terminal sort-ordered export cannot avoid), in-partition sort, one
    file each; the manifest is one groupBy over the same key.  Size
    ``n_shards`` so one shard's rows fit an executor (at 100 TB that is
    thousands of shards, matching :func:`pack_sequences`' guidance).
    Returns the manifest DataFrame (read back from what was committed).
    """
    spark = docs.sparkSession
    keyed = docs.withColumn("shard", shard_key(F.col(id_col), n_shards))
    (
        keyed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", id_col)
        .write.mode("errorifexists")
        .partitionBy("shard")
        .parquet(f"{out_dir}/shards")
    )
    # manifest computed from the WRITTEN data, not the input plan: what
    # the manifest attests is what a reader will actually see.  The
    # modulus rides along explicitly — inferring it from the manifest's
    # row count breaks the moment any shard is EMPTY (sparse corpus,
    # large n_shards), and a verify under the wrong modulus would report
    # every shard as torn.
    written = spark.read.parquet(f"{out_dir}/shards").drop("shard")
    shard_manifest(written, n_shards, text_col, id_col).withColumn(
        "n_shards", F.lit(n_shards).cast("int")
    ).write.mode("errorifexists").parquet(f"{out_dir}/manifest")
    return spark.read.parquet(f"{out_dir}/manifest")


def verify_training_shards(spark, out_dir: str,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Integrity check a consumer runs before training: recompute the
    per-shard accounting from the shard files and anti-join it against
    the committed manifest BOTH ways.  Returns a DataFrame of
    discrepancies — empty means every shard's membership, token count,
    and content XOR match exactly; any torn, duplicated, lost, or
    bit-flipped row surfaces as a row here, naming its shard."""
    manifest = spark.read.parquet(f"{out_dir}/manifest")
    n_shards = manifest.select("n_shards").first()["n_shards"]
    recomputed = shard_manifest(
        spark.read.parquet(f"{out_dir}/shards").drop("shard"),
        n_shards, text_col, id_col,
    )
    cols = ["shard", "n_docs", "n_tokens", "content_xor"]
    a, b = manifest.select(cols), recomputed.select(cols)
    return (
        a.exceptAll(b).withColumn("side", F.lit("manifest_only"))
        .unionByName(
            b.exceptAll(a).withColumn("side", F.lit("recomputed_only"))
        )
    )
