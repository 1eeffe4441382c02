"""Physical-plan regression tests: the optimizations the engine depends on
at 100 TB (pushdown, pruning, broadcast, bounded shuffles, top-k pushdown)
must be visible in the plans, not assumed."""

from __future__ import annotations

import os

import pytest

from ocr_spark.driver_contract import (
    q_ann_cosine_topk,
    q_dedup_exact,
    q_extract_pipeline,
    q_orders_by_segment,
)
from ocr_spark.similarity import hyperplanes, lsh_ann_pairs

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF), reason="driver testdata not present"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def test_small_dim_join_broadcasts(spark):
    plan = _plan(q_orders_by_segment(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(q_ann_cosine_topk(spark, SF))
    # query-side selection vec_id < 10 must reach the parquet scan
    assert "LessThan(vec_id,10)" in plan
    # top-k is pushed as a group-limit before the final sort
    assert "WindowGroupLimit" in plan


def test_column_pruning_reads_only_needed_columns(spark):
    plan = _plan(q_dedup_exact(spark, SF))
    # only doc_id + text are read; lang/source/n_chars are pruned
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "n_chars" not in plan


def test_pipeline_shuffle_count_is_bounded(spark):
    """The extraction pipeline's plan: exactly the designed exchanges —
    the salted media repartition, the splice groupBy, and the media-store
    join's two sides — nothing incidental."""
    plan = _plan(q_extract_pipeline(spark, SF))
    n_exchanges = plan.count("Exchange (")
    # hashpartitioning exchanges: media join (x2 sides or 1 + broadcast),
    # salted repartition, splice groupBy.  Anything above 5 means a
    # regression added an accidental shuffle.
    assert n_exchanges <= 5, f"unexpected exchange count {n_exchanges}"


def test_native_sections_compile_to_codegen(spark):
    """The non-UDF sections must land in whole-stage codegen subtrees.
    AQE hides them until execution, so plan with AQE off for this check."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = q_extract_pipeline(spark, SF)
        codegen = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("codegen")
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    n = int(codegen.split("Found ")[1].split(" WholeStageCodegen")[0])
    assert n >= 2, codegen.splitlines()[0]


def test_pipeline_media_salting_present(spark):
    plan = _plan(q_extract_pipeline(spark, SF))
    # the explicit salted repartition keys on doc_id + the xxhash salt
    assert "xxhash64" in plan


def test_pipeline_media_exchange_is_number_pinned(spark):
    """The salted media exchange must be REPARTITION_BY_NUM: an
    unnumbered column repartition is fair game for AQE's byte-based
    coalescing, and bytes are a poor proxy for inference cost — measured
    folding ~8,300 images (~2.5 MB) into ONE task, serializing the OCR
    stage (169 s → 11.5 s at local[32] once pinned)."""
    # formatted mode puts Exchange arguments in the details section:
    # "Arguments: hashpartitioning(doc_id, pmod(xxhash64(...), 16), N),
    #  REPARTITION_BY_NUM, ..."
    plan = _plan(q_extract_pipeline(spark, SF))
    salted = [l for l in plan.splitlines()
              if "hashpartitioning" in l and "xxhash64" in l]
    assert salted, "salted media exchange missing from plan"
    for line in salted:
        assert "REPARTITION_BY_NUM" in line, line


def test_pipeline_splice_exchange_is_number_pinned(spark):
    """The splice exchange must be REPARTITION_BY_NUM on doc_id, with
    the session's shuffle width, and the groupBy must reuse it rather
    than add an exchange of its own.  Left to AQE, the byte-light span
    rows coalesce into ONE task (measured: a 1.4 MB exchange for 2,000
    docs) that runs the field-cascade UDF alone."""
    import re

    plan = _plan(q_extract_pipeline(spark, SF))
    n = spark.conf.get("spark.sql.shuffle.partitions")
    on_doc_id = re.findall(r"hashpartitioning\(doc_id#\d+, (\d+)\), (\w+)",
                           plan)
    assert on_doc_id, "splice exchange missing from plan"
    assert on_doc_id == [(n, "REPARTITION_BY_NUM")] * len(on_doc_id), (
        on_doc_id
    )


def test_pipeline_scans_input_exactly_twice(spark, tmp_path):
    """Each union arm re-traverses the source, so the branch count IS
    the input-pass count.  The design floor is two — the non-media
    branch (text + quarantine via a when-ladder) and the media branch —
    and a regression that reintroduces a third filter-and-union subtree
    (e.g. splitting quarantine routing back out) silently adds a full
    pass over a 100 TB table."""
    from ocr_spark.fixtures import corpus_dataframes
    from ocr_spark.pipeline import run_extraction

    spans_df, media_df = corpus_dataframes(spark, seed=7, n_docs=20)
    spans_path = str(tmp_path / "spans")
    spans_df.write.parquet(spans_path)
    out = run_extraction(
        spark, spark.read.parquet(spans_path), media_df
    )
    import re

    plan = _plan(out)
    # each node renders twice in formatted mode (tree + details); count
    # the unique "(N) Scan parquet" detail headers
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 2, f"expected 2 input passes, plan has {n_scans}"


def test_simhash_pairs_plan_bounded_and_codegen(spark):
    """The 60-bit signature must be a hash-aggregate (codegen), not a
    tree of interpreted higher-order aggregates, and the whole pair
    pipeline stays within its designed exchanges (sig groupBy, block
    join sides or broadcast, distinct)."""
    from ocr_spark.driver_contract import q_dedup_simhash_pairs

    plan = _plan(q_dedup_simhash_pairs(spark, SF))
    assert "HashAggregate" in plan            # the wide vote aggregate
    # designed exchanges (sig groupBy, block join sides or broadcast,
    # distinct) + ONE deliberate input-spread repartition (the sf corpus
    # scans as a single partition — _simhash_pair_corpus widens it before
    # the per-row shingle/signature work)
    assert plan.count("Exchange (") <= 7, plan.count("Exchange (")
    # The feature-less exclusion must filter on the TOKEN COUNT, never
    # on the computed shingle-hash array: `size(feats) > 0` pushed the
    # whole shingle+md5 pipeline into the filter — measured 6x on the
    # sf0.1 bench (4.8 s -> 28-36 s).  Pin: no Filter condition carries
    # the md5 hash expression.
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Filter" in block.split(
                "\n")[0]:
            assert "md5" not in block, block


def test_ngram_cap_plan_bounded(spark):
    """bucket_cap adds one window pass; the operator must not pick up
    incidental shuffles beyond window + join sides."""
    from ocr_spark.driver_contract import q_dedup_ngram_jaccard

    plan = _plan(q_dedup_ngram_jaccard(spark, SF))
    assert "Window" in plan                   # the sub-bucket row_number
    assert plan.count("Exchange (") <= 6, plan.count("Exchange (")


def test_gram_explode_has_no_inferred_prefilter_at_scan(spark):
    """The optimizer infers a `size(grams) > 0` pre-filter for non-outer
    generators and pushes it through the exchange to the scan, where the
    whole interpreted gram expression re-evaluates per doc on the scan's
    single-row-group partitioning (measured 3.4 s vs 0.6 s for the gram
    stage at sf0.1).  dup_passages must keep the outer-explode form that
    gets no inferred filter."""
    from ocr_spark.driver_contract import q_dup_passages

    plan = _plan(q_dup_passages(spark, SF))
    # the gram expression (transform over a token slice) must appear in
    # the plan exactly where it's computed — never inside a scan-level
    # DataFilter, which is where the inferred pre-filter lands
    for line in plan.splitlines():
        if "DataFilters" in line or "PushedFilters" in line:
            assert "transform" not in line, line
    assert "PosExplode" in plan or "posexplode" in plan


def test_embed_hash_codegen_compiles(spark):
    """embed_hash's generated code must stay under the JVM 64 KB method
    limit IN SITU — the dims-wide normalize tree lands inside whatever
    codegen method consumes it (measured: the aggregate's output method;
    before the join-back removal, a BroadcastHashJoin doConsume), where
    Janino fails and the whole stage silently drops to interpreted eval.
    A tiny frame missed the fusion, so this drives the CONTRACT-SCALE
    query (agg → normalize → posexplode in one stage) plus the semantic
    edge cases, all with fallback disabled so a compile failure raises
    instead of hiding."""
    from ocr_spark.driver_contract import q_embed_hash
    from ocr_spark.similarity import embed_hash

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta"), (3, None)],
        "doc_id bigint, text string",
    )
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = {r.id: r.vec for r in embed_hash(docs).collect()}
        n = q_embed_hash(spark, SF).count()      # the fused contract plan
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert n > 0
    assert set(rows) == {1, 2, 3}
    assert rows[3] == [0.0] * 32          # token-less → zero vector
    import math
    assert math.isclose(sum(v * v for v in rows[1]), 1.0, rel_tol=1e-9)


def test_bloom_probe_plan_broadcast_no_cartesian(spark):
    """The bloom probe's bitmap join must be a broadcast hash join on
    word_idx (never a cartesian / sort-merge), and the whole probe runs
    in two exchanges: the build's word groupBy and the probe's
    re-aggregation by key."""
    from pyspark.sql import functions as F

    from ocr_spark.membership import bloom_build, bloom_probe

    keys = spark.range(100).select(F.col("id").alias("g"))
    bloom = bloom_build(keys, "g", 8192, 4)
    plan = _plan(bloom_probe(keys, bloom, "g", 8192, 4))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_bm25_query_side_broadcasts(spark):
    """bm25_search: the query-gram join into the term-count table is a
    broadcast (the corpus must never shuffle against the query set), and
    no join in the plan degenerates to a cartesian."""
    from pyspark.sql import functions as F

    from ocr_spark.textstats import bm25_search

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 50).cast("string"),
                 F.lit(" common filler tokens here")).alias("text"),
    )
    queries = spark.range(3).select(
        F.col("id").alias("query_id"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(bm25_search(docs, queries, k=5))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # top-k per query is group-limited before the final window sort
    assert "WindowGroupLimit" in plan


def test_rrf_fuse_plan_single_aggregation(spark):
    """rrf_fuse over N lists: one union, one aggregation exchange keyed
    by (query, doc), one window exchange keyed by query — no joins."""
    from pyspark.sql import functions as F

    from ocr_spark.similarity import rrf_fuse

    mk = lambda seed: spark.range(20).select(
        (F.col("id") % 3).alias("query_id"),
        ((F.col("id") * seed) % 17).alias("doc_id"),
        (F.col("id") % 5 + 1).alias("rank"),
    )
    plan = _plan(rrf_fuse([mk(3), mk(7)], k=5))
    assert "Join" not in plan and "CartesianProduct" not in plan
    # formatted explain prints each node twice (tree summary + detail)
    assert plan.count(") Union") == 1
    # the fused sum combines map-side before its exchange; exactly two
    # exchanges total — the (query, doc) aggregation and the per-query
    # top-k window repartition — nothing incidental
    assert "partial_sum(ppb" in plan
    assert plan.count("Exchange (") == 2


def test_shingle_tokenize_not_inlined_per_gram(spark):
    """Regression pin for the O(T²) shingle trap: the gram lambda must
    read a LET-BOUND token array (dedup.let_bound), not re-evaluate the
    tokenize expression per element.  Pre-fix, the optimized plan
    inlined `split(trim(...))` into every element_at inside the
    transform lambda — ~21 occurrences for the 3-column ngram base
    projection (and per-ELEMENT evaluation at runtime: a bare 5000-doc
    shingle projection measured 9-11 s at sf0.1, 1.0 s fixed).
    Post-fix the tokenize appears once per let-binding site (3)."""
    from pyspark.sql import functions as F

    from ocr_spark.dedup import (
        DEFAULT_SHINGLE,
        min_shingle_bucket,
        shingle_hashes,
    )
    from ocr_spark.textstats import tokens

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id bigint, text string"
    )
    sh = shingle_hashes(tokens(F.col("text")), DEFAULT_SHINGLE)
    base = docs.select(
        F.col("doc_id").alias("id"),
        min_shingle_bucket(sh).alias("bucket"),
        sh.alias("sh"),
        F.size(sh).alias("n_sh"),
    )
    plan = base._jdf.queryExecution().optimizedPlan().toString()
    n = plan.count("split(trim")
    assert 1 <= n <= 6, f"tokenize inlined {n}x — per-gram re-evaluation?"


@pytest.mark.parametrize(
    "kw, n_aggregates",
    [({"n_tables": 3, "dims": 16}, 1),
     ({"planes": hyperplanes(4, dims=16)}, 0)],
    ids=["n_tables3", "planes"],
)
def test_lsh_ann_pairs_one_join(spark, kw, n_aggregates):
    """lsh_ann_pairs is ONE (tbl, bucket) self-join whatever the table
    count: the vector payload rides the join, so no pair joins its
    vectors back.  Only more than one table adds an aggregate — the
    distinct over pairs that collide in several tables."""
    import re

    df = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5 - 2) for d in range(16)])
         for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    try:
        out = lsh_ann_pairs(df, min_cosine=0.2, **kw)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.catalog.clearCache()
    node = r"^[\s:|+-]*{} "
    assert len(re.findall(node.format("Join"), plan, re.M)) == 1, plan
    assert len(re.findall(node.format("Aggregate"), plan, re.M)) == (
        n_aggregates
    ), plan


def test_store_probes_plan_as_hash_existence_joins(
    spark, tmp_path, monkeypatch
):
    """Incremental exact dedup probes the committed store with hash
    existence joins, never a BroadcastNestedLoopJoin (batch × store,
    which is how a null-aware ``NOT IN`` plans): the operator's one
    ``digest IN (store)`` against a parquet store, and in
    ``_dedup_commit``'s verdict that probe plus the fresh-ids
    ``id IN (store)``."""
    import re

    from pyspark.sql import functions as F

    from ocr_spark.dedup import exact_digests, exact_duplicates_incremental
    from ocr_spark.ingest import ingest_batch
    from ocr_spark.tableio import ParquetManifestIO

    def existence_joins(plan: str) -> list[str]:
        assert "BroadcastNestedLoopJoin" not in plan
        return re.findall(r"(\w+) ExistenceJoin\(", plan)

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), (F.col("id") % 30).cast("string"))
        .alias("text"),
    )
    io = ParquetManifestIO(str(tmp_path / "store"))
    io.append(exact_digests(docs.filter("doc_id < 20")), "digests")
    delta = docs.filter("doc_id >= 20")
    plan = _plan(exact_duplicates_incremental(
        exact_digests(delta), io.read(spark, "digests")
    ))
    assert existence_joins(plan) == ["BroadcastHashJoin"]

    verdicts = []
    frame = type(delta)     # the session's concrete DataFrame class
    persist = frame.persist

    def spy(self, *args, **kwargs):
        if "stale" in self.columns:
            verdicts.append(_plan(self))
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame, "persist", spy)
    stats = ingest_batch(spark, delta, 1, io, str(tmp_path / "out"))
    assert stats["docs_dropped"] == 10      # t20..t29 are new, t0..t9 not
    assert len(verdicts) == 1
    assert existence_joins(verdicts[0]) == ["BroadcastHashJoin"] * 2
