"""End-to-end extraction pipeline over interleaved span documents.

Logical plan (one wide shuffle + one salted exchange; everything else narrow):

    SCAN     documents_spans(doc_id, spans)
    EXPLODE  spans → (doc_id, kind, text, media_ref, offset)
    SPLIT    kind≠'media' ∥ kind='media'                (two narrow branches;
             each union arm re-traverses the scan, so non-media spans —
             text, placeholders, quarantine — share ONE branch)
    TEXT     strip_boilerplate pandas UDF               (no shuffle)
    MEDIA    left join media_store on media_ref         (shuffle or broadcast;
             Catalyst/AQE picks — the store is huge in prod, tiny in tests)
             repartition(P, doc_id, salt)               (explicit skew salting)
             mapInPandas ocr_media_batch                (executor-local model)
    UNION    text path ∪ media path
    SPLICE   repartition(P, doc_id) → groupBy(doc_id)
             → array_sort(collect_list(struct(offset, …)))
    FIELDS   per-doc line array (derived from spliced media spans, no extra
             shuffle) → extract_fields pandas UDF
    OUT      (doc_id, spans_out, fields, errors)

Scale notes (the design targets ~10^12 docs / 100 TB):
- the splice shuffles once on doc_id, number-pinned like the media
  exchange (the groupBy reuses that partitioning); partial aggregation
  does not help collect_list, so ``spark.sql.shuffle.partitions`` sizing
  is what bounds partition memory and the field cascade's per-task CPU;
- media spans are repartitioned *separately* from text spans, salted with
  ``pmod(xxhash64(media_ref, offset), SALT_BUCKETS)`` so a 5,000-page
  media-heavy document spreads over ``SALT_BUCKETS`` partitions instead of
  hot-spotting one executor;
- the media-store join key (media_ref) is unique and uniform, AQE skew-join
  handles residual skew;
- filters/column pruning reach the parquet scans: the text path never reads
  ``content`` bytes, the media path never reads span text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import PipelineConfig
from ocr_spark.udfs import (
    make_extract_fields_udf,
    make_ocr_batch_fn,
    strip_boilerplate_udf,
    OCR_OUT_SCHEMA,
)

#: salt cardinality appended to the doc_id hash when repartitioning media
#: spans, so a single media-heavy document spreads over up to this many
#: shuffle partitions.  Hash placement of the salted keys is
#: collision-prone (measured 4-of-16 keys landing in one partition), so
#: it is sized ≥ 4× the per-doc parallelism actually needed; keep shuffle
#: partitions ≥ 4× it.
SALT_BUCKETS = 16


def explode_spans(
    spans_df: DataFrame, max_spans_per_doc: int | None = None
) -> DataFrame:
    """documents_spans → one row per span, order carried by ``offset``.

    A document with an empty (or null) spans array must still yield one
    all-null row — dropping it would lose the document from the output
    instead of producing ``(doc_id, spans_out=[], fields-of-nothing)``.
    The empty/null array is PADDED with the all-null marker span and
    exploded with plain ``explode``, not ``explode_outer``: outer
    generators fall out of whole-stage codegen, and the flagship would
    pay that interpreted-Generate cost on EVERY span to guard the rare
    empty doc (measured ~10% on the extract bench).  Plain explode stays
    in codegen; the optimizer's inferred ``size(...) > 0`` pre-filter —
    the trap that makes plain explode dangerous over EXPENSIVE generator
    expressions (see textstats.explode_non_null) — is harmless here
    because the padded expression is just size+when over a scanned
    column, and the padding makes the filter always-true (no row loss by
    construction).

    The monster-document ceiling is applied HERE, inside the one scan:
    a document whose span count exceeds ``max_spans_per_doc`` has its
    spans array replaced by the same single marker span before the
    explode, so its 100k spans are never materialized as rows and no
    OCR/text work is spent on it (the splice's collect_list builds one
    in-memory array per doc — the ceiling is what bounds it).  The
    marker is carried as a SEPARATE ``oversized`` column (the tripped
    span count), not a reserved kind string: a kind value is input
    domain, so any in-band sentinel could be spoofed by a genuine span
    that happens to carry it, silently shrinking that document's
    spans_out and misattributing its error.  Mark-and-route, not
    filter-and-union: a separate quarantine subtree would re-scan the
    whole input table for the (rare) oversized docs — a full second
    pass at production scale (measured +16% on the flagship bench when
    this was two filters over the scan)."""
    n = F.coalesce(F.size("spans"), F.lit(0))
    marker = F.array(
        F.struct(
            F.lit(None).cast("string").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(None).cast("int").alias("offset"),
        )
    )
    keep = n >= 1
    over_n = F.lit(None).cast("int")
    if max_spans_per_doc is not None:
        keep = keep & (n <= max_spans_per_doc)
        over_n = F.when(n > max_spans_per_doc, n.cast("int"))
    spans = F.when(keep, F.col("spans")).otherwise(marker)
    # `padded` marks the injected marker row OUT OF BAND (like
    # `oversized`): a GENUINE input span whose kind is NULL would
    # otherwise be indistinguishable from the placeholder and silently
    # vanish from spans_out with no error row — the exact spoofable-
    # sentinel hazard the docstring above rejects for kind strings.
    # With the flag, text_path quarantines real null-kind spans loudly
    # (``null_kind`` error) while the placeholder stays errorless.
    return spans_df.select(
        "doc_id",
        F.explode(spans).alias("s"),
        over_n.alias("oversized"),
        (~keep).alias("padded"),
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
        "oversized",
        "padded",
    )


def text_path(exploded: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Every NON-media span in one narrow branch: text spans get the
    boilerplate strip; unknown-kind, null-kind, and oversized-marker
    rows get their quarantine error rows (the empty-doc placeholder
    alone passes through errorless).

    One branch, not separate text and other filter-and-union subtrees:
    each union arm is its own traversal of the source, so a split would
    charge a THIRD full pass over the input table (and a third run of
    the corpus generator in the synthetic contract query) to route rows
    that are, by construction, rare.  A ``when`` ladder routes them in
    the text branch's own pass instead.  Measured against the split at
    sf0.1/local[32]: −24% when the source is expensive (the
    synthetic-generator contract query, 5.97 → 4.55 s warm-min — the
    shape that models a 100 TB scan) and noise-level (3.18 → 3.07 s
    min-of-5) over a pre-materialized parquet corpus where the OCR stage
    dominates.  The strip UDF runs
    over the merged rows, but non-text rows enter it as NULL (the
    ``when`` guard) and null-in → null-out is a no-op row for the Arrow
    batch."""
    rows = exploded.filter(F.col("kind").isNull() | (F.col("kind") != "media"))
    is_text = F.col("kind") == "text"  # null kind ⇒ false, like the filter
    text_in = F.when(is_text, F.col("text"))
    out_text = strip_boilerplate_udf(text_in) if cfg.strip_html else text_in
    error = F.when(
        F.col("oversized").isNotNull(),
        F.concat(F.lit("oversized_doc:"), F.col("oversized").cast("string")),
    ).when(
        F.col("kind").isNotNull() & ~is_text,
        F.concat(F.lit("unknown_kind:"), F.col("kind")),
    ).when(
        # a REAL input span with NULL kind (schema-legal, meaning-less):
        # quarantined like an unknown kind, not silently dropped — only
        # the injected empty/oversized placeholder (padded=true, see
        # explode_spans) is errorless by construction
        F.col("kind").isNull() & ~F.col("padded"),
        F.lit("null_kind"),
    )
    return rows.select(
        "doc_id",
        "kind",
        out_text.alias("text"),
        "media_ref",
        "offset",
        error.alias("error"),
    )


def _pinned_partitions(spark) -> int:
    """Width for the number-pinned exchanges (media and splice): the
    session's shuffle parallelism.  Vendor platforms may set
    ``spark.sql.shuffle.partitions`` to a non-numeric value (e.g. "auto"
    under auto-optimized shuffle — stock Spark rejects it at set time,
    forks accept it), and failing plan-build with ValueError there would
    break the whole pipeline; fall back to the cluster's default
    parallelism instead."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def media_path(
    exploded: DataFrame, media_df: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """kind='media' spans → recognized text spans via the OCR stage."""
    media = exploded.filter(F.col("kind") == "media").select(
        "doc_id", "media_ref", "offset"
    )
    media = media.join(
        media_df.select("media_ref", "content"), on="media_ref", how="left"
    )

    # Explicit skew salting: media-heavy docs spread over SALT_BUCKETS
    # partitions; sizing is independent of the text path.
    salt = F.pmod(F.xxhash64("media_ref", "offset"), F.lit(SALT_BUCKETS))
    # The exchange width is always NUMBER-pinned: an unnumbered column
    # repartition is fair game for AQE's byte-based coalescing, and bytes
    # are a poor proxy for inference cost — measured: AQE folded ~8,300
    # images (~2.5 MB of refs+payloads) into ONE task, serializing the
    # whole OCR stage (1.3 busy cores at local[32]; 8 MB advisory size
    # caps a byte-light media exchange at a handful of tasks no matter
    # how many executors exist).  At production scale the same mis-sizing
    # holds — an 8 MB partition of media refs can be hours of OCR — so
    # the CPU-heavy stage's width comes from the session's shuffle
    # parallelism, never from AQE's byte heuristic.
    media = media.repartition(
        _pinned_partitions(media.sparkSession), F.col("doc_id"), salt
    )

    ocr = media.mapInPandas(
        make_ocr_batch_fn(
            cfg.recognizer_backend, cfg.media_time_budget_s,
            cfg.fake_work_iters,
            cfg.preproc_backend, cfg.deskew, cfg.binarize,
            cfg.hard_kill,
        ),
        schema=OCR_OUT_SCHEMA,
    )
    return ocr.select(
        "doc_id",
        F.lit("media").alias("kind"),
        F.when(
            F.col("error").isNull(), F.array_join("lines", "\n")
        ).alias("text"),
        "media_ref",
        "offset",
        "error",
    )


def splice_documents(all_spans: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The one wide shuffle: reassemble each document's ordered span
    sequence and run the field-extraction cascade over its recognized lines.

    ``array_sort`` on struct(offset, …) orders by offset (offsets are unique
    within a doc by contract), restoring reading order regardless of task
    placement — this is what makes span order a *verified invariant* instead
    of an accident of partitioning.

    The exchange is number-pinned for the same reason as the media one
    (see :func:`media_path`): left to AQE, the byte-light span rows
    coalesce into ONE task (measured: a 1.4 MB exchange, 2,000 docs),
    which then runs the field-cascade UDF alone.  The groupBy reuses the
    pinned hash partitioning, so this adds no exchange.
    """
    spliced = all_spans.repartition(
        _pinned_partitions(all_spans.sparkSession), "doc_id"
    ).groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                # collect_list skips nulls: the empty-document placeholder
                # and the oversized-doc marker (both null-kind, from
                # explode_spans) contribute no span — the marker's error
                # rides the errors column instead.
                F.when(
                    F.col("kind").isNotNull(),
                    F.struct("offset", "kind", "text", "media_ref"),
                )
            )
        ).alias("_sorted"),
        F.collect_list(
            F.when(
                F.col("error").isNotNull(),
                F.struct("offset", "media_ref", "error"),
            )
        ).alias("errors"),
    )

    spans_out = F.transform(
        "_sorted",
        lambda s: F.struct(
            s.kind.alias("kind"),
            s.text.alias("text"),
            s.media_ref.alias("media_ref"),
            s.offset.alias("offset"),
        ),
    )
    docs = spliced.withColumn("spans_out", spans_out).drop("_sorted")

    # Per-doc recognized lines: media spans' text split back into lines, in
    # offset order (already sorted) — no second shuffle.
    doc_lines = F.flatten(
        F.transform(
            F.filter(
                "spans_out",
                lambda s: (s.kind == F.lit("media")) & s.text.isNotNull(),
            ),
            lambda s: F.split(s.text, "\n"),
        )
    )
    docs = docs.withColumn(
        "fields", make_extract_fields_udf(cfg.ref_year)(doc_lines)
    )
    return docs.withColumn("errors", F.sort_array("errors")).select(
        "doc_id", "spans_out", "fields", "errors"
    )


def run_extraction(
    spark: SparkSession,
    spans_df: DataFrame,
    media_df: DataFrame,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Full pipeline: returns (doc_id, spans_out, fields, errors).

    Documents over ``cfg.max_spans_per_doc`` are quarantined inside the
    explode (see :func:`explode_spans`): they come out with empty
    ``spans_out``, fields-of-no-lines (identical to a genuinely empty
    document), and one ``oversized_doc:<n>`` error row — the document
    fails, the batch commits (the reference's per-request fault
    isolation, main.py:1327-1336, at document scale)."""
    cfg = cfg or PipelineConfig()
    exploded = explode_spans(spans_df, cfg.max_spans_per_doc)
    spans = text_path(exploded, cfg).unionByName(
        media_path(exploded, media_df, cfg)
    )
    return splice_documents(spans, cfg)
