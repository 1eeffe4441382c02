"""Streaming ingest with cross-batch exact dedup through the store seam.

The production composition the batch pieces were built for: a
Structured-Streaming source of ``(doc_id, text)`` document rows is
drained micro-batch by micro-batch, each batch is deduplicated against
the COMMITTED digest store (first-run-wins — a document whose normalized
text digest is already committed is dropped; within the batch the
minimum id wins, via :func:`ocr_spark.dedup.exact_duplicates_incremental`),
the surviving canonical documents land in a per-batch output partition,
and the batch's digests are appended to the store as ONE tagged tableio
snapshot.  The reference service (main.py:1284-1346) processes each
uploaded document exactly once per request; this is that semantic as a
continuously-running, restartable pipeline.

Exactly-once across crashes and foreachBatch replays, with NO
distributed transaction, comes from write ordering plus one idempotence
primitive:

1. **Replay short-circuit** — each batch commits under a deterministic
   tag ``{stream_id}/b{batch_id}``.  If the tag is already in the
   store's manifest, the batch committed in a previous life: skip
   everything.  (Recomputing would be WRONG, not just wasted: the store
   now contains this batch's digests, so every doc would classify
   dup-of-committed and an overwrite would erase the batch's output.)
2. **Optional Bloom registry first** — when a registry table is
   configured, the batch's digest bitmap is appended BEFORE the main
   store commit.  A crash between the two leaves extra bits whose main
   commit never happened: future probes see false POSITIVES (extra
   verify work, resolved by the exact join), never false negatives
   (which would admit duplicates).  The safe over-approximation is why
   the registry is written first.  The registry ⊇ store invariant is
   ENFORCED at both edges: enabling the registry on a
   pre-existing store first backfills every committed digest (one pass,
   once per store lifetime), and a batch run with the registry disabled
   against a store that has one is REFUSED — either hole would let a
   probe prune a committed digest and admit its duplicate.
3. **Docs partition next** — per-batch dynamic partition overwrite, so
   a replayed write of the same batch id replaces rather than
   duplicates.
4. **Tagged store append LAST** — the commit point.  The append is
   refused under the writer lock if the tag already exists
   (:class:`ocr_spark.tableio.DuplicateTagError`), so even two racing
   replays of one batch commit exactly once.

A crash at any point therefore converges on retry: before (4) the store
is unchanged, so the recomputed kept-set is identical and the docs
overwrite is idempotent; after (4) the tag short-circuits.  Both exact
modes — ``(doc_id, text)`` rows and extracted span sequences — run this
order through the one function :func:`_dedup_commit`.

The fresh-ids guard (a batch must not re-submit committed doc ids under
a new tag) runs in the action that computes the verdict: after the
registry prune, before the registry backfill and append, the docs write
and the store append.  Its place after the prune is safe because the
prune only reads the registry and narrows the verdict's probe, never the
guard's, which reads the full store.  A refused batch therefore leaves
the store and the registry as it found them — a batch that would have
enabled the registry on a store without one creates none.

Scale shape: per batch, ONE action reads the batch once, in one arm,
and materializes the persisted verdict — the batch's only cache, so
:func:`extract_ingest_batch` lands its extraction there and persists
nothing itself — and aggregates its counts.  It runs a window min(id)
over the BATCH's digests keyed ``(digest, id if digest is NULL)`` (one
shuffle; each content-less row is its own group, so they never pile
into one hot NULL group), a ``digest IN (store probe)`` that stays
un-negated through the optimizer and so plans as a hash existence join
(a ``NOT IN`` would be a batch × store BroadcastNestedLoopJoin; the
probe is Bloom-pruned to the might-contain survivors when the registry
is on — at a 10^12-doc store the registry bitmap is what keeps the
probe's build side from being the whole store), and the fresh-ids
check, an ``id IN`` hash existence join against the full store; the
plan shape is pinned in ``tests/test_plan_shapes.py``.  With the
registry on, the survivor count runs first, over the cached batch
that the verdict then reads.  The docs write (round-robin
rebalanced, so AQE sizes its files) and the narrow store append read
that one cache back; nothing is counted after the append.  The
committed corpus is never re-grouped.  Store growth is one snapshot per
batch — fold with ``jobs/compact_store.py`` (tags survive compaction).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.dedup import (
    exact_digest, exact_duplicates_incremental,
    incremental_signature_delta, raise_on_id_overlap,
)
from ocr_spark.tableio import DuplicateTagError, ParquetManifestIO
from ocr_spark.textstats import portable_hash

DOCS_SCHEMA_DDL = "doc_id bigint, text string"

#: store table holding the committed ``(id, digest)`` rows
STORE_TABLE = "digests"


def ingest_batch(
    spark: SparkSession,
    docs: DataFrame,
    batch_id: int,
    io: ParquetManifestIO,
    out_dir: str,
    *,
    stream_id: str = "ingest",
    store_table: str = STORE_TABLE,
    registry_m_bits: int | None = None,
    enforce_disjoint_ids: bool = True,
) -> dict:
    """Process ONE micro-batch of ``(doc_id, text)`` rows — the
    foreachBatch body of :func:`run_stream_dedup_ingest`, callable
    directly for batch-mode ingest.  Returns a stats dict
    (``replayed`` True when the tag short-circuit fired; ``docs_in``
    counts the rows with non-NULL text).

    ``registry_m_bits`` enables the Bloom-registry prune: size it at
    ~12 bits per EXPECTED TOTAL corpus doc (the membership module's
    m/n ≈ 12 → fpp ≈ 0.6% guidance) — the geometry is fixed at table
    creation and cannot be grown later.
    """
    t0 = time.monotonic()
    tag = _batch_tag(stream_id, batch_id)
    done = _dedup_commit(
        spark, docs, F.col("text"), batch_id, io, out_dir, tag,
        store_table, registry_m_bits, enforce_disjoint_ids,
    )
    if done is None:
        return _replayed(batch_id, tag)
    snap, _, n_in, n_kept, n_pruned = done
    return {
        "batch_id": batch_id,
        "tag": tag,
        "replayed": False,
        "snapshot": snap,
        "docs_in": n_in,
        "docs_kept": n_kept,
        "docs_dropped": n_in - n_kept,
        "registry_survivors": n_pruned,
        "wall_s": round(time.monotonic() - t0, 3),
    }


def _batch_tag(stream_id: str, batch_id: int) -> str:
    return f"{stream_id}/b{batch_id:06d}"


def _replayed(batch_id: int, tag: str) -> dict:
    return {"batch_id": batch_id, "tag": tag, "replayed": True}


def _write_batch_partition(df: DataFrame, batch_id: int, out_dir: str):
    """``df`` into ``out_dir``'s ``batch_id`` partition by dynamic
    overwrite: a replayed foreachBatch rewrites its partition rather
    than duplicating it."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def _dedup_commit(
    spark: SparkSession,
    docs: DataFrame,
    content: Column,
    batch_id: int,
    io: ParquetManifestIO,
    out_dir: str,
    tag: str,
    store_table: str,
    registry_m_bits: int | None,
    enforce_disjoint_ids: bool,
):
    """The exact-dedup commit of one batch, in the order the module
    docstring proves exactly-once: ``docs`` (keyed by ``doc_id``) are
    deduplicated on the digest of ``content``, a Column over ``docs``,
    against the committed ``store_table``; the kept rows land in
    ``out_dir``'s batch partition and their digests commit under
    ``tag``.  Rows whose ``content`` is NULL get a NULL digest, which
    :func:`ocr_spark.dedup.exact_duplicates_incremental` keeps as a
    group of its own (never one bogus NULL-digest group) — they ride
    through unscreened in the same pass rather than vanish: content-less
    rows can't be duplicates, and dropping data silently is never this
    pipeline's job.

    Returns None when the batch already committed (its tag is in the
    store), else ``(snapshot, rows in, digested rows, kept rows,
    registry survivors)``; the survivor count is None without a
    registry prune.
    """
    if tag in io.tags(store_table):
        return None
    registry = _registry_table(store_table)
    if registry_m_bits is None and io.exists(registry):
        # toggle-off guard: this store HAS a registry, and a batch
        # committed without appending to it would punch false-NEGATIVE
        # holes (probes would prune committed digests this batch adds)
        # — the one failure class the registry design rules out.  The
        # prune is optional; keeping the registry complete is not.
        raise ValueError(
            f"store table {store_table!r} has a Bloom registry "
            f"({registry!r}) but this run disabled it "
            "(registry_m_bits=None); committing a batch without the "
            "registry append would admit future duplicates — pass the "
            "registry geometry, or drop the registry table explicitly"
        )

    # the persisted verdict is the commit's one batch-sized cache (a
    # registry prune adds the digested batch and its survivors): ONE
    # action (the aggregate below) reads ``docs`` once, in one arm, and
    # materializes it; the registry append, the docs write and the store
    # append read it back.  The try opens HERE: the fresh-ids fail-fast
    # and the registry reads are designed failure paths, and a driver
    # that catches per-batch errors and continues must not accrete one
    # leaked cache per failed batch.
    new_digests = docs.select(
        F.col("doc_id").alias("id"),
        F.when(content.isNotNull(), exact_digest(content)).alias("digest"),
        F.struct(*docs.columns).alias("_doc"),
    )
    caches: list[DataFrame] = []
    n_pruned = None
    try:
        committed = probe = (
            io.read(spark, store_table) if io.exists(store_table) else None
        )
        # registry enabled on a PRE-EXISTING store: the backfill waits
        # for the fresh-ids guard, so a refused batch leaves the store
        # registry-less
        prune = committed is not None and registry_m_bits is not None
        backfill = prune and not io.exists(registry)
        if prune and not backfill:
            # the survivor count is an action of its own: the cached
            # batch serves it and the verdict
            new_digests = new_digests.persist()
            caches.append(new_digests)
            survivors = _registry_survivors(
                spark, io, new_digests.filter(F.col("digest").isNotNull()),
                store_table, registry_m_bits,
            ).persist()     # consumed by the count and the semi-join
            caches.append(survivors)
            n_pruned = survivors.count()
            probe = committed.join(
                survivors,
                on=portable_hash(F.col("digest")) == survivors["g"],
                how="left_semi",
            )

        # content-less rows ride through unscreened: kept, no digest
        verdict = exact_duplicates_incremental(new_digests, probe).select(
            "id", "digest", "kept", "_doc"
        )
        stale = F.lit(False)
        if committed is not None and enforce_disjoint_ids:
            # same precondition + fail-fast as jobs/run_dedup_incremental:
            # a batch re-submitting committed ids under a NEW tag (e.g.
            # span files re-dropped under new names — the checkpoint
            # skips FILES, not content) would double-commit digests and
            # corrupt first-run-wins semantics.  Checked against the
            # FULL store (an IN-subquery existence join: it flags, never
            # multiplies rows), not the registry-pruned probe.
            stale = F.col("id").isin(committed.select("id"))
        verdict = verdict.withColumn("stale", stale).persist()
        caches.append(verdict)
        counts = verdict.agg(
            F.count(F.lit(1)).alias("n_in"),
            F.count("digest").alias("n_digested"),
            F.count_if(F.col("kept") & F.col("digest").isNotNull())
            .alias("n_kept"),
            F.count_if("stale").alias("n_stale"),
            F.min(F.when(F.col("stale"), F.col("id"))).alias("stale_lo"),
            F.max(F.when(F.col("stale"), F.col("id"))).alias("stale_hi"),
        ).first()
        raise_on_id_overlap(
            counts.n_stale, counts.stale_lo, counts.stale_hi,
            f"batch {batch_id}: doc ids",
            "each batch must carry fresh ids — a replay of an "
            "already-committed batch is detected by TAG, not by "
            "resubmitting ids under a new tag",
        )
        kept = verdict.filter(F.col("kept"))

        if registry_m_bits is not None:
            digested = verdict.filter(F.col("digest").isNotNull())
            if backfill:
                # backfill every committed digest first, or later probes
                # would report false negatives for them and admit
                # duplicates (registry ⊇ store is the invariant the 'no
                # false negatives' argument rests on).  One pass over
                # the store, once per store lifetime; a crash after this
                # append just leaves a registry that over-contains
                # committed — the safe side.
                _registry_append(io, committed, store_table, registry_m_bits)
                n_pruned = _registry_survivors(
                    spark, io, digested, store_table, registry_m_bits
                ).count()
            # registry BEFORE docs/store (module docstring, ordering
            # rule 2: crash between the appends must over-contain, so
            # future probes get false positives, never false negatives)
            _registry_append(io, digested, store_table, registry_m_bits)

        # round-robin rebalance: AQE sizes the files by the session's
        # advisory partition size, not one small file per verdict
        # partition
        _write_batch_partition(
            kept.select("_doc.*").hint("rebalance"), batch_id, out_dir
        )

        # commit point: kept rows only (keeps the store digest-unique by
        # construction)
        try:
            snap = io.append(
                kept.filter(F.col("digest").isNotNull())
                .select("id", "digest"),
                store_table, tag=tag,
            )
        except DuplicateTagError:
            # a racing replay won the lock between our tags() check and
            # the append; its docs overwrite carried the same content
            return None
        return snap, counts.n_in, counts.n_digested, counts.n_kept, n_pruned
    finally:
        for cache in caches:
            cache.unpersist()  # one set per BATCH — a continuous
            # stream would otherwise accrete them forever


def _registry_table(store_table: str) -> str:
    return f"{store_table}_bloom"


def _registry_key(df: DataFrame) -> DataFrame:
    """Bloom keys are the portable 60-bit hash of the digest string —
    the registry's unit is the digest, matching the store's join key."""
    return df.select(portable_hash(F.col("digest")).alias("g"))


def _registry_append(
    io, new_digests: DataFrame, store_table: str, m_bits: int
) -> None:
    from ocr_spark.membership import DEFAULT_K, bloom_store_append

    m, k = m_bits, DEFAULT_K
    bloom_store_append(
        io, _registry_key(new_digests), "g",
        _registry_table(store_table), m, k,
    )


def _registry_survivors(
    spark, io, digests: DataFrame, store_table: str, m_bits: int
) -> DataFrame:
    """The distinct Bloom keys ``g`` of ``digests`` that the registry
    says MIGHT be committed.  No false negatives (every committed
    digest's bits are set — the registry commits before the store, so
    it can only over-contain); false positives just ride through to the
    exact join.  A semi-join of the store against them is the pruned
    probe, so the exact join's build input is |survivors|-bounded, not
    |store|."""
    from ocr_spark.membership import (
        DEFAULT_K, bloom_probe, bloom_store_read,
    )

    m, k = m_bits, DEFAULT_K
    bitmap = bloom_store_read(io, spark, _registry_table(store_table), m, k)
    probed = bloom_probe(
        _registry_key(digests).distinct(), bitmap, "g", m, k
    )
    return probed.filter(F.col("might_contain")).select("g")


def _start_ingest_stream(
    spark: SparkSession,
    schema_ddl: str,
    input_dir: str,
    checkpoint_dir: str,
    process_batch,
    available_now: bool,
    max_files_per_trigger: int,
):
    """Shared readStream → foreachBatch → checkpoint scaffolding of the
    three ingest entry points and
    :func:`ocr_spark.streaming.run_streaming_extraction` — one
    definition so a stream option or trigger change cannot be applied
    to some of them and drift."""
    writer = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    store_root: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    stream_id: str = "ingest",
    registry_m_bits: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
    collect_stats: list | None = None,
):
    """Stream ``(doc_id, text)`` parquet drops from ``input_dir``
    through :func:`ingest_batch`; returns the StreamingQuery.

    ``available_now=True`` drains everything present and stops (the
    scheduled-incremental mode); ``False`` runs continuously.  Restart
    with the same ``checkpoint_dir`` to resume — already-processed files
    are skipped by the checkpoint, and a replayed in-flight batch is
    skipped by its store tag.  ``collect_stats`` (a list) receives each
    batch's stats dict — test/driver telemetry only.
    """
    io = ParquetManifestIO(store_root)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats = ingest_batch(
            spark, batch_df, batch_id, io, out_dir,
            stream_id=stream_id,
            registry_m_bits=registry_m_bits,
        )
        if collect_stats is not None:
            collect_stats.append(stats)

    return _start_ingest_stream(
        spark, DOCS_SCHEMA_DDL, input_dir, checkpoint_dir,
        process_batch, available_now, max_files_per_trigger,
    )


# --------------------------------------------------------------- near-dup

SIGNATURES_TABLE = "signatures"


def neardup_ingest_batch(
    spark: SparkSession,
    docs: DataFrame,
    batch_id: int,
    io: ParquetManifestIO,
    out_dir: str,
    *,
    stream_id: str = "neardup",
    threshold: float = 0.3,
) -> dict:
    """One micro-batch through the FULL incremental dedup family (exact
    + MinHash near-dup + cluster maintenance) against the committed
    signature store — the streaming twin of
    ``jobs/run_dedup_incremental.py``, committing through the same
    :func:`_signature_commit` so batch and streaming deployments cannot
    drift.

    Outputs per batch (both ``batch_id``-partitioned dynamic overwrite,
    so replays rewrite rather than duplicate):

    * ``{out_dir}/docs`` — exact-kept docs with their CURRENT cluster
      label (NULL-text rows ride through with a NULL label, as in
      :func:`ingest_batch`);
    * ``{out_dir}/pairs`` — verified near-dup pairs touching this batch.

    Commit point: ONE tagged append of the batch's signature rows
    (docs + merge records).  Same crash-window argument as
    :func:`ingest_batch`: before the tagged append the store is
    unchanged, so a replay recomputes the identical delta and the
    overwrites are idempotent; after it, the tag short-circuits.
    """
    tag = _batch_tag(stream_id, batch_id)
    t0 = time.monotonic()

    def write_outputs(delta: dict[str, DataFrame]) -> None:
        labeled = docs.filter(F.col("text").isNull()).withColumn(
            "cluster_id", F.lit(None).cast("bigint")
        ).unionByName(
            docs.join(
                delta["clusters"].filter("role = 'delta'").select(
                    F.col("id").alias("doc_id"), "cluster_id"
                ),
                on="doc_id",
            )
        )
        _write_batch_partition(labeled, batch_id, f"{out_dir}/docs")
        _write_batch_partition(delta["pairs"], batch_id, f"{out_dir}/pairs")

    done = _signature_commit(spark, docs, io, tag, threshold, write_outputs)
    if done is None:
        return _replayed(batch_id, tag)
    return {
        "batch_id": batch_id,
        "tag": tag,
        "replayed": False,
        "snapshot": done["store_snapshot"],
        "docs_in": done["n_new"],
        "docs_kept": done["n_kept"],
        "dup_of_committed": done["n_dup_of_committed"],
        "near_pairs": done["n_near_pairs"],
        "merges": done["n_merges"],
        "wall_s": round(time.monotonic() - t0, 3),
    }


def _signature_commit(
    spark: SparkSession,
    docs: DataFrame,
    io: ParquetManifestIO,
    tag: str | None,
    threshold: float,
    write_outputs,
) -> dict | None:
    """Commit one ``(doc_id, text)`` delta to the signature store — the
    one body of :func:`neardup_ingest_batch` and
    ``jobs/run_dedup_incremental.py``.  ``write_outputs(delta)`` writes
    the caller's own outputs from the persisted
    :func:`ocr_spark.dedup.incremental_signature_delta` frames before
    the store append, the commit point.

    Returns None when ``tag`` already committed — found up front, or
    raised by the append's lock-held check when a racing run committed
    it first — else the counts and the store snapshot.  Raises
    ``ValueError`` on a store in the removed two-table layout (treating
    it as empty would re-keep every committed duplicate and start a
    fresh history beside the stale one) and on delta ids that overlap
    the store's.
    """
    if tag is not None and tag in io.tags(SIGNATURES_TABLE):
        return None
    has_store = io.exists(SIGNATURES_TABLE)
    legacy = [] if has_store else [
        t for t in ("digests", "sketches") if io.exists(t)
    ]
    if legacy:
        raise ValueError(
            f"store {io.root!r} uses the removed two-table layout "
            f"({', '.join(legacy)}); migrate it into one 'signatures' "
            "table (id, digest, sh, sig, cluster_id, role='doc') "
            "before running"
        )
    committed = io.read(spark, SIGNATURES_TABLE) if has_store else None
    delta = incremental_signature_delta(docs, committed, threshold)
    try:
        write_outputs(delta)
        try:
            snap = io.append(delta["store_rows"], SIGNATURES_TABLE, tag=tag)
        except DuplicateTagError:
            # a racing run committed the tag between our tags() check
            # and the append; its outputs carried the same content
            return None
        counts = delta["exact"].agg(
            F.count(F.lit(1)).alias("n_new"),
            F.count_if("dup_of_committed").alias("n_dup_of_committed"),
            F.count_if("kept").alias("n_kept"),
        ).first()
        return {
            **counts.asDict(),
            "n_near_pairs": delta["pairs"].count(),  # from cache
            "n_merges": delta["clusters"].filter("role = 'merge'").count(),
            "store_snapshot": snap,
        }
    finally:
        for k in ("exact", "sketches", "pairs", "clusters"):
            delta[k].unpersist()


def run_stream_neardup_ingest(
    spark: SparkSession,
    input_dir: str,
    store_root: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    stream_id: str = "neardup",
    threshold: float = 0.3,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
    collect_stats: list | None = None,
):
    """Stream ``(doc_id, text)`` parquet drops through
    :func:`neardup_ingest_batch` — continuous ingestion with cross-batch
    exact AND near-duplicate maintenance.  Same checkpoint/tag resume
    semantics as :func:`run_stream_dedup_ingest`."""
    io = ParquetManifestIO(store_root)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats = neardup_ingest_batch(
            spark, batch_df, batch_id, io, out_dir,
            stream_id=stream_id, threshold=threshold,
        )
        if collect_stats is not None:
            collect_stats.append(stats)

    return _start_ingest_stream(
        spark, DOCS_SCHEMA_DDL, input_dir, checkpoint_dir,
        process_batch, available_now, max_files_per_trigger,
    )


# ------------------------------------------------- extraction × dedup store

EXTRACT_STORE_TABLE = "doc_digests"

#: record separator between serialized spans; unit separator within one
_SPAN_RS, _SPAN_US = "\x1e", "\x1f"


def _framed(field: Column) -> Column:
    """``<len>:<field>`` — explicit-length framing.  A parser reads the
    decimal length, takes exactly that many chars, and expects the next
    delimiter; field CONTENT can therefore never shift the framing, so
    the concatenated encoding is injective over field sequences (the
    bare separator scheme it replaced collided when extracted text
    itself contained \\x1e/\\x1f — OCR output is not sanitized for
    control characters, and a colliding pair would silently drop a
    NON-duplicate document)."""
    return F.concat(F.length(field).cast("string"), F.lit(":"), field)


def serialized_spans(spans_out: Column) -> Column:
    """Canonical serialization of an extracted span sequence — the digest
    input for document-level dedup: every field of every span, in offset
    order (``spans_out`` is emitted ordered), length-prefix-framed
    (:func:`_framed`) and delimited, so DISTINCT sequences cannot
    collide regardless of field content.  NULL fields encode as ``''``
    (deliberate: a NULL and an empty extracted text are the same
    no-content outcome).  NULL for an EMPTY sequence:
    quarantined/empty documents carry no content to deduplicate on and
    must not collapse into one bogus ''-digest group (they ride through
    unscreened, like NULL-text rows in :func:`ingest_batch`).

    Framing v2: digests differ from the unframed v1 encoding — a store
    written by v1 must be rebuilt before running under v2, or v1-era
    content would re-keep once (content identity only holds within one
    framing version).
    """
    ser = F.array_join(
        F.transform(
            spans_out,
            lambda s: F.concat_ws(
                _SPAN_US,
                _framed(F.coalesce(s["kind"], F.lit(""))),
                _framed(F.coalesce(s["text"], F.lit(""))),
                _framed(F.coalesce(s["media_ref"], F.lit(""))),
                _framed(s["offset"].cast("string")),
            ),
        ),
        _SPAN_RS,
    )
    return F.when(F.size(spans_out) > 0, ser)


def extract_ingest_batch(
    spark: SparkSession,
    spans_df: DataFrame,
    media_df: DataFrame,
    batch_id: int,
    io: ParquetManifestIO,
    out_dir: str,
    *,
    cfg=None,
    stream_id: str = "extract",
    store_table: str = EXTRACT_STORE_TABLE,
    enforce_disjoint_ids: bool = True,
) -> dict:
    """One micro-batch of INTERLEAVED documents (span rows + media
    store) through the flagship extraction pipeline, then exact
    document-level dedup against the committed store — the north-rule
    pipeline as a continuously-running, exactly-once ingest:

    1. ``run_extraction`` (boilerplate strip, OCR seam, offset-order
       splice) produces ``(doc_id, spans_out, fields, errors)``;
    2. the span sequence serializes canonically
       (:func:`serialized_spans` — the SAME (kind, text, media_ref,
       order) tuple the north invariant equates on) and digests against
       the committed store, first-run-wins;
    3. kept documents (full extraction rows) land in a
       ``batch_id``-partitioned dynamic-overwrite output;
    4. the batch's digests commit as ONE tagged snapshot.

    Same crash-window convergence as :func:`ingest_batch` — the same
    commit path (:func:`_dedup_commit`), keyed on the serialized span
    sequence.  Documents with EMPTY ``spans_out`` (quarantined/oversized/
    genuinely empty) ride through unscreened — no content, no dedup,
    never dropped.  ``docs_in`` counts every extracted document;
    ``docs_empty`` the unscreened ones.
    """
    from ocr_spark.pipeline import run_extraction

    t0 = time.monotonic()
    tag = _batch_tag(stream_id, batch_id)
    # lazy: a replayed batch returns before any extraction job runs, and
    # the commit's verdict is the one cache the extraction lands in
    docs = run_extraction(spark, spans_df, media_df, cfg)
    done = _dedup_commit(
        spark, docs, serialized_spans(F.col("spans_out")), batch_id,
        io, out_dir, tag, store_table, None, enforce_disjoint_ids,
    )
    if done is None:
        return _replayed(batch_id, tag)
    snap, n_in, n_digestable, n_kept, _ = done
    return {
        "batch_id": batch_id,
        "tag": tag,
        "replayed": False,
        "snapshot": snap,
        "docs_in": n_in,
        "docs_empty": n_in - n_digestable,
        "docs_kept": n_kept,
        "docs_dropped": n_digestable - n_kept,
        "wall_s": round(time.monotonic() - t0, 3),
    }


def run_stream_extract_ingest(
    spark: SparkSession,
    input_dir: str,
    media_df: DataFrame,
    store_root: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    cfg=None,
    stream_id: str = "extract",
    available_now: bool = True,
    max_files_per_trigger: int = 8,
    collect_stats: list | None = None,
):
    """Stream span-row parquet drops through extraction + store-backed
    document dedup (:func:`extract_ingest_batch`) — the flagship
    pipeline as continuous exactly-once ingestion.  ``media_df`` is the
    media store dimension (static, joined per batch, as in
    :func:`ocr_spark.streaming.run_streaming_extraction`)."""
    from ocr_spark.fixtures import SPANS_SCHEMA_DDL

    io = ParquetManifestIO(store_root)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats = extract_ingest_batch(
            spark, batch_df, media_df, batch_id, io, out_dir,
            cfg=cfg, stream_id=stream_id,
        )
        if collect_stats is not None:
            collect_stats.append(stats)

    return _start_ingest_stream(
        spark, SPANS_SCHEMA_DDL, input_dir, checkpoint_dir,
        process_batch, available_now, max_files_per_trigger,
    )
