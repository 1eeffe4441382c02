"""Streaming ingest with cross-batch dedup: exactly-once semantics.

What these tests pin, in order of importance:

1. Tagged appends are the race-free idempotence primitive (tableio).
2. A two-drop drain drops cross-drop exact duplicates via the store and
   the result EQUALS the one-shot batch dedup of the concatenated
   corpus (first-run-wins ≡ min-id-wins because drops arrive in id
   order — the equivalence the incremental operator's oracle pins).
3. Replays converge from every crash window: before the docs write,
   between the docs write and the store commit, and after the commit.
4. The Bloom-registry prune changes NOTHING about the output, and a
   crash between the registry append and the store commit still
   converges (over-containment is safe by construction).
5. Checkpoint resume: a second drain with new files processes only the
   new files, still deduped against the full committed store.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.corpus import synthetic_documents
from ocr_spark.dedup import exact_digests, exact_duplicates
from ocr_spark.ingest import ingest_batch, run_stream_dedup_ingest
from ocr_spark.tableio import DuplicateTagError, ParquetManifestIO


def _drop(spark, tmp_path, n, start):
    d = str(tmp_path / "in")
    synthetic_documents(spark, n, start=start).coalesce(1) \
        .write.mode("append").parquet(d)
    return d


def _drain(spark, tmp_path, stats, **kw):
    q = run_stream_dedup_ingest(
        spark,
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        collect_stats=stats,
        **kw,
    )
    q.awaitTermination()


def _expected_kept(spark, n_total):
    """One-shot ground truth over the full corpus: keep every doc except
    non-canonical members of exact-duplicate groups (min id wins —
    identical to first-run-wins under id-ordered drops)."""
    full = synthetic_documents(spark, n_total, start=0)
    dups = exact_duplicates(full)
    drop = (
        exact_digests(full)
        .join(dups, on="digest")
        .filter(F.col("id") != F.col("canonical_id"))
        .select("id")
    )
    return set(
        r.doc_id
        for r in full.join(
            drop.withColumnRenamed("id", "doc_id"),
            on="doc_id", how="left_anti",
        ).select("doc_id").collect()
    )


# ---------------------------------------------------------------- tableio tags


def test_tagged_append_is_idempotence_primitive(spark, tmp_path):
    io = ParquetManifestIO(str(tmp_path / "s"))
    df = spark.range(3).select(F.col("id"), F.lit("x").alias("digest"))
    sid = io.append(df, "t", tag="run/b1")
    assert io.tags("t") == {"run/b1": sid}
    with pytest.raises(DuplicateTagError, match="run/b1"):
        io.append(df, "t", tag="run/b1")
    # untagged appends and distinct tags still work
    io.append(df, "t")
    io.append(df, "t", tag="run/b2")
    assert set(io.tags("t")) == {"run/b1", "run/b2"}
    assert io.read(spark, "t").count() == 9


def test_tags_survive_compaction(spark, tmp_path):
    io = ParquetManifestIO(str(tmp_path / "s"))
    df = spark.range(2).select(F.col("id"), F.lit("x").alias("digest"))
    io.append(df, "t", tag="run/b1")
    io.append(df, "t", tag="run/b2")
    io.compact(spark, "t", vacuum=True)
    assert set(io.tags("t")) == {"run/b1", "run/b2"}
    with pytest.raises(DuplicateTagError):
        io.append(df, "t", tag="run/b1")


# ------------------------------------------------------------- end-to-end


@pytest.mark.parametrize("registry_bits", [None, 1 << 14])
def test_two_drop_drain_equals_one_shot(spark, tmp_path, registry_bits):
    """Drop [0,100) then [100,200); the stream must keep exactly the
    one-shot dedup's survivors — cross-drop duplicates (ids %10==6
    pointing at earlier drops) die against the committed store."""
    _drop(spark, tmp_path, 100, 0)
    _drop(spark, tmp_path, 100, 100)
    stats: list[dict] = []
    _drain(spark, tmp_path, stats, max_files_per_trigger=1,
           registry_m_bits=registry_bits)

    assert len(stats) == 2 and not any(s["replayed"] for s in stats)
    assert sum(s["docs_in"] for s in stats) == 200
    got = set(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("doc_id").collect()
    )
    assert got == _expected_kept(spark, 200)
    # store is digest-unique: kept rows only, one per surviving digest
    store = ParquetManifestIO(str(tmp_path / "store"))
    digs = store.read(spark, "digests")
    assert digs.count() == digs.select("digest").distinct().count()
    assert len(store.tags("digests")) == 2


def test_replay_short_circuits_after_commit(spark, tmp_path):
    io = ParquetManifestIO(str(tmp_path / "store"))
    docs = synthetic_documents(spark, 50, start=0)
    out = str(tmp_path / "out")
    first = ingest_batch(spark, docs, 0, io, out)
    assert not first["replayed"] and first["docs_kept"] > 0
    replay = ingest_batch(spark, docs, 0, io, out)
    assert replay["replayed"]
    assert io.read(spark, "digests").count() == first["docs_kept"]
    assert spark.read.parquet(out).count() == first["docs_kept"]


def _exact_batches(spark):
    """``ingest_batch`` over two synthetic drops: (run, batches, store
    table, one-shot expected kept ids)."""
    batches = [synthetic_documents(spark, 50, start=s) for s in (0, 50)]
    return ingest_batch, batches, "digests", _expected_kept(spark, 100)


def _extract_batches(spark):
    """``extract_ingest_batch`` over two span drops, the second
    re-submitting five of the first's documents under new ids: (run,
    batches, store table, expected kept ids — None: a clean run's)."""
    from ocr_spark.fixtures import corpus_dataframes
    from ocr_spark.ingest import extract_ingest_batch

    spans, media = corpus_dataframes(spark, seed=7, n_docs=20)
    a = spans.filter(F.col("doc_id") < F.lit("doc_000010"))
    resub = a.filter(F.col("doc_id") < F.lit("doc_000005")).select(
        F.concat(F.lit("resub-"), F.col("doc_id")).alias("doc_id"), "spans"
    )
    b = spans.filter(F.col("doc_id") >= F.lit("doc_000010")).unionByName(
        resub
    )

    def run(spark, docs, batch_id, io, out):
        return extract_ingest_batch(spark, docs, media, batch_id, io, out)

    return run, [a, b], "doc_digests", None


def _kept_ids(spark, out):
    return set(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )


@pytest.mark.parametrize(
    "make", [_exact_batches, _extract_batches],
    ids=["ingest_batch", "extract_ingest_batch"],
)
def test_crash_before_store_commit_converges(
    spark, tmp_path, monkeypatch, make
):
    """Crash window: docs partition written, store append never reached.
    The retry recomputes against the UNCHANGED store — identical
    kept-set, idempotent overwrite, single store snapshot."""
    run, (docs0, docs1), table, expected = make(spark)
    if expected is None:
        clean = ParquetManifestIO(str(tmp_path / "clean_store"))
        clean_out = str(tmp_path / "clean_out")
        run(spark, docs0, 0, clean, clean_out)
        run(spark, docs1, 1, clean, clean_out)
        expected = _kept_ids(spark, clean_out)
        assert not any(i.startswith("resub-") for i in expected)

    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    run(spark, docs0, 0, io, out)
    real_append = ParquetManifestIO.append

    def boom(self, df, table, tag=None):
        if tag is not None:
            raise RuntimeError("injected crash before store commit")
        return real_append(self, df, table, tag=tag)

    monkeypatch.setattr(ParquetManifestIO, "append", boom)
    with pytest.raises(RuntimeError, match="injected"):
        run(spark, docs1, 1, io, out)
    monkeypatch.undo()

    retry = run(spark, docs1, 1, io, out)
    assert not retry["replayed"]
    assert _kept_ids(spark, out) == expected
    assert len(io.snapshots(table)) == 2  # batch 0 + retried batch 1


@pytest.mark.parametrize(
    "make, jobs",
    [(_exact_batches, 10), (_extract_batches, 15)],
    ids=["ingest_batch", "extract_ingest_batch"],
)
def test_ingest_batch_spark_job_count(spark, tmp_path, make, jobs):
    """A non-first batch runs a fixed number of Spark jobs (every job the
    call starts, counted by job group through the status tracker): the
    store read, the one verdict action (guard and counts included), the
    write and the append.  A change to the commit path that adds or
    drops a pass moves this pin."""
    run, (docs0, docs1), _, _ = make(spark)
    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    run(spark, docs0, 0, io, out)

    sc = spark.sparkContext
    group = f"job-count-{make.__name__}"
    sc.setJobGroup(group, group)
    try:
        stats = run(spark, docs1, 1, io, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not stats["replayed"]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_crash_between_registry_and_store_commit_converges(
    spark, tmp_path, monkeypatch
):
    """The ordering rule under test: the registry bitmap committed but
    the store didn't.  The retry re-appends the bitmap (harmless — OR of
    identical bits) and the over-containing registry can only produce
    false POSITIVES in later prunes, so no duplicate is ever admitted."""
    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    bits = 1 << 14
    ingest_batch(spark, synthetic_documents(spark, 50, start=0), 0, io, out,
                 registry_m_bits=bits)

    real_append = ParquetManifestIO.append

    def boom(self, df, table, tag=None):
        if tag is not None:  # the registry append is untagged; store isn't
            raise RuntimeError("injected crash after registry append")
        return real_append(self, df, table, tag=tag)

    docs1 = synthetic_documents(spark, 50, start=50)
    monkeypatch.setattr(ParquetManifestIO, "append", boom)
    with pytest.raises(RuntimeError, match="injected"):
        ingest_batch(spark, docs1, 1, io, out, registry_m_bits=bits)
    monkeypatch.undo()
    # the crash left batch 1's registry snapshot but no store snapshot
    assert len(io.snapshots("digests_bloom")) == 2
    assert len(io.snapshots("digests")) == 1

    retry = ingest_batch(spark, docs1, 1, io, out, registry_m_bits=bits)
    assert not retry["replayed"]
    assert len(io.snapshots("digests_bloom")) == 3  # harmless re-OR
    # batch 2 must still dedup correctly against everything committed
    docs2 = synthetic_documents(spark, 50, start=100)
    ingest_batch(spark, docs2, 2, io, out, registry_m_bits=bits)
    got = set(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert got == _expected_kept(spark, 150)


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    _drop(spark, tmp_path, 100, 0)
    s1: list[dict] = []
    _drain(spark, tmp_path, s1)
    assert len(s1) == 1 and s1[0]["docs_in"] == 100

    _drop(spark, tmp_path, 100, 100)
    s2: list[dict] = []
    _drain(spark, tmp_path, s2)
    # resumed drain sees ONLY the new drop...
    assert sum(s.get("docs_in", 0) for s in s2) == 100
    # ...but dedups it against the full committed store
    got = set(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("doc_id").collect()
    )
    assert got == _expected_kept(spark, 200)


def test_overlapping_ids_rejected(spark, tmp_path):
    """A committed id re-sent under a NEW batch id is refused before the
    batch commits anything: the error names the ids, the store keeps its
    one snapshot and no ``batch_id=1`` partition is written.  Enabling
    the registry in that batch (the backfill path) leaves the store
    registry-less.  With ``enforce_disjoint_ids=False`` the same batch
    commits."""
    import os

    for registry_m_bits in (None, 1 << 12):
        root = tmp_path / str(registry_m_bits)
        io = ParquetManifestIO(str(root / "store"))
        out = str(root / "out")
        ingest_batch(
            spark, synthetic_documents(spark, 50, start=0), 0, io, out
        )
        resubmit = synthetic_documents(spark, 50, start=25)
        with pytest.raises(ValueError, match=r"overlap .*\[25, "):
            ingest_batch(
                spark, resubmit, 1, io, out,
                registry_m_bits=registry_m_bits,
            )
        assert len(io.snapshots("digests")) == 1
        assert not os.path.exists(os.path.join(out, "batch_id=1"))
        assert not io.exists("digests_bloom")

        stats = ingest_batch(
            spark, resubmit, 1, io, out,
            registry_m_bits=registry_m_bits, enforce_disjoint_ids=False,
        )
        assert not stats["replayed"]
        assert len(io.snapshots("digests")) == 2
        assert os.path.isdir(os.path.join(out, "batch_id=1"))
        assert io.exists("digests_bloom") == (registry_m_bits is not None)


def test_batch_partition_is_one_file_for_a_small_batch(spark, tmp_path):
    """A few hundred rows spread over 8 partitions commit ONE parquet
    file: AQE coalesces the commit write's round-robin rebalance to the
    session's advisory size instead of writing a file per verdict
    partition."""
    import os

    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    docs = synthetic_documents(spark, 300, start=0).repartition(8)
    stats = ingest_batch(spark, docs, 5, io, out)
    files = [
        f for f in os.listdir(os.path.join(out, "batch_id=5"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1
    assert spark.read.parquet(out).count() == stats["docs_kept"]


def test_null_text_rides_through(spark, tmp_path):
    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "alpha beta")],
        "doc_id bigint, text string",
    )
    res = ingest_batch(spark, docs, 0, io, out)
    kept = {
        r.doc_id: r.text
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    assert set(kept) == {1, 2}          # 3 is an exact dup of 1
    assert kept[2] is None              # content-less row not dropped
    assert res["docs_in"] == 2          # digestable rows only


def test_null_text_rows_each_kept_against_a_store(spark, tmp_path):
    """Content-less rows are each their own group in the one-arm
    verdict: against a store that already holds a batch, every NULL-text
    row is kept (none grouped under one NULL digest, none dropped), next
    to a dup of committed content that dies and a new text that
    survives."""
    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    first = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id bigint, text string"
    )
    ingest_batch(spark, first, 0, io, out)
    second = spark.createDataFrame(
        [(10, None), (11, None), (12, None),
         (13, "ALPHA  beta"), (14, "delta")],
        "doc_id bigint, text string",
    )
    res = ingest_batch(spark, second, 1, io, out)
    kept = {
        r.doc_id
        for r in spark.read.parquet(out).filter("batch_id = 1")
        .select("doc_id").collect()
    }
    assert kept == {10, 11, 12, 14}     # 13 dies against committed 1
    assert res["docs_in"] == 2          # digestable rows only
    assert res["docs_kept"] == 1 and res["docs_dropped"] == 1
    assert io.read(spark, "digests").count() == 3  # no NULL digest


def test_job_cli_two_synthetic_drops(tmp_path):
    """The spark-submit wrapper end-to-end (its own SparkSession)."""
    import jobs.run_stream_ingest as job

    summary = job.main([
        "--input", str(tmp_path / "in"),
        "--store", str(tmp_path / "store"),
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--synthetic-drops", "2", "--drop-docs", "100",
        "--max-files-per-trigger", "1",
    ])
    assert summary["batches"] == 2
    assert summary["docs_in"] == 200
    assert summary["docs_dropped"] > 0
    assert (
        summary["docs_kept"] + summary["docs_dropped"]
        == summary["docs_in"]
    )


# --------------------------------------------------------- near-dup stream


def _label_sets(spark, store_root):
    from ocr_spark.dedup import current_store_labels

    io = ParquetManifestIO(store_root)
    committed = io.read(spark, "signatures")
    docs = set(
        (r.id, r.digest)
        for r in committed.filter("role = 'doc'")
        .select("id", "digest").collect()
    )
    labels = set(
        (r.id, r.cluster_id)
        for r in current_store_labels(committed).collect()
    )
    return docs, labels


def test_neardup_stream_equals_batch_job(spark, tmp_path):
    """The same two deltas through (a) the streaming wrapper and (b) two
    runs of jobs/run_dedup_incremental must leave IDENTICAL stores:
    same committed (id, digest) doc rows, same current cluster labels,
    same verified near-dup pairs.  They share the compute core, so this
    pins the wrapper's plumbing (ordering, writes, commit), not the
    operators again."""
    import jobs.run_dedup_incremental as job
    from ocr_spark.ingest import run_stream_neardup_ingest

    # streaming leg
    _drop(spark, tmp_path, 100, 0)
    _drop(spark, tmp_path, 100, 100)
    stats: list[dict] = []
    q = run_stream_neardup_ingest(
        spark, str(tmp_path / "in"), str(tmp_path / "s_stream"),
        str(tmp_path / "o_stream"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, collect_stats=stats,
    )
    q.awaitTermination()
    assert len(stats) == 2 and not any(s["replayed"] for s in stats)
    assert stats[1]["dup_of_committed"] > 0   # cross-batch dups really hit

    # batch-job leg, same splits
    job.main(["--synthetic", "100", "--start", "0",
              "--store", str(tmp_path / "s_job"),
              "--out", str(tmp_path / "j1")])
    job.main(["--synthetic", "100", "--start", "100",
              "--store", str(tmp_path / "s_job"),
              "--out", str(tmp_path / "j2")])

    s_docs, s_labels = _label_sets(spark, str(tmp_path / "s_stream"))
    j_docs, j_labels = _label_sets(spark, str(tmp_path / "s_job"))
    assert s_docs == j_docs
    assert s_labels == j_labels

    stream_pairs = set(
        (r.id_a, r.id_b)
        for r in spark.read.parquet(str(tmp_path / "o_stream" / "pairs"))
        .select("id_a", "id_b").collect()
    )
    job_pairs = set(
        (r.id_a, r.id_b)
        for d in ("j1", "j2")
        for r in spark.read.parquet(str(tmp_path / d / "pairs"))
        .select("id_a", "id_b").collect()
    )
    assert stream_pairs == job_pairs

    # labeled docs output: every kept doc carries its label
    docs_out = spark.read.parquet(str(tmp_path / "o_stream" / "docs"))
    assert set(r.doc_id for r in docs_out.select("doc_id").collect()) \
        == set(i for i, _ in s_labels)


def test_neardup_replay_and_crash_converge(spark, tmp_path, monkeypatch):
    from ocr_spark.ingest import neardup_ingest_batch

    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    first = neardup_ingest_batch(
        spark, synthetic_documents(spark, 60, start=0), 0, io, out
    )
    assert not first["replayed"]

    # crash before the tagged commit, then retry
    docs1 = synthetic_documents(spark, 60, start=60)
    real_append = ParquetManifestIO.append

    def boom(self, df, table, tag=None):
        if tag is not None:
            raise RuntimeError("injected crash")
        return real_append(self, df, table, tag=tag)

    monkeypatch.setattr(ParquetManifestIO, "append", boom)
    with pytest.raises(RuntimeError, match="injected"):
        neardup_ingest_batch(spark, docs1, 1, io, out)
    monkeypatch.undo()
    retry = neardup_ingest_batch(spark, docs1, 1, io, out)
    assert not retry["replayed"]
    assert len(io.snapshots("signatures")) == 2

    # replay after commit short-circuits
    replay = neardup_ingest_batch(spark, docs1, 1, io, out)
    assert replay["replayed"]
    assert len(io.snapshots("signatures")) == 2
    # outputs cover exactly the kept docs of both batches, once each
    docs_out = spark.read.parquet(f"{out}/docs").select("doc_id")
    assert docs_out.count() == docs_out.distinct().count() \
        == first["docs_kept"] + retry["docs_kept"]


def test_neardup_refuses_legacy_two_table_store(spark, tmp_path):
    """The stream refuses a store in the removed digests/sketches layout
    as the batch job does, before it writes anything: treated as empty,
    it would commit a fresh 'signatures' table beside the legacy one and
    re-keep every committed duplicate."""
    import os

    from ocr_spark.ingest import neardup_ingest_batch

    store = tmp_path / "store"
    (store / "digests").mkdir(parents=True)
    (store / "digests" / "manifest.json").write_text('{"snapshots": []}')
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="two-table layout"):
        neardup_ingest_batch(
            spark, synthetic_documents(spark, 5, start=0), 0,
            ParquetManifestIO(str(store)), out,
        )
    assert not (store / "signatures").exists()
    assert not os.path.exists(out)


def test_job_cli_near_dup_mode(tmp_path):
    import jobs.run_stream_ingest as job

    summary = job.main([
        "--input", str(tmp_path / "in"),
        "--store", str(tmp_path / "store"),
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--synthetic-drops", "2", "--drop-docs", "100",
        "--max-files-per-trigger", "1", "--near-dup",
    ])
    assert summary["batches"] == 2
    assert summary["docs_in"] == 200
    assert summary["docs_dropped"] > 0          # cross-batch exact dups
    assert summary["near_pairs"] > 0            # J≈0.5 planted variants
    assert (
        summary["docs_kept"] + summary["docs_dropped"]
        == summary["docs_in"]
    )


# ------------------------------------------- extraction x dedup store


def test_extract_ingest_drops_cross_batch_content_dups(spark, tmp_path):
    """The flagship pipeline as exactly-once streaming ingest: drop B
    re-submits 10 of drop A's documents under NEW doc_ids (same spans,
    same media) — their extracted span sequences digest identically and
    die against the committed store; B's genuinely new docs survive.
    Kept rows carry the FULL extraction output, equal to what the batch
    pipeline produces for the same documents."""
    from ocr_spark.fixtures import corpus_dataframes
    from ocr_spark.ingest import run_stream_extract_ingest
    from ocr_spark.pipeline import run_extraction

    spans_df, media_df = corpus_dataframes(spark, seed=7, n_docs=40)
    a = spans_df.filter(F.col("doc_id") < F.lit("doc_000020"))
    b_new = spans_df.filter(F.col("doc_id") >= F.lit("doc_000020"))
    b_dup = a.filter(F.col("doc_id") < F.lit("doc_000010")).select(
        F.concat(F.lit("resub-"), F.col("doc_id")).alias("doc_id"),
        "spans",
    )
    in_dir = str(tmp_path / "in")
    a.coalesce(1).write.mode("append").parquet(in_dir)
    b_new.unionByName(b_dup).coalesce(1).write.mode("append") \
        .parquet(in_dir)

    stats: list[dict] = []
    q = run_stream_extract_ingest(
        spark, in_dir, media_df, str(tmp_path / "store"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, collect_stats=stats,
    )
    q.awaitTermination()

    assert len(stats) == 2
    assert stats[0]["docs_in"] == 20 and stats[0]["docs_dropped"] == 0
    assert stats[1]["docs_in"] == 30
    # every resubmission died against the committed store (any
    # additional drops would be same-batch content collisions)
    assert stats[1]["docs_dropped"] >= 10
    got = spark.read.parquet(str(tmp_path / "out"))
    kept_ids = set(r.doc_id for r in got.select("doc_id").collect())
    assert not any(i.startswith("resub-") for i in kept_ids)
    assert set(r.doc_id for r in a.select("doc_id").collect()) <= kept_ids

    # content equality vs the batch pipeline for a kept doc
    batch = {
        r.doc_id: [tuple(s) for s in r.spans_out]
        for r in run_extraction(spark, spans_df, media_df).collect()
    }
    stream = {
        r.doc_id: [tuple(s) for s in r.spans_out]
        for r in got.select("doc_id", "spans_out").collect()
        if r.doc_id in batch
    }
    assert stream == {k: v for k, v in batch.items() if k in stream}

    # replay short-circuit on the committed tags
    io = ParquetManifestIO(str(tmp_path / "store"))
    assert len(io.tags("doc_digests")) == 2


def test_extract_ingest_keeps_each_empty_span_doc(spark, tmp_path):
    """Documents with an empty span array extract to an empty
    ``spans_out`` — no content, a NULL digest — and each is kept on its
    own (not grouped under one NULL digest, not dropped); ``docs_empty``
    counts them."""
    from ocr_spark.fixtures import SPANS_SCHEMA_DDL, corpus_dataframes
    from ocr_spark.ingest import extract_ingest_batch

    spans, media = corpus_dataframes(spark, seed=7, n_docs=6)
    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    extract_ingest_batch(
        spark, spans.filter(F.col("doc_id") < F.lit("doc_000003")),
        media, 0, io, out,
    )
    empty = spark.createDataFrame(
        [("empty-1", []), ("empty-2", []), ("empty-3", [])],
        SPANS_SCHEMA_DDL,
    )
    stats = extract_ingest_batch(
        spark,
        spans.filter(F.col("doc_id") >= F.lit("doc_000003"))
        .unionByName(empty),
        media, 1, io, out,
    )
    assert stats["docs_in"] == 6 and stats["docs_empty"] == 3
    kept = {
        r.doc_id
        for r in spark.read.parquet(out).filter("batch_id = 1")
        .select("doc_id").collect()
    }
    assert {"empty-1", "empty-2", "empty-3"} <= kept
    assert len(kept) == 3 + stats["docs_kept"]


def test_serialized_spans_null_for_empty_and_framed(spark):
    """v2 length-prefix framing: the byte form is pinned, empty
    sequences are NULL, and — the reason framing exists — two DISTINCT
    sequences whose v1 separator-joined encodings collided (span text
    containing the \\x1f field separator) now digest apart."""
    from ocr_spark.ingest import serialized_spans

    df = spark.createDataFrame(
        [
            ("a", []),
            ("b", [("text", "x", None, 0)]),
            # v1 collision pair: 'x\x1fy' inside ONE text field vs the
            # same bytes split across text/media_ref — identical v1
            # encodings ("text\x1fx\x1fy\x1f0"), so one of these two
            # DIFFERENT documents was silently dropped as a duplicate
            ("c1", [("text", "x\x1fy", None, 0)]),
            ("c2", [("text", "x", "y", 0)]),
        ],
        "doc_id string, spans_out array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).select("doc_id", serialized_spans(F.col("spans_out")).alias("s"))
    rows = {r.doc_id: r.s for r in df.collect()}
    assert rows["a"] is None
    assert rows["b"] == "4:text\x1f1:x\x1f0:\x1f1:0"
    assert rows["c1"] != rows["c2"]


def test_registry_enabled_on_existing_store_backfills(spark, tmp_path):
    """Enabling the Bloom registry on a PRE-EXISTING store must backfill
    every committed digest — without the backfill, a duplicate of
    pre-registry content probes might_contain=false, the committed row
    is pruned away, and the duplicate is KEPT (the false-negative class
    the registry design claims impossible)."""
    from pyspark.sql import Row

    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")

    def docs(rows):
        return spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in rows],
            "doc_id bigint, text string",
        )

    # batch 0 commits WITHOUT a registry
    s0 = ingest_batch(
        spark, docs([(0, "alpha content"), (1, "beta content")]),
        0, io, out,
    )
    assert s0["docs_kept"] == 2

    # batch 1 enables the registry on the existing store; doc 10 is an
    # exact duplicate of pre-registry doc 0 — it MUST drop
    s1 = ingest_batch(
        spark, docs([(10, "alpha content"), (11, "gamma content")]),
        1, io, out, registry_m_bits=4096,
    )
    assert s1["docs_kept"] == 1 and s1["docs_dropped"] == 1
    kept_ids = {
        r.doc_id for r in spark.read.parquet(out).collect()
    }
    assert 10 not in kept_ids and 11 in kept_ids

    # and batch 2 still dedups against BOTH eras through the registry
    s2 = ingest_batch(
        spark, docs([(20, "beta content"), (21, "gamma content")]),
        2, io, out, registry_m_bits=4096,
    )
    assert s2["docs_kept"] == 0


def test_registry_toggle_off_is_refused(spark, tmp_path):
    """Once a store has a registry, a batch run without it must FAIL —
    committing digests the registry lacks punches false-negative holes
    for every future probe."""
    from pyspark.sql import Row

    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    d = spark.createDataFrame(
        [Row(doc_id=0, text="x")], "doc_id bigint, text string"
    )
    ingest_batch(spark, d, 0, io, out, registry_m_bits=4096)
    d2 = spark.createDataFrame(
        [Row(doc_id=1, text="y")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="has a Bloom registry"):
        ingest_batch(spark, d2, 1, io, out)


def test_extract_ingest_rejects_overlapping_ids(spark, tmp_path):
    """extract_ingest_batch now carries the same disjoint-ids fail-fast
    as ingest_batch: re-submitting a committed doc_id (outside the tag
    replay path) must error, not silently double-commit."""
    import os

    from ocr_spark.fixtures import corpus_dataframes
    from ocr_spark.ingest import extract_ingest_batch

    spans, media = corpus_dataframes(spark, seed=7, n_docs=6)
    io = ParquetManifestIO(str(tmp_path / "store"))
    out = str(tmp_path / "out")
    s0 = extract_ingest_batch(spark, spans, media, 0, io, out)
    assert s0["docs_in"] == 6
    with pytest.raises(
        ValueError, match=r"overlap the committed store .*'doc_000000'"
    ):
        extract_ingest_batch(spark, spans, media, 1, io, out)
    # refused before any commit: one store snapshot, no batch 1 output
    assert len(io.snapshots("doc_digests")) == 1
    assert not os.path.exists(os.path.join(out, "batch_id=1"))
    s1 = extract_ingest_batch(
        spark, spans, media, 1, io, out, enforce_disjoint_ids=False
    )
    assert not s1["replayed"] and s1["docs_in"] == 6
    assert len(io.snapshots("doc_digests")) == 2
