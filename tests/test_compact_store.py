"""Incremental-store compaction: folding N snapshots into one must be
invisible to every downstream reader — delta results byte-identical
against compacted vs uncompacted stores — while actually reclaiming the
snapshot count (one out) and keeping append ids monotone afterwards."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from jobs.compact_store import main as compact_main
from jobs.run_dedup_incremental import main as job_main
from ocr_spark.dedup import current_store_labels
from ocr_spark.tableio import ParquetManifestIO


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_gram_freq_store_compaction_identical_delta(spark, tmp_path):
    """The gram-frequency store is summed-by-hash on every read; after a
    sum-by compaction the SAME delta must produce byte-identical spans,
    with one snapshot (and one row per gram) in the store."""
    from ocr_spark.dedup import (
        _gram_table,
        dup_passages_incremental,
        gram_doc_freqs,
    )

    k = 3
    base = "the quick brown fox jumps over the lazy dog again and again"
    batches = [
        [(1, base), (2, "totally unrelated text one two three four five")],
        [(10, base + " with a tail"), (11, "other filler words here")],
    ]
    delta = _df(spark, [(100, base + " reprise")],
                "doc_id bigint, text string")

    store = str(tmp_path / "store")
    io = ParquetManifestIO(store)
    for rows in batches:
        b = _df(spark, rows, "doc_id bigint, text string")
        io.append(
            gram_doc_freqs(_gram_table(b, k, "text", "doc_id")),
            "gram_freqs",
        )
    assert io.snapshots("gram_freqs") == [0, 1]

    def read_freqs():
        return io.read(spark, "gram_freqs").groupBy("gram_h").agg(
            F.sum("n_docs").alias("n_docs")
        )

    def spans():
        return sorted(
            (r.id, r.span_start, r.span_end, r.span_tokens, r.n_grams)
            for r in dup_passages_incremental(
                delta, read_freqs(), k=k
            ).collect()
        )

    before = spans()
    assert before  # non-vacuous: the delta shares the base passage

    summary = compact_main([
        "--store", store, "--table", "gram_freqs",
        "--mode", "sum-by", "--key", "gram_h", "--value", "n_docs",
    ])
    assert summary["snapshots_before"] == 2
    assert io.snapshots("gram_freqs") == [1]  # one snapshot, max id kept
    assert spans() == before
    # the compacted store holds exactly one row per distinct gram
    raw = io.read(spark, "gram_freqs")
    assert raw.count() == raw.select("gram_h").distinct().count()
    # and the store keeps working: append again, ids stay monotone
    io.append(
        gram_doc_freqs(_gram_table(delta, k, "text", "doc_id")),
        "gram_freqs",
    )
    assert io.snapshots("gram_freqs") == [1, 2]


def test_compact_job_vacuum_orphans_flag(spark, tmp_path, backdate_tree):
    """--vacuum-orphans AGE_S reclaims never-referenced data dirs
    (crashed appends) older than AGE_S alongside the compaction, without
    touching committed data or young (possibly in-flight) dirs."""
    import time

    store = str(tmp_path / "store")
    io = ParquetManifestIO(store)
    io.append(_df(spark, [(1,)], "v int"), "t")
    io.append(_df(spark, [(2,)], "v int"), "t")
    orphan = os.path.join(store, "t", "data", "s000077-beef0000")
    _df(spark, [(777,)], "v int").write.parquet(orphan)
    # age is the tree-wide newest mtime (an in-flight write's staged
    # files keep it young), so a dead orphan is old all the way down
    backdate_tree(orphan, time.time() - 10_000)

    summary = compact_main([
        "--store", store, "--table", "t",
        "--vacuum", "--vacuum-orphans", "3600",
    ])
    assert summary["orphans_deleted"] == ["data/s000077-beef0000"]
    assert not os.path.exists(orphan)
    assert summary["rows_after"] == 2
    assert io.snapshots("t") == [1]
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]


def test_unvacuumed_compaction_expires_dirs_safe_from_orphan_vacuum(
    spark, tmp_path
):
    """compact without --vacuum records the old dirs as EXPIRED: a
    long-running reader may still hold the pre-compaction manifest, so
    --vacuum-orphans (whose job is crash leavings) must spare them; a
    later --vacuum-expired is the explicit reclamation opt-in."""
    store = str(tmp_path / "store")
    io = ParquetManifestIO(store)
    io.append(_df(spark, [(1,)], "v int"), "t")
    io.append(_df(spark, [(2,)], "v int"), "t")
    manifest = json.load(open(os.path.join(store, "t", "manifest.json")))
    old_dirs = [
        os.path.join(store, "t", s["dir"]) for s in manifest["snapshots"]
    ]

    summary = compact_main([
        "--store", store, "--table", "t", "--vacuum-orphans", "0",
        "--no-count-rows",
    ])
    assert summary["rows_after"] is None  # opted out of the re-scan
    assert summary["orphans_deleted"] == []  # expired history spared
    assert summary["expired_deleted"] == []
    assert all(os.path.exists(d) for d in old_dirs)
    # a reader that held the PRE-compaction manifest can still scan them
    assert sorted(
        r.v for r in spark.read.parquet(*old_dirs).collect()
    ) == [1, 2]
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]

    # readers drained: the next maintenance run reclaims expired history
    summary2 = compact_main([
        "--store", store, "--table", "t", "--vacuum-expired",
    ])
    assert len(summary2["expired_deleted"]) == 2
    assert all(not os.path.exists(d) for d in old_dirs)
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]


def test_maintenance_only_reclaims_without_rewrite(spark, tmp_path):
    """--maintenance-only reclaims expired history at metadata cost: no
    fold, no full table rewrite, and — unlike a compacting run — it
    CONVERGES (a fold-always run re-expires the directory it replaces,
    leaving one new expired dir behind every maintenance pass)."""
    store = str(tmp_path / "store")
    io = ParquetManifestIO(store)
    io.append(_df(spark, [(1,)], "v int"), "t")
    io.append(_df(spark, [(2,)], "v int"), "t")
    compact_main(["--store", store, "--table", "t"])  # expires 2 dirs
    manifest = json.load(open(os.path.join(store, "t", "manifest.json")))
    assert len(manifest["expired"]) == 2
    kept_dir = os.path.join(store, "t", manifest["snapshots"][0]["dir"])

    summary = compact_main([
        "--store", store, "--table", "t",
        "--maintenance-only", "--vacuum-expired", "--vacuum-orphans", "0",
    ])
    assert summary["snapshot_id"] is None  # no fold ran
    assert summary["rows_after"] is None
    assert len(summary["expired_deleted"]) == 2
    assert summary["orphans_deleted"] == []
    # converged: the surviving data dir was NOT rewritten or re-expired
    manifest2 = json.load(open(os.path.join(store, "t", "manifest.json")))
    assert manifest2["expired"] == []
    assert os.path.exists(kept_dir)
    assert manifest2["snapshots"] == manifest["snapshots"]
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]


def test_maintenance_only_rejects_fold_vacuum_flag(tmp_path):
    """--vacuum reclaims the FOLD's pre-compaction dirs; with
    --maintenance-only the fold never runs, so accepting the combination
    would print a summary recording "vacuumed": true for a reclamation
    that never happened — the job must refuse it loudly instead."""
    import pytest

    with pytest.raises(SystemExit):
        compact_main([
            "--store", str(tmp_path / "s"), "--table", "t",
            "--maintenance-only", "--vacuum",
        ])


def test_signatures_store_compaction_identical_next_run(spark, tmp_path):
    """Signatures-mode compaction resolves accumulated merges into the
    doc labels and drops the merge rows; the current-labels view and a
    FULL subsequent ingest run must be identical against compacted vs
    uncompacted copies of the store."""
    a = " ".join(f"x{i}" for i in range(40))
    b = " ".join(f"y{i}" for i in range(40))
    bridge = " ".join(
        [f"x{i}" for i in range(28)] + [f"y{i}" for i in range(28)]
    )
    store = str(tmp_path / "store")
    d1, d2, d3 = (str(tmp_path / f"docs{i}") for i in (1, 2, 3))
    _df(spark, [(1, a), (2, b)],
        "doc_id bigint, text string").write.parquet(d1)
    _df(spark, [(3, bridge)],
        "doc_id bigint, text string").write.parquet(d2)
    _df(spark, [(4, a + " x40"), (5, "completely different words")],
        "doc_id bigint, text string").write.parquet(d3)

    job_main(["--docs", d1, "--store", store,
              "--out", str(tmp_path / "outA")])
    rb = job_main(["--docs", d2, "--store", store,
                   "--out", str(tmp_path / "outB")])
    assert rb["n_merges"] == 1  # non-vacuous: a merge record exists

    # fork the store BEFORE compacting, so both timelines run run C
    store2 = str(tmp_path / "store_uncompacted")
    shutil.copytree(store, store2)

    summary = compact_main([
        "--store", store, "--table", "signatures", "--mode", "signatures",
        "--vacuum",
    ])
    io = ParquetManifestIO(store)
    assert io.snapshots("signatures") == [summary["snapshot_id"]]
    compacted = io.read(spark, "signatures")
    assert compacted.filter("role = 'merge'").count() == 0

    want_labels = {
        (r.id, r.cluster_id)
        for r in current_store_labels(
            ParquetManifestIO(store2).read(spark, "signatures")
        ).collect()
    }
    got_labels = {(r.id, r.cluster_id)
                  for r in current_store_labels(compacted).collect()}
    assert got_labels == want_labels == {(1, 1), (2, 1), (3, 1)}

    # run C against both timelines: identical decisions, pairs, labels
    rc1 = job_main(["--docs", d3, "--store", store,
                    "--out", str(tmp_path / "outC1")])
    rc2 = job_main(["--docs", d3, "--store", store2,
                    "--out", str(tmp_path / "outC2")])
    assert {k: v for k, v in rc1.items() if k != "store_snapshot"} == \
           {k: v for k, v in rc2.items() if k != "store_snapshot"}
    for sub in ("exact", "pairs", "clusters"):
        got = sorted(
            map(tuple, spark.read.parquet(
                str(tmp_path / "outC1" / sub)).collect())
        )
        want = sorted(
            map(tuple, spark.read.parquet(
                str(tmp_path / "outC2" / sub)).collect())
        )
        assert got == want, sub


def test_identity_compaction_vacuums_old_dirs(spark, tmp_path):
    store = str(tmp_path / "store")
    io = ParquetManifestIO(store)
    io.append(_df(spark, [(1, "a")], "id bigint, v string"), "t")
    io.append(_df(spark, [(2, "b")], "id bigint, v string"), "t")
    manifest = json.load(open(os.path.join(store, "t", "manifest.json")))
    # manifest paths are relative to the table dir (relocatable stores)
    old_dirs = [
        os.path.join(store, "t", s["dir"]) for s in manifest["snapshots"]
    ]
    assert all(not os.path.isabs(s["dir"]) for s in manifest["snapshots"])

    compact_main(["--store", store, "--table", "t", "--vacuum"])
    assert io.snapshots("t") == [1]
    assert {r.id for r in io.read(spark, "t").collect()} == {1, 2}
    assert all(not os.path.exists(d) for d in old_dirs)
