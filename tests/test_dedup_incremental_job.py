"""End-to-end cross-run incremental dedup job: two consecutive runs over
disjoint id ranges through a REAL on-disk store must together produce
exactly what one full-corpus run produces — the run-union equivalence the
job's docstring promises — and the store must advance exactly one
unified-signatures snapshot per run."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from jobs.run_dedup_incremental import main as job_main
from ocr_spark.corpus import synthetic_documents
from ocr_spark.dedup import (
    exact_digests,
    exact_duplicates_incremental,
    minhash_lsh_pairs,
)

# Batch boundary chosen so (a) it falls inside a DUP_GAP window — run B is
# guaranteed cross-run EXACT dups — and (b) it splits the adjacent near
# pair (140, 141), which is verified to band under the frozen minhash
# constants (LSH recall at J≈0.5 is ~0.68 per pair, so an arbitrary
# boundary's pair may legitimately miss; the constants are already pinned
# by the dedup_minhash_lsh oracle, so this is stable, not flaky).
N_A, N_B = 141, 59


def test_two_runs_equal_one_run(spark, tmp_path):
    store = str(tmp_path / "store")
    out_a, out_b = str(tmp_path / "runA"), str(tmp_path / "runB")

    a = job_main(["--synthetic", str(N_A), "--start", "0",
                  "--store", store, "--out", out_a])
    b = job_main(["--synthetic", str(N_B), "--start", str(N_A),
                  "--store", store, "--out", out_b])

    # the synthetic corpus guarantees cross-batch exact dups (id%10==6
    # groups span batches) — run B must actually hit the committed store
    assert a["n_dup_of_committed"] == 0 and b["n_dup_of_committed"] > 0
    # ONE unified signatures table, one atomic snapshot per run (two
    # separate digest/sketch commits would open a crash window — see the
    # job's module docstring)
    assert (a["store_snapshot"], b["store_snapshot"]) == (0, 1)
    manifest = json.load(
        open(os.path.join(store, "signatures", "manifest.json"))
    )
    assert len(manifest["snapshots"]) == 2
    assert not os.path.exists(os.path.join(store, "digests"))
    assert not os.path.exists(os.path.join(store, "sketches"))

    # one-shot ground truth over the SAME full corpus (pure function of
    # the id, so batching cannot change any document)
    full = synthetic_documents(spark, N_A + N_B, start=0)
    one_shot = exact_duplicates_incremental(exact_digests(full), None)
    want_kept = {r.id for r in one_shot.collect() if r.kept}

    got_kept = set()
    for out in (out_a, out_b):
        got_kept |= {
            r.id
            for r in spark.read.parquet(f"{out}/exact").collect()
            if r.kept
        }
    # batches are in id order, so first-run-wins == global-min-id-wins
    assert got_kept == want_kept

    # near-dup pair union == one-shot pairs over the exact survivors
    survivors = full.join(
        spark.createDataFrame([(i,) for i in sorted(want_kept)], "id bigint"),
        full.doc_id == F.col("id"), "leftsemi",
    )
    want_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(survivors, verify_threshold=0.3).collect()
    }
    got_pairs = set()
    for out in (out_a, out_b):
        got_pairs |= {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{out}/pairs").collect()
        }
    assert got_pairs == want_pairs
    assert want_pairs  # non-vacuous: the corpus has near-dups by design
    # every pair is emitted by exactly the run that introduced its later
    # member: the two runs' pair sets are disjoint
    pa = {(r.id_a, r.id_b)
          for r in spark.read.parquet(f"{out_a}/pairs").collect()}
    pb = {(r.id_a, r.id_b)
          for r in spark.read.parquet(f"{out_b}/pairs").collect()}
    assert not (pa & pb)
    assert any(i < N_A <= j for i, j in pb)  # cross-run pairs exist

    # cluster store: current labels (stored 'doc' labels + accumulated
    # merges) == one-shot components over the exact survivors' pairs
    from ocr_spark.dedup import connected_components, current_store_labels
    from ocr_spark.tableio import ParquetManifestIO

    committed = ParquetManifestIO(store).read(spark, "signatures")
    got_labels = {
        (r.id, r.cluster_id)
        for r in current_store_labels(committed).collect()
    }
    want_labels = {
        (r.id, r.cluster_id)
        for r in connected_components(
            spark.createDataFrame(
                [(i,) for i in sorted(want_kept)], "id bigint"
            ),
            spark.createDataFrame(
                sorted(want_pairs), "id_a bigint, id_b bigint"
            ),
        ).collect()
    }
    assert got_labels == want_labels
    assert "n_merges" in a and "n_merges" in b


def test_job_merges_committed_clusters_via_bridge_doc(spark, tmp_path):
    """A delta doc similar to two separately-committed docs must merge
    their clusters through the store: run B emits a rename record, and
    the resolved store equals the one-shot components.  The bridge text
    (28-token halves of each side, J≈0.39 per pair) is verified to band
    with BOTH sides under the frozen minhash constants (deterministic,
    not flaky — the constants are oracle-pinned)."""
    from ocr_spark.dedup import current_store_labels
    from ocr_spark.tableio import ParquetManifestIO

    a = " ".join(f"x{i}" for i in range(40))
    b = " ".join(f"y{i}" for i in range(40))
    bridge = " ".join(
        [f"x{i}" for i in range(28)] + [f"y{i}" for i in range(28)]
    )
    store = str(tmp_path / "store")
    d1, d2 = str(tmp_path / "docs1"), str(tmp_path / "docs2")
    spark.createDataFrame(
        [(1, a), (2, b)], "doc_id bigint, text string"
    ).write.parquet(d1)
    spark.createDataFrame(
        [(3, bridge)], "doc_id bigint, text string"
    ).write.parquet(d2)

    ra = job_main(["--docs", d1, "--store", store,
                   "--out", str(tmp_path / "outA")])
    rb = job_main(["--docs", d2, "--store", store,
                   "--out", str(tmp_path / "outB")])
    assert ra["n_merges"] == 0 and rb["n_merges"] == 1
    assert rb["n_near_pairs"] == 2  # (1,3) and (2,3)

    committed = ParquetManifestIO(store).read(spark, "signatures")
    labels = {(r.id, r.cluster_id)
              for r in current_store_labels(committed).collect()}
    assert labels == {(1, 1), (2, 1), (3, 1)}
    # the merge record itself is in the store, role-tagged
    merges = {(r.id, r.cluster_id)
              for r in committed.filter("role = 'merge'").collect()}
    assert merges == {(2, 1)}


def test_overlap_guard_tolerates_extra_id_column(spark, tmp_path):
    """A delta parquet carrying its OWN 'id' column (beyond doc_id/text)
    must still pass through the id-overlap precondition check on the
    second run: the unqualified F.col('id') in the guard's join
    condition used to resolve against BOTH children and abort with
    AMBIGUOUS_REFERENCE — the check itself crashed instead of checking."""
    store = str(tmp_path / "store")
    d1, d2 = str(tmp_path / "docs1"), str(tmp_path / "docs2")
    spark.createDataFrame(
        [(1, 100, "alpha beta gamma"), (2, 200, "delta epsilon zeta")],
        "doc_id bigint, id bigint, text string",
    ).write.parquet(d1)
    spark.createDataFrame(
        [(3, 300, "eta theta iota"), (4, 400, "kappa lambda mu")],
        "doc_id bigint, id bigint, text string",
    ).write.parquet(d2)
    job_main(["--docs", d1, "--store", store,
              "--out", str(tmp_path / "outA")])
    r = job_main(["--docs", d2, "--store", store,
                  "--out", str(tmp_path / "outB")])  # must not raise
    assert r["n_new"] == 2


def test_job_refuses_legacy_two_table_store(spark, tmp_path):
    """A store in the removed digests/sketches layout must fail loudly —
    treating it as empty would silently re-keep every committed
    duplicate and start a fresh history beside the stale one."""
    import pytest

    store = tmp_path / "store"
    (store / "digests").mkdir(parents=True)
    (store / "digests" / "manifest.json").write_text('{"snapshots": []}')
    with pytest.raises(SystemExit, match="two-table layout"):
        job_main(["--synthetic", "5", "--store", str(store),
                  "--out", str(tmp_path / "out")])


def test_job_refuses_overlapping_id_range(spark, tmp_path):
    """A re-submitted batch whose ids overlap the committed store must
    fail loudly BEFORE any store append: the overlap means the prior run
    committed, and re-running it would double-commit sketch/digest rows
    (duplicated pairs, corrupted cluster labels) with no error — the one
    misuse of the incremental store that used to be documented but not
    enforced."""
    import pytest

    store = str(tmp_path / "store")
    job_main(["--synthetic", "20", "--start", "0",
              "--store", store, "--out", str(tmp_path / "outA")])
    with pytest.raises(SystemExit, match="disjoint id range"):
        # operator retry mistake: same --start after a committed run
        job_main(["--synthetic", "20", "--start", "10",
                  "--store", store, "--out", str(tmp_path / "outB")])
    # the refused run must not have advanced the store
    manifest = json.load(
        open(os.path.join(store, "signatures", "manifest.json"))
    )
    assert len(manifest["snapshots"]) == 1


def test_job_empty_first_batch_does_not_brick_store(spark, tmp_path):
    """An empty (or all-NULL-text) first batch commits an empty snapshot
    that later runs must read through cleanly (Spark writes a
    schema-bearing empty part file — pinned here so an engine change
    that stops doing that fails loudly)."""
    store = str(tmp_path / "store")
    d0 = str(tmp_path / "docs0")
    spark.createDataFrame(
        [], "doc_id bigint, text string"
    ).write.parquet(d0)
    r0 = job_main(["--docs", d0, "--store", store,
                   "--out", str(tmp_path / "out0")])
    assert (r0["n_new"], r0["n_kept"], r0["store_snapshot"]) == (0, 0, 0)
    r1 = job_main(["--synthetic", "20", "--store", store,
                   "--out", str(tmp_path / "out1")])
    assert r1["n_kept"] > 0 and r1["store_snapshot"] == 1


def test_job_tag_makes_resubmission_exactly_once(spark, tmp_path):
    """--tag is the orchestrator-facing idempotence handle: a retried
    submission whose tag already committed exits replayed=true with the
    store untouched — the failure mode the id-overlap guard catches only
    when the retry REUSES the id range; the tag catches it always."""
    from ocr_spark.tableio import ParquetManifestIO

    store = str(tmp_path / "store")
    r1 = job_main(["--synthetic", "30", "--start", "0",
                   "--store", store, "--out", str(tmp_path / "r1"),
                   "--tag", "orchestrator/run-001"])
    assert "replayed" not in r1
    io = ParquetManifestIO(store)
    snaps = io.snapshots("signatures")

    r2 = job_main(["--synthetic", "30", "--start", "0",
                   "--store", store, "--out", str(tmp_path / "r2"),
                   "--tag", "orchestrator/run-001"])
    assert r2 == {"replayed": True, "tag": "orchestrator/run-001"}
    assert io.snapshots("signatures") == snaps
    # the short-circuit must fire before any output write
    import os
    assert not os.path.exists(str(tmp_path / "r2"))

    # a NEW tag with a fresh id range proceeds normally
    r3 = job_main(["--synthetic", "30", "--start", "30",
                   "--store", store, "--out", str(tmp_path / "r3"),
                   "--tag", "orchestrator/run-002"])
    assert r3["n_dup_of_committed"] > 0
    assert set(io.tags("signatures")) == {
        "orchestrator/run-001", "orchestrator/run-002",
    }


def test_job_tag_racing_commit_reads_as_replayed(
    spark, tmp_path, monkeypatch
):
    """A run whose tag a racing run commits between this run's tag
    pre-check and its append reads as replayed, as the --tag help
    promises: the append's lock-held DuplicateTagError is the answer,
    not a crash, and the store keeps the racer's snapshots."""
    from ocr_spark.tableio import ParquetManifestIO

    store = str(tmp_path / "store")
    tag = "orchestrator/run-001"
    job_main(["--synthetic", "30", "--start", "0", "--store", store,
              "--out", str(tmp_path / "racer"), "--tag", tag])
    io = ParquetManifestIO(store)
    snaps = io.snapshots("signatures")

    # the pre-check sees the store as it was before the racer committed
    real_tags = ParquetManifestIO.tags
    calls = []

    def tags_before_race(self, table):
        calls.append(table)
        return {} if len(calls) == 1 else real_tags(self, table)

    monkeypatch.setattr(ParquetManifestIO, "tags", tags_before_race)
    r = job_main(["--synthetic", "30", "--start", "30", "--store", store,
                  "--out", str(tmp_path / "late"), "--tag", tag])
    monkeypatch.undo()
    assert calls, "the tag pre-check never ran"
    assert r == {"replayed": True, "tag": tag}
    assert io.snapshots("signatures") == snaps
