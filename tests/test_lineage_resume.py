"""Checkpoint-resume protocol: a second run must skip committed buckets,
re-emitted buckets must be idempotent, and the final output must equal a
single-shot run exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.config import PipelineConfig
from ocr_spark.fixtures import corpus_dataframes
from ocr_spark.lineage import (
    LINEAGE_SCHEMA,
    bucket_of,
    done_buckets,
    run_resumable,
)
from ocr_spark.pipeline import run_extraction

N_DOCS = 60
SEED = 7
BUCKETS = 8


def _corpus(spark):
    return corpus_dataframes(spark, seed=SEED, n_docs=N_DOCS)


def test_resume_skips_done_buckets_and_completes(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)

    # Run 1: only half the buckets (simulates a crash after partial commit).
    spans_half = spans_df.filter(
        bucket_of(F.col("doc_id"), BUCKETS) < BUCKETS // 2
    )
    s1 = run_resumable(
        spark, spans_half, media_df, out, lin, "r1", n_buckets=BUCKETS
    )
    assert s1["skipped_buckets"] == 0
    done_after_1 = done_buckets(spark, lin, "r1")
    assert done_after_1 and max(done_after_1) < BUCKETS // 2

    # Run 2: full input — must process only the remaining buckets.
    s2 = run_resumable(
        spark, spans_df, media_df, out, lin, "r1", n_buckets=BUCKETS
    )
    assert s2["skipped_buckets"] == len(done_after_1)
    assert s2["processed_buckets"] == BUCKETS - len(done_after_1)

    # Final output == single-shot pipeline output, doc for doc.
    committed = spark.read.parquet(out)
    oneshot = run_extraction(spark, spans_df, media_df, PipelineConfig())
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                   for s in r.spans_out]
        for r in committed.collect()
    }
    want = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                   for s in r.spans_out]
        for r in oneshot.collect()
    }
    assert got == want
    assert len(got) == N_DOCS


def test_reemit_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)

    run_resumable(spark, spans_df, media_df, out, lin, "r1",
                  n_buckets=BUCKETS)
    n1 = spark.read.parquet(out).count()
    # Re-run under a NEW run_id (no buckets marked done for it): every
    # bucket is re-emitted via dynamic partition overwrite — no duplicates.
    run_resumable(spark, spans_df, media_df, out, lin, "r2",
                  n_buckets=BUCKETS)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == N_DOCS
    ids = spark.read.parquet(out).groupBy("doc_id").count()
    assert ids.filter(F.col("count") > 1).count() == 0


def test_lineage_rows_account_for_all_docs(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)
    run_resumable(spark, spans_df, media_df, out, lin, "r1",
                  n_buckets=BUCKETS)
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lin)
    rows = lineage.collect()
    assert sum(r.docs_in for r in rows) == N_DOCS
    assert sum(r.docs_out for r in rows) == N_DOCS
    assert all(r.status == "done" for r in rows)
    assert all(r.bytes_out > 0 for r in rows if r.docs_out > 0)


@pytest.mark.parametrize("n_buckets", [0, -3])
def test_non_positive_bucket_count_is_refused(spark, tmp_path, n_buckets):
    # len(skip) >= n_buckets holds at once for n_buckets < 1: without
    # the guard the run reported success having written nothing
    out = tmp_path / "out"
    lin = tmp_path / "lineage"
    spans_df, media_df = _corpus(spark)
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, spans_df, media_df, str(out), str(lin), "r1",
                      n_buckets=n_buckets)
    assert not out.exists() and not lin.exists()


def test_lineage_rows_plan_as_local_table_scan(spark, tmp_path):
    """The lineage append reads its bucket rows from a JVM
    LocalTableScan, not a Scan ExistingRDD (which runs Python-worker
    tasks to write bucket-count rows), and the rows and their types read
    back as the committed sink and input say."""
    import os

    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        found, it = {}, store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            found[e.executionId()] = e.physicalPlanDescription()
        return found

    before = set(executions())
    run_resumable(spark, spans_df, media_df, out, lin, "r1",
                  n_buckets=BUCKETS)
    appends = [
        plan for eid, plan in executions().items()
        if eid not in before
        and "InsertIntoHadoopFsRelationCommand" in plan and lin in plan
    ]
    assert len(appends) == 1, len(appends)
    assert "LocalTableScan" in appends[0]
    assert "Scan ExistingRDD" not in appends[0]

    lineage = spark.read.parquet(lin)
    assert lineage.dtypes == [
        ("run_id", "string"), ("bucket", "int"), ("n_buckets", "int"),
        ("docs_in", "bigint"), ("docs_out", "bigint"),
        ("bytes_out", "bigint"), ("wall_ms", "bigint"),
        ("status", "string"),
    ]
    docs_in = {
        r.bucket: r["count"]
        for r in spans_df.groupBy(
            bucket_of(F.col("doc_id"), BUCKETS).alias("bucket")
        ).count().collect()
    }
    rows = lineage.collect()
    assert len({r.wall_ms for r in rows}) == 1
    got = {r.bucket: (r.run_id, r.n_buckets, r.docs_in, r.docs_out,
                      r.bytes_out, r.status) for r in rows}
    want = {}
    for b, n in docs_in.items():
        bdir = os.path.join(out, f"bucket={b}")
        size = sum(os.path.getsize(os.path.join(bdir, f))
                   for f in os.listdir(bdir) if f.endswith(".parquet"))
        want[b] = ("r1", BUCKETS, n, n, size, "done")
    assert got == want
