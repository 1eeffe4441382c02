"""Per-partition lineage + checkpoint resume for the extraction pipeline.

North-rule mechanics (no analogue in the reference, whose only observability
is `/health` + gunicorn access logs — main.py:1352-1369, entrypoint.sh:25):

- every document is assigned a deterministic **bucket**
  ``pmod(xxhash64(doc_id), n_buckets)`` — the unit of checkpointing;
- the output table is written **partitioned by bucket** with dynamic
  partition overwrite, so re-emitting a bucket replaces exactly its files
  (the parquet-dir emulation of Iceberg's overwrite-by-filter; on a real
  cluster the same calls target an Iceberg catalog table);
- after the data commit, one lineage row per bucket is appended:
  ``(run_id, bucket, docs_in, docs_out, bytes_out, wall_ms, status)``;
- a resumed run reads the lineage table, collects the ``status='done'``
  buckets for its ``run_id`` (tiny — bucket cardinality, not doc
  cardinality), and prunes them from the input *before* the heavy stages,
  so a crash loses at most the in-flight buckets' work.

Crash ordering: data first, lineage second.  A crash between the two leaves
orphan data files for unfinished buckets; the retry overwrites exactly those
partitions, so the protocol is idempotent.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import PipelineConfig
from ocr_spark.pipeline import run_extraction

# bytes_out = committed parquet bytes of the bucket's partition directory;
# wall_ms = RUN-level wall time stamped on each of the run's bucket rows
# (per-bucket timing would need per-task instrumentation; the unit of
# resume is the bucket, the unit of timing is the run).
LINEAGE_SCHEMA = (
    "run_id string, bucket int, n_buckets int, docs_in bigint, "
    "docs_out bigint, bytes_out bigint, wall_ms bigint, status string"
)


def _bucket_dir_bytes(
    spark: SparkSession, out_dir: str, buckets: list[int]
) -> dict[int, int]:
    """Committed bytes per bucket partition directory, via the Hadoop
    FileSystem API (works for file://, hdfs://, s3a://).  One driver-side
    listing per bucket — bucket-cardinality, not data-cardinality."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    sizes: dict[int, int] = {}
    for b in buckets:
        path = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/bucket={b}")
        fs = path.getFileSystem(conf)
        sizes[b] = (
            int(fs.getContentSummary(path).getLength())
            if fs.exists(path) else 0
        )
    return sizes


def bucket_of(doc_id, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id), F.lit(n_buckets)).cast("int")


def done_buckets(
    spark: SparkSession, lineage_dir: str, run_id: str,
    n_buckets: int | None = None,
) -> list[int]:
    """Buckets already committed for this run (empty when no lineage yet).

    Missing-table detection goes through Spark's own reader, not a local
    filesystem probe — ``os.path.exists`` is always False for hdfs://,
    s3a:// etc., which would silently disable resume on exactly the
    deployments that need it.

    When ``n_buckets`` is given, it is validated against the value the
    committed rows were produced with: resuming a mod-256 run with
    mod-64 bucketing would silently skip documents whose NEW bucket id
    collides with an OLD committed one — better to fail loudly."""
    try:
        rows = (
            spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_dir)
            .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("bucket", "n_buckets").distinct().collect()
        )
    except Exception as exc:  # AnalysisException: PATH_NOT_FOUND et al.
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return []
        raise
    if n_buckets is not None:
        seen = {r.n_buckets for r in rows if r.n_buckets is not None}
        if seen and seen != {n_buckets}:
            raise ValueError(
                f"run {run_id!r} was committed with n_buckets={sorted(seen)} "
                f"but this resume uses n_buckets={n_buckets}; bucket ids are "
                "not comparable across moduli — rerun with the original value"
            )
    return sorted(r.bucket for r in rows)


def run_resumable(
    spark: SparkSession,
    spans_df: DataFrame,
    media_df: DataFrame,
    out_dir: str,
    lineage_dir: str,
    run_id: str,
    n_buckets: int = 64,
    cfg: PipelineConfig | None = None,
) -> dict:
    """One (re)run: process every bucket not yet 'done', commit data, then
    commit lineage.  Returns a summary dict for logging/tests."""
    if n_buckets < 1:
        # len(skip) >= n_buckets would hold before any work, so the run
        # would report success having extracted nothing.
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    cfg = cfg or PipelineConfig()
    skip = done_buckets(spark, lineage_dir, run_id, n_buckets)
    if len(skip) >= n_buckets:
        # Every configured bucket committed — nothing to scan or run.
        return {"run_id": run_id, "skipped_buckets": len(skip),
                "processed_buckets": 0, "wall_ms": 0}

    pending = spans_df.withColumn(
        "bucket", bucket_of(F.col("doc_id"), n_buckets)
    )
    if skip:
        pending = pending.filter(~F.col("bucket").isin(skip))
    # Collected once (bucket-cardinality rows): reused as the emptiness
    # probe, the lineage rows, AND the summary — one input pass total;
    # a separate emptiness probe would be a full extra scan of the input.
    docs_in_rows = (
        pending.groupBy("bucket").agg(F.count(F.lit(1)).alias("docs_in"))
        .collect()
    )
    # Nothing pending (fully-committed rerun with sparse buckets, or an
    # empty input on a fresh run): writing and reading back an all-empty
    # partitioned dataset would fail on schema inference — exit first.
    if not docs_in_rows:
        return {"run_id": run_id, "skipped_buckets": len(skip),
                "processed_buckets": 0, "wall_ms": 0}
    started = time.monotonic()
    out = run_extraction(spark, pending.drop("bucket"), media_df, cfg)
    out = out.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))

    # Data commit: dynamic partition overwrite replaces exactly the buckets
    # this run touched (idempotent retry), never the already-done ones.
    # Repartition ON the partition column first: without it every write
    # task emits a file into every bucket dir (tasks × buckets files —
    # 32k small files at 128 tasks × 256 buckets, the classic
    # partitioned-write small-files problem: measured 33% larger output
    # bytes and a footer-metadata stats scan over 32k files); with it
    # each bucket is one task → one right-sized file.  Buckets are
    # doc_id-hash uniform, so no skew.
    (
        out.repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
    wall_ms = int((time.monotonic() - started) * 1000)

    # Lineage commit (after data): stats reflect what was actually
    # committed, gathered cheaply —
    # - docs_out: partition-pruned read of ONLY this run's bucket dirs,
    #   projecting just the partition column, so the counts come from
    #   parquet row-group metadata (no data pages are decoded);
    # - bytes_out: the bucket partition directory's committed file bytes
    #   from the filesystem.
    # Neither decodes a document, so the sink is never read a second time.
    pending_ids = [int(r.bucket) for r in docs_in_rows]
    docs_out_rows = (
        spark.read.parquet(out_dir)
        .select(F.col("bucket").cast("int").alias("bucket"))
        .filter(F.col("bucket").isin(pending_ids))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("docs_out"))
        .collect()
    )
    docs_out = {int(r.bucket): int(r.docs_out) for r in docs_out_rows}
    bytes_out = _bucket_dir_bytes(spark, out_dir, pending_ids)
    # Built through a pandas frame (Arrow; columns map to the schema by
    # position): the rows plan as a JVM LocalTableScan.  A list of tuples
    # plans as Scan ExistingRDD, which starts Python-worker tasks of its
    # own to write bucket-count rows.
    lineage = spark.createDataFrame(
        pd.DataFrame(
            [
                (run_id, int(r.bucket), n_buckets, int(r.docs_in),
                 docs_out.get(int(r.bucket), 0),
                 bytes_out.get(int(r.bucket), 0), wall_ms, "done")
                for r in docs_in_rows
            ]
        ),
        schema=LINEAGE_SCHEMA,
    )
    lineage.write.mode("append").parquet(lineage_dir)

    n_pending = len(docs_in_rows)
    return {
        "run_id": run_id,
        "skipped_buckets": len(skip),
        "processed_buckets": n_pending,
        "wall_ms": wall_ms,
    }
