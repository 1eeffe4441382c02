"""spark-submit entry point for cross-run incremental dedup.

    spark-submit --py-files ocr_spark.zip jobs/run_dedup_incremental.py \
        --docs /data/new_docs --store /data/dedup_store \
        --out /data/dedup/run1 [--threshold 0.3]

Each run deduplicates ONE delta (a new batch of ``(doc_id, text)`` rows)
against the committed corpus without ever re-pairing the corpus with
itself:

1. exact pass — the delta's text digests against the store's committed
   digests (first-run-wins; min-id-wins within the delta);
2. near-dup pass — MinHash sketches of the exact-survivors banded
   against themselves and against the store's committed sketches;
3. cluster pass — incremental connected components: the delta's final
   labels plus rename records for committed clusters the delta bridged
   (the committed store contributes only the pair-endpoint semi-join,
   never a full re-clustering);
4. commit — ONE ``signatures`` table, ONE atomic tableio snapshot (data
   first, manifest swap second): a ``role='doc'`` row
   ``(id, digest, sh, sig, cluster_id)`` per kept doc and a
   ``role='merge'`` row per rename.  Everything deliberately shares a
   table: separate appends would open a crash window in which one store
   is ahead of another — e.g. a retried delta classified
   dup-of-committed with its sketches never committed, silently losing
   near-dup recall forever.  One table, one commit point: a crashed run
   leaves the store at its previous snapshot and the whole run is
   retryable (under a fresh ``--out``).  Read-side, current labels =
   stored labels with accumulated merges applied (min-reachable over the
   rename graph — see ``ocr_spark.dedup.current_store_labels``).

Because sketches and digests are pure per-document functions, the union
of every run's outputs equals the one-shot full-corpus result (pinned by
tests/test_dedup_incremental_job.py); the committed side only ever
contributes a band/digest scan plus the join probe, which is what makes
repeated 100 TB ingest affordable.

Sandbox mode: ``--synthetic N --start S`` generates ids [S, S+N) of the
deterministic dup-structured corpus (ocr_spark.corpus.synthetic_documents)
instead of reading ``--docs``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Local runs (`python jobs/run_dedup_incremental.py`) put jobs/ on
# sys.path, not the repo root; on a cluster --py-files ships the package.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", help="parquet dir: new batch (doc_id, text)")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N synthetic docs instead of reading --docs")
    p.add_argument("--start", type=int, default=0,
                   help="first synthetic doc id (id ranges must be disjoint "
                        "across runs — the store commit is the id authority)")
    p.add_argument("--store", required=True,
                   help="committed signature-store root (tableio; one "
                        "'signatures' table carrying digest + sketch + "
                        "cluster rows)")
    p.add_argument("--out", required=True, help="output dir for this run")
    p.add_argument("--threshold", type=float, default=0.3,
                   help="near-dup Jaccard verify threshold")
    p.add_argument("--tag", default=None,
                   help="idempotence tag for the store commit (e.g. the "
                        "orchestrator's run id): a resubmission whose tag "
                        "already committed exits 0 with replayed=true "
                        "instead of double-committing — the refusal "
                        "happens under the store's writer lock, so even "
                        "two racing retries commit exactly once")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ocr_spark.corpus import synthetic_documents
    from ocr_spark.ingest import _signature_commit
    from ocr_spark.session import get_spark
    from ocr_spark.tableio import ParquetManifestIO

    # Re-entrant for in-process tests: if a session already exists
    # (getOrCreate returns it untouched), this run must not stop it —
    # the job owns the session only when it created one.
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("ocr-spark-dedup-incremental", master="submit")
    if args.synthetic:
        docs = synthetic_documents(spark, args.synthetic, start=args.start)
    else:
        if not args.docs:
            p.error("--docs required unless --synthetic")
        docs = spark.read.parquet(args.docs)

    def write_outputs(delta):
        for name in ("exact", "pairs", "clusters"):
            delta[name].write.mode("errorifexists").parquet(
                f"{args.out}/{name}"
            )

    # the commit body shared with the streaming wrapper
    # (ocr_spark.ingest.neardup_ingest_batch): tag short-circuit, legacy
    # layout refusal, the delta, one atomic store snapshot (see the
    # module docstring for why the store pieces must not commit
    # separately) and the counts
    try:
        summary = _signature_commit(
            spark, docs, ParquetManifestIO(args.store), args.tag,
            args.threshold, write_outputs,
        )
    except ValueError as e:
        raise SystemExit(str(e))
    if summary is None:
        summary = {"replayed": True, "tag": args.tag}
    json.dump(summary, sys.stdout)
    print()
    if owns_session:
        spark.stop()
    return summary


if __name__ == "__main__":
    main()
