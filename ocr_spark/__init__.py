"""ocr_spark — a PySpark-native extraction engine.

A from-scratch re-creation of the capabilities of the reference OCR
extraction service (MiguelCortes1231/ocr, a Flask + PaddleOCR single-node
app) as a distributed batch pipeline over tables of interleaved text+media
documents.

Layout
------
- ``ocr_spark.extraction``  pinned-behavior pure-Python extraction semantics
  (shared by the Arrow-batched pandas UDFs and the test oracle).
- ``ocr_spark.native``      the same operators expressed as native Catalyst
  ``Column`` expressions (no Python in the hot path).
- ``ocr_spark.udfs``        vectorized pandas UDFs / mapInPandas stages.
- ``ocr_spark.pipeline``    end-to-end span pipeline: scan → explode → text
  path ∥ media path → splice → sink, with skew salting + lineage.
- ``ocr_spark.recognizer``  pluggable OCR backend seam (deterministic fake
  backend for sandbox tests; Paddle backend gated behind import).
- ``ocr_spark.tableio``     snapshot-append table seam (parquet+manifest in
  the sandbox; Iceberg catalog config in production).
- ``ocr_spark.dedup``       exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  duplicated-passage dedup, connected components, and their cross-run
  incremental twins.
- ``ocr_spark.similarity``  embeddings (feature hashing), brute/LSH/IVF ANN,
  SemDeDup, rank fusion, incremental ANN stores.
- ``ocr_spark.textstats``   language-ID, quality scoring, LM surprisal,
  tf·idf / BM25, repetition stats, PII scrub, fingerprints.
- ``ocr_spark.classifier``  trained quality probe (exact-integer GD).
- ``ocr_spark.bpe``         BPE tokenizer training / vocab / encode.
- ``ocr_spark.assembly``    sampling, mixing, perplexity buckets, sequence
  packing, verified training-shard export.
- ``ocr_spark.membership``  distributed Bloom membership + cross-run registry.
- ``ocr_spark.decontam``    eval-set n-gram decontamination.
- ``ocr_spark.streaming`` / ``ocr_spark.ingest``  structured-streaming
  operators and exactly-once dedup/extraction ingest.

Importing the package also installs :func:`_revalidate_zips_by_stat` on
CPython < 3.13.  PySpark calls ``importlib.invalidate_caches()`` at the
start of every Python task, and there each zip importer on the worker's
path re-reads its archive's whole central directory: ~200 ms per task
for ``pyspark.zip`` and the Spark jar PySpark puts on ``PYTHONPATH``.
Every worker that unpickles an engine function imports this package, so
each later task on that reused worker skips the re-read.
"""

import sys

__version__ = "0.1.0"


def _revalidate_zips_by_stat() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since that importer last
    read it.  A rewritten archive is still re-read, which is the only
    case where the re-read matters.  The stat is taken BEFORE the read,
    so an archive rewritten during the read is re-read next time.
    Idempotent: a second call leaves the installed method in place."""
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_keyed", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:  # gone or unreadable: let the reader decide
            key = None
        if key is not None and key == getattr(self, "_read_at", None):
            return
        reread(self)
        self._read_at = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# CPython 3.13's zipimport only drops its cache here and re-reads lazily.
if sys.version_info < (3, 13):
    _revalidate_zips_by_stat()
