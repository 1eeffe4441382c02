"""Workload inputs, operations and oracles.

Every input is a pure function of ``--seed`` (through
``ocr_spark.fixtures.build_doc``, the same generator behind
``corpus_dataframes_distributed``), materialized to parquet once per setup,
so a timed operation starts from a table scan the way production does.

Each oracle works without Spark, document by document, on the same seed:
``tests/oracle.expected_document`` for extraction, plus a first-occurrence
walk over the canonical span serialization for ingest dedup.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import re
import statistics
from random import Random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_spark.config import PipelineConfig
from ocr_spark.extraction.fields import FIELD_ORDER
from ocr_spark.fixtures import build_doc
from tests.oracle import expected_document

#: documents per extract_mixed input.  On 4 cores an operation took about
#: as long at 2.5k documents as at 1k (~4 s, nearly all fixed cost).  The
#: mix a seed draws (e.g. its count of media-heavy documents) spreads
#: sink_bytes_per_doc across seeds: IQR/median ~11% at 1k documents, ~7%
#: at 2k.
EXTRACT_DOCS = 2000
#: sink buckets.  The job's default is 64; at 1k documents that is ~16
#: documents a file, and the per-file cost alone doubled an operation's
#: wall (11.7 s against 5.5 s on 4 cores), leaving too few operations in a
#: run to measure.
EXTRACT_BUCKETS = 8
#: untimed warm-up operations before the timed ones: the first pays the
#: Python worker start, and the second still ran ~20% slower than the
#: plateau (JIT), on 4 cores
WARM_OPS = 2
#: ingest_microbatch: timed batches per run and documents per batch.  Every
#: run times the same batches, WARM_OPS .. WARM_OPS + INGEST_TIMED - 1,
#: whatever the deadline: the store grows with each batch, so a later batch
#: costs more, and a deadline would let a faster program reach costlier
#: batches.
INGEST_TIMED = 3
INGEST_BATCH_DOCS = 500
#: share of a later batch's documents that re-send an earlier batch's
#: content under a new id (the dedup must drop them)
INGEST_REUSE = 0.25

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
SPANS_SCHEMA = pa.schema([("doc_id", pa.string()),
                          ("spans", pa.list_(_SPAN))])
MEDIA_COLS = ("media_ref", "content", "fmt", "width", "height",
              "truth_lines")
MEDIA_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("content", pa.binary()),
    ("fmt", pa.string()), ("width", pa.int32()), ("height", pa.int32()),
    ("truth_lines", pa.list_(pa.string())),
])

# Span-sequence digest over (kind, text, media_ref, order): the encoding
# the committed goldens in fixtures/truth/extract_pipeline.parquet use.
_NULL, _FIELD_SEP, _SPAN_SEP = "∅", "\x1e", "\x1f"


def spans_digest(spans_out) -> str:
    parts = [
        _FIELD_SEP.join((kind, _NULL if text is None else text,
                         _NULL if ref is None else ref, str(offset)))
        for kind, text, ref, offset in spans_out
    ]
    return hashlib.md5(_SPAN_SEP.join(parts).encode("utf-8")).hexdigest()


def spark_spans_digest(col: str):
    """:func:`spans_digest` as a Spark expression, so that the check
    collects a digest per document instead of its spans."""
    def field(v):
        return F.coalesce(v, F.lit(_NULL))

    return F.md5(F.array_join(F.transform(col, lambda s: F.concat_ws(
        _FIELD_SEP, s.kind, field(s.text), field(s.media_ref),
        s.offset.cast("string"))), _SPAN_SEP))


def expected_row(span_row: dict, media_by_ref: dict,
                 cfg: PipelineConfig) -> tuple:
    """(doc_id, spans digest, n_spans, fields tuple, errors tuple)."""
    exp = expected_document(span_row, media_by_ref, cfg)
    return (
        exp["doc_id"],
        spans_digest(exp["spans_out"]),
        len(exp["spans_out"]),
        tuple(exp["fields"][k] for k in FIELD_ORDER),
        tuple(tuple(e) for e in exp["errors"]),
    )


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _media_rows(media: list[dict]) -> list[dict]:
    return [{k: m[k] for k in MEDIA_COLS} for m in media]


def dir_bytes(path: str) -> int:
    """Committed parquet bytes under ``path``."""
    return sum(os.path.getsize(f) for f in
               glob.glob(os.path.join(path, "**", "*.parquet"),
                         recursive=True))


# ---------------------------------------------------------------- extract


class ExtractMixed:
    """``EXTRACT_DOCS`` documents, default mix, through
    ``lineage.run_resumable`` into an ``EXTRACT_BUCKETS``-bucket
    partitioned sink, lineage committed."""

    name = "extract_mixed"
    fixed_ops = None
    n_docs = EXTRACT_DOCS

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.cfg = PipelineConfig()
        self._ops: list[tuple[str, str, str]] = []  # (sink, lineage, run)

    def generate(self, dest: str) -> None:
        spans, media = [], []
        for d in range(self.n_docs):
            span_row, doc_media = build_doc(self.seed, d)
            spans.append(span_row)
            media.extend(doc_media)
        _write(spans, SPANS_SCHEMA, f"{dest}/spans/part-0.parquet")
        _write(_media_rows(media), MEDIA_SCHEMA,
               f"{dest}/media/part-0.parquet")
        self.inputs = dest
        self.span_rows, self.media_rows = spans, media

    def load(self, spark) -> None:
        self.spans_df = spark.read.parquet(f"{self.inputs}/spans")
        self.media_df = spark.read.parquet(f"{self.inputs}/media")

    def start_lane(self, spark, lane: int) -> None:
        """Operations are independent: a lane needs no history."""

    def op(self, spark, i: int, lane: int = 0) -> int:
        """One timed operation: a fresh resumable run over the whole input.
        Returns the documents it processed."""
        op = (f"{self.work}/sink{lane}.{i}", f"{self.work}/lineage{lane}.{i}",
              f"bench{lane}.{i}")
        self._resumable(spark, *op)
        self._ops.append(op)
        return self.n_docs

    def _resumable(self, spark, out: str, lin: str, run_id: str) -> None:
        from ocr_spark.lineage import run_resumable

        run_resumable(spark, self.spans_df, self.media_df, out, lin,
                      run_id=run_id, n_buckets=EXTRACT_BUCKETS, cfg=self.cfg)

    def after_traced_op(self, spark, tracer, lane: int) -> dict[str, float]:
        return {}

    def traced_layers(self, spark, tracer, walls: list[float],
                      m: dict[str, float]) -> dict[str, float]:
        """Lineage cost around the pipeline, and the curation layers.
        ``walls`` are the traced run's untraced operation walls; ``m``
        holds the pipeline layers already measured."""
        from perfbench import layers as L

        with tracer.span("lineage.resume_noop") as rec:
            self._resumable(spark, *self._ops[-1])
        out = {"lineage.resume_noop.s": L.wall(rec),
               "lineage.sink_commit.s": (statistics.median(walls)
                                         - m["pipeline.run_extraction.s"])}
        out.update(L.curate_layers(spark, tracer, self.seed, self.work))
        return out

    def sink_bytes_per_doc(self) -> float:
        return statistics.median(dir_bytes(out) / self.n_docs
                                 for out, _, _ in self._ops)

    @functools.cached_property
    def expected(self) -> dict[str, tuple]:
        media_by_ref = {m["media_ref"]: m for m in self.media_rows}
        return {r[0]: r for r in (expected_row(s, media_by_ref, self.cfg)
                                  for s in self.span_rows)}

    def check(self, spark) -> list[str]:
        """Per operation: every committed document equals the oracle, and
        lineage shows docs_in == docs_out == n.  Returns one message per
        failed operation."""
        from ocr_spark.lineage import LINEAGE_SCHEMA

        def tagged(paths, read):
            return functools.reduce(lambda a, b: a.unionByName(b), (
                read(p).withColumn("_op", F.lit(i))
                for i, p in enumerate(paths)))

        got: list[dict] = [{} for _ in self._ops]
        sinks = tagged([out for out, _, _ in self._ops], spark.read.parquet)
        for r in sinks.select(
                "_op", "doc_id", spark_spans_digest("spans_out").alias("d"),
                F.size("spans_out").alias("n"), "fields", "errors",
        ).toArrow().to_pylist():
            got[r["_op"]][r["doc_id"]] = (
                r["doc_id"], r["d"], r["n"],
                tuple(r["fields"][k] for k in FIELD_ORDER),
                tuple((e["offset"], e["media_ref"], e["error"])
                      for e in r["errors"]),
            )
        lineage = {r._op: (r.i, r.o) for r in tagged(
            [lin for _, lin, _ in self._ops],
            spark.read.schema(LINEAGE_SCHEMA).parquet,
        ).groupBy("_op").agg(F.sum("docs_in").alias("i"),
                             F.sum("docs_out").alias("o")).collect()}
        want = self.expected
        failures = []
        for i, (out, lin, _) in enumerate(self._ops):
            if got[i] != want:
                bad = sorted(k for k in want.keys() | got[i].keys()
                             if want.get(k) != got[i].get(k))
                failures.append(f"{out}: {len(bad)} documents differ from "
                                f"the oracle, e.g. {bad[:3]}")
            elif lineage.get(i) != (self.n_docs, self.n_docs):
                failures.append(f"{lin}: (docs_in, docs_out) = "
                                f"{lineage.get(i)}, n={self.n_docs}")
        return failures


# ----------------------------------------------------------------- ingest

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _framed(s: str) -> str:
    return f"{len(s)}:{s}"


def dedup_key(spans_out) -> str | None:
    """Python twin of ``md5(norm_text(ingest.serialized_spans(...)))``'s
    input: length-framed fields, NULL as '', then Spark's whitespace
    collapse, space-trim and lower-casing.  None for an empty sequence
    (such documents are never screened)."""
    if not spans_out:
        return None
    ser = "\x1e".join(
        "\x1f".join(_framed("" if v is None else str(v))
                    for v in (kind, text, ref, offset))
        for kind, text, ref, offset in spans_out
    )
    return _JAVA_WS.sub(" ", ser).strip(" ").lower()


class IngestMicrobatch:
    """Successive ``ingest.extract_ingest_batch`` calls into one
    ``tableio.ParquetManifestIO`` store that gains one snapshot per batch,
    so the store read grows as writes accumulate.  Later batches re-send
    earlier content under new ids.

    A lane is one store with its own output: every lane gets the same
    batches in the same order, so batch ``i`` reads a store of the same
    size on every lane."""

    name = "ingest_microbatch"
    fixed_ops = INGEST_TIMED
    batch_docs = INGEST_BATCH_DOCS

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.cfg = PipelineConfig()
        self._ops: list[tuple[int, int]] = []  # committed (lane, batch id)
        self._stores: dict[int, object] = {}
        self._traced_stats: list[dict] = []

    def _batch_rows(self) -> tuple[list[list[dict]], list[dict]]:
        batches, media = [], []
        for b in range(WARM_OPS + INGEST_TIMED):
            rows = []
            for d in range(b * self.batch_docs, (b + 1) * self.batch_docs):
                span_row, doc_media = build_doc(self.seed, d)
                media.extend(doc_media)
                rng = Random(f"{self.seed}/reuse/{d}")
                if b and rng.random() < INGEST_REUSE:
                    src, _ = build_doc(
                        self.seed, rng.randrange(b * self.batch_docs))
                    span_row = {"doc_id": span_row["doc_id"],
                                "spans": src["spans"]}
                rows.append(span_row)
            batches.append(rows)
        return batches, media

    def generate(self, dest: str) -> None:
        batches, media = self._batch_rows()
        for b, rows in enumerate(batches):
            _write(rows, SPANS_SCHEMA, f"{dest}/spans{b}/part-0.parquet")
        _write(_media_rows(media), MEDIA_SCHEMA,
               f"{dest}/media/part-0.parquet")
        self.inputs = dest
        self.batch_rows, self.media_rows = batches, media

    def load(self, spark) -> None:
        self.batch_dfs = [spark.read.parquet(f"{self.inputs}/spans{b}")
                          for b in range(len(self.batch_rows))]
        self.media_df = spark.read.parquet(f"{self.inputs}/media")
        # batch 0 is the span input of the per-layer pipeline attribution
        self.spans_df = self.batch_dfs[0]
        self.span_rows = self.batch_rows[0]

    def _out(self, lane: int) -> str:
        return f"{self.work}/ingested{lane}"

    def _store(self, lane: int):
        from ocr_spark.tableio import ParquetManifestIO

        if lane not in self._stores:
            self._stores[lane] = ParquetManifestIO(f"{self.work}/store{lane}")
        return self._stores[lane]

    def start_lane(self, spark, lane: int) -> None:
        """The warm-up batches, untimed, so the lane's first timed batch
        reads a store of the same size as on lane 0."""
        for i in range(WARM_OPS):
            self.op(spark, i, lane)

    def op(self, spark, i: int, lane: int = 0) -> int:
        """One timed operation: batch ``i`` into the lane's store."""
        from ocr_spark.ingest import extract_ingest_batch

        stats = extract_ingest_batch(
            spark, self.batch_dfs[i], self.media_df, i, self._store(lane),
            self._out(lane), cfg=self.cfg, stream_id="bench",
        )
        if stats.get("replayed"):
            raise RuntimeError(f"lane {lane} batch {i} replayed")
        self._ops.append((lane, i))
        self.last_stats = stats
        return self.batch_docs

    def after_traced_op(self, spark, tracer, lane: int) -> dict[str, float]:
        """A timed read of the lane's whole store after each traced batch."""
        from perfbench import layers as L

        self._traced_stats.append(self.last_stats)
        with tracer.span("tableio.read") as rec:
            self._store(lane).read(spark, "doc_digests").count()
        return {"tableio.read.s": L.wall(rec)}

    def traced_layers(self, spark, tracer, walls: list[float],
                      m: dict[str, float]) -> dict[str, float]:
        """``walls`` are the untraced lane's batch walls, in batch order."""
        stats = self._traced_stats
        return {
            "ingest.extract_ingest_batch.s.first": walls[0],
            "ingest.extract_ingest_batch.s.med": statistics.median(walls),
            "ingest.extract_ingest_batch.s.last": walls[-1],
            "tableio.snapshots": len(
                self._store(max(self._stores)).snapshots("doc_digests")),
            "ingest.kept_frac": (
                sum(b["docs_kept"] + b["docs_empty"] for b in stats)
                / sum(b["docs_in"] for b in stats)),
        }

    def sink_bytes_per_doc(self) -> float:
        """Lane 0's committed output bytes over the documents it kept."""
        kept = sum(len(self.expected[b]) for lane, b in self._ops if lane == 0)
        return dir_bytes(self._out(0)) / kept

    @functools.cached_property
    def expected(self) -> list[set[str]]:
        """Kept ids per batch: the first occurrence of each content key,
        batches in order and the smallest id first within a batch."""
        media_by_ref = {m["media_ref"]: m for m in self.media_rows}
        seen: set[str] = set()
        kept = []
        for rows in self.batch_rows:
            ids = set()
            for row in sorted(rows, key=lambda r: r["doc_id"]):
                exp = expected_document(row, media_by_ref, self.cfg)
                key = dedup_key(exp["spans_out"])
                if key is None or key not in seen:
                    ids.add(row["doc_id"])
                    if key is not None:
                        seen.add(key)
            kept.append(ids)
        return kept

    def check(self, spark) -> list[str]:
        """Per lane and batch: the ids the batch's output partition holds
        equal the oracle's kept ids."""
        failures = []
        for lane in sorted(self._stores):
            done = {b for ln, b in self._ops if ln == lane}
            got: dict[int, set[str]] = {b: set() for b in done}
            for r in spark.read.parquet(self._out(lane)).select(
                    "batch_id", "doc_id").collect():
                got.setdefault(r.batch_id, set()).add(r.doc_id)
            for b, ids in sorted(got.items()):
                want = self.expected[b] if b in done else set()
                if ids != want:
                    failures.append(
                        f"lane {lane} batch {b}: kept {len(ids)} ids, oracle "
                        f"{len(want)}; e.g. {sorted(ids ^ want)[:3]}")
        return failures


WORKLOADS = {w.name: w for w in (ExtractMixed, IngestMicrobatch)}
