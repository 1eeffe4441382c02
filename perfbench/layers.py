"""Traced run: spans around the benchmark's calls into each layer, plus
per-layer numbers read back from Spark's SQL status store.

Spans are kept in memory and written out once at the end: one JSON list of
``{"run", "id", "name", "start", "end", "parent"}`` records, ``start`` and
``end`` in seconds since the run began, ``parent`` the ``id`` of the
enclosing span (null at the root), ``run`` one id shared by every span of
the run.  A span may carry a ``rows`` count.

Nothing here changes the program: a layer is timed by materializing its
public function's output through the ``noop`` sink, and a layer's self time
is the difference between such prefix timings.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "start": time.monotonic() - self._t0, "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)


def wall(rec: dict) -> float:
    return rec["end"] - rec["start"]


# ------------------------------------------------------ SQL status store

# Spark's Utils.msDurationToString writes "%d ms", "%.1f s", "%.1f m" and
# "%.2f h"; Utils.bytesToString writes B, KiB, MiB, GiB, TiB, PiB, EiB.
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "PiB": 2.0 ** 50, "EiB": 2.0 ** 60, "": 1.0}
_NUM = re.compile(r"(\d[\d.,]*)\s*(ms|m|s|h|B|KiB|MiB|GiB|TiB|PiB|EiB)?\b")


def parse_metric(text: str) -> tuple[float, tuple[float, float, float]]:
    """A status-store metric string → (total, (min, med, max)).  Per-task
    summary metrics read ``total (min, med, max (stageId: taskId))`` on
    one line and ``T (a, b, c (stage s: task t))`` on the next; a metric
    from a single task carries the total alone."""
    line = text.strip().split("\n")[-1]
    line = re.sub(r"\(stage [^)]*\)", "", line)
    vals = [float(n.replace(",", "")) * _UNITS[u or ""]
            for n, u in _NUM.findall(line)]
    total = vals[0] if vals else 0.0
    spread = tuple(vals[1:4]) if len(vals) >= 4 else (total,) * 3
    return total, spread


class StatusStore:
    """Reads the SQL executions that ran since the last :meth:`mark`."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._last_id()

    def _last_id(self) -> int:
        ids = [-1]
        it = self._store.executionsList().iterator()
        while it.hasNext():
            ids.append(it.next().executionId())
        return max(ids)

    def mark(self) -> None:
        self._seen = self._last_id()

    def nodes(self):
        """(node name, {metric name: value string}) of every plan node of
        every execution since the last mark."""
        last = self._last_id()
        for eid in range(self._seen + 1, last + 1):
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                ms, it = {}, node.metrics().iterator()
                while it.hasNext():
                    m = it.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = v.get()
                yield node.name(), ms
        self._seen = last


def spark_layers(store: StatusStore) -> dict[str, float]:
    """Task-summed Python worker init (start + initialize) and run time,
    shuffle bytes written, and the per-task min/med/max Python time of the
    OCR ``mapInPandas`` stage."""
    init = run = shuffle = 0.0
    media: list[tuple[float, float, float]] = []
    for name, ms in store.nodes():
        for key in ("time to start Python workers",
                    "time to initialize Python workers"):
            if key in ms:
                init += parse_metric(ms[key])[0]
        if "time to run Python workers" in ms:
            total, spread = parse_metric(ms["time to run Python workers"])
            run += total
            if name == "MapInPandas" and total > 0:  # 0: served from cache
                media.append(spread)
        if "shuffle bytes written" in ms:
            shuffle += parse_metric(ms["shuffle bytes written"])[0]
    out = {"spark.python_init_task_s": init,
           "spark.python_run_task_s": run, "spark.shuffle_bytes": shuffle}
    if media:
        out["spark.media_task_s.min"] = min(m[0] for m in media)
        out["spark.media_task_s.med"] = statistics.median(m[1] for m in media)
        out["spark.media_task_s.max"] = max(m[2] for m in media)
    return out


# ---------------------------------------------------- layer attribution


def _noop(tracer: Tracer, name: str, df) -> dict:
    """Materialize ``df`` through the noop sink inside a span; the row
    count comes from an observation on the same job (no extra pass)."""
    obs = Observation(name)
    with tracer.span(name) as rec:
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop").mode("overwrite").save()
    rec["rows"] = obs.get["rows"]
    return rec


def pipeline_layers(spark, tracer: Tracer, spans_df, media_df,
                    cfg) -> dict[str, float]:
    """Prefix timings of the flagship plan.  text_path and media_path each
    contain an explode, and the splice contains both paths (each union arm
    re-traverses the scan), so a layer's self time is its prefix minus
    the prefixes it contains.  run_extraction is the whole plan."""
    from ocr_spark import pipeline as P

    exploded = P.explode_spans(spans_df, cfg.max_spans_per_doc)
    ex = _noop(tracer, "pipeline.explode_spans", exploded)
    text = _noop(tracer, "pipeline.text_path", P.text_path(exploded, cfg))
    media = _noop(tracer, "pipeline.media_path",
                  P.media_path(exploded, media_df, cfg))
    spliced = _noop(tracer, "pipeline.splice_documents", P.splice_documents(
        P.text_path(exploded, cfg).unionByName(
            P.media_path(exploded, media_df, cfg)), cfg))
    full = _noop(tracer, "pipeline.run_extraction",
                 P.run_extraction(spark, spans_df, media_df, cfg))
    return {
        "pipeline.explode_spans.s": wall(ex),
        "pipeline.text_path.s": wall(text) - wall(ex),
        "pipeline.media_path.s": wall(media) - wall(ex),
        "pipeline.splice_documents.s":
            wall(spliced) - wall(text) - wall(media),
        "pipeline.run_extraction.s": wall(full),
        "pipeline.explode_spans.rows": ex["rows"],
        "pipeline.text_path.rows": text["rows"],
        "pipeline.media_path.rows": media["rows"],
        "pipeline.splice_documents.rows": spliced["rows"],
        "pipeline.run_extraction.rows": full["rows"],
    }


def _per_call_us(tracer: Tracer, name: str, fn, args: list) -> float:
    with tracer.span(name) as rec:
        for a in args:
            fn(*a)
    rec["rows"] = len(args)
    return wall(rec) / max(1, len(args)) * 1e6


def udf_layers(tracer: Tracer, span_rows: list[dict], media_rows: list[dict],
               cfg) -> dict[str, float]:
    """Per-call cost of the Python functions behind the UDFs, called
    directly on the workload's own spans and images."""
    from ocr_spark.boilerplate import strip_boilerplate
    from ocr_spark.extraction.fields import extract_fields
    from ocr_spark.preproc import get_preprocessor
    from ocr_spark.recognizer import get_recognizer

    recognizer = get_recognizer("fake", cfg.fake_work_iters)
    preprocess = get_preprocessor(cfg.preproc_backend)
    texts = [(s["text"],) for r in span_rows for s in r["spans"]
             if s["kind"] == "text"]
    images = [m["content"] for m in media_rows]
    lines_by_ref = {m["media_ref"]: recognizer.recognize(m["content"]).lines
                    for m in media_rows}
    doc_lines = [([ln for s in r["spans"] if s["kind"] == "media"
                   for ln in lines_by_ref.get(s["media_ref"], [])],
                  cfg.ref_year) for r in span_rows]
    return {
        "boilerplate.strip_boilerplate.us": _per_call_us(
            tracer, "boilerplate.strip_boilerplate", strip_boilerplate,
            texts),
        "extraction.extract_fields.us": _per_call_us(
            tracer, "extraction.extract_fields", extract_fields, doc_lines),
        "recognizer.recognize.us": _per_call_us(
            tracer, "recognizer.recognize", recognizer.recognize,
            [(c, cfg.media_time_budget_s) for c in images]),
        "preproc.preprocess.us": _per_call_us(
            tracer, "preproc.preprocess", preprocess,
            [(c, cfg.deskew, cfg.binarize) for c in images]),
    }


#: curation-layer input: ``corpus.synthetic_documents`` ids
#: [seed * CURATE_DOCS, (seed + 1) * CURATE_DOCS), with the eval set
#: carved out as ids % 17 == 0 and the gate parameters of the
#: ``curate_corpus`` contract query
CURATE_DOCS = 1000


def curate_layers(spark, tracer: Tracer, seed: int,
                  work: str) -> dict[str, float]:
    from ocr_spark.corpus import synthetic_documents
    from ocr_spark.decontam import decontaminate
    from ocr_spark.dedup import dedup_clusters
    from ocr_spark.driver_contract import MINHASH_T
    from ocr_spark.textstats import langid, quality_score, repetition_stats

    synthetic_documents(spark, CURATE_DOCS, start=seed * CURATE_DOCS) \
        .write.parquet(f"{work}/curate_docs")
    docs = spark.read.parquet(f"{work}/curate_docs")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"), "text")
    text = F.col("text")
    spans = [
        _noop(tracer, "textstats.langid",
              docs.select("doc_id", langid(text).alias("l"))),
        _noop(tracer, "textstats.quality_score",
              docs.select("doc_id", quality_score(text, "en").alias("q"))),
        _noop(tracer, "textstats.repetition_stats", repetition_stats(docs)),
        _noop(tracer, "decontam.decontaminate",
              decontaminate(docs, eval_set, n=3, min_overlap=2)),
    ]
    obs = Observation("dedup")
    with tracer.span("dedup.dedup_clusters") as rec:
        dedup_clusters(docs, verify_threshold=MINHASH_T).observe(
            obs, F.sum(F.col("is_canonical").cast("long")).alias("n")
        ).write.format("noop").mode("overwrite").save()
    out = {f"{s['name']}.s": wall(s) for s in spans}
    out["dedup.dedup_clusters.s"] = wall(rec)
    out["dedup.clusters"] = obs.get["n"]
    return out
