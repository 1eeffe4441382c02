"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "docs_per_sec": ...}

Per-query timing forces *full* materialization via the noop data source
(`count()` alone would let Catalyst prune expensive columns like the
extraction-field struct and understate the work).

Noise bracketing: wall-clock noise at the sub-2-second scale was
measured at ±50-100% on a shared VM, so the suite runs
$BENCH_ROUNDS (default 2) full round-robin passes and reports the
per-query MIN, with a fixed-cost CPU control query interleaved once per
round — the control's own spread separates host noise from genuine plan
regressions when comparing rounds.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "extract_pipeline",      # the flagship: docs/sec end-to-end
    "dedup_minhash_lsh",
    "dedup_incremental",     # delta-vs-committed-store pairing
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "ann_cosine_topk",
    "ann_lsh_pairs",
    "text_ann_pairs",        # text → embed_hash → LSH chain
    "doc_stats",             # fused per-doc panel: quality, langid,
    #                          fingerprint, PII scrub, simhash, probe
    "lm_score",              # corpus unigram-surprisal scoring
    "dedup_exact",
    "strip_dup_passages",    # k-gram substring dedup + token cut
    "lineitem_pricing",
    "orders_by_segment",
    "events_sessions_stream",  # sessionization via the streaming drain
    "events_dedup_stream",   # stateful streaming drain (checkpointed)
]


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return -1


def _control_run(spark) -> float:
    """Fixed-cost pure-CPU burn (no I/O, no shuffle): 3e8 xxhash64 folds.
    Identical work every invocation, so its wall-clock spread across
    rounds measures the HOST's noise floor, not the engine's."""
    t0 = time.monotonic()
    # pmod bounds the summand so the 3e8-row sum cannot overflow bigint
    # under ANSI mode (raw xxhash64 values are ±2^63)
    spark.range(300_000_000).selectExpr(
        "sum(pmod(xxhash64(id), 1000000)) AS s"
    ).collect()
    return time.monotonic() - t0


def _timed_extract(spark, sf_dir: str) -> float:
    """Flagship docs/sec measurement: pipeline over a PRE-MATERIALIZED
    parquet corpus (production input is a table scan; timing the python
    corpus generator would confound the number — same methodology as
    tools/scaling_bench.py), warm started, min of 2 runs."""
    from ocr_spark.corpus import corpus_dataframes_distributed, docs_count_for_sf
    from ocr_spark.pipeline import run_extraction

    n = docs_count_for_sf(spark, sf_dir)
    # Per-uid path: a fixed shared /tmp dir is unwritable for the second
    # user on a multi-user host (same reasoning as
    # driver_contract._stream_workdir); cleaned up after the timed runs.
    base = f"/tmp/ocr_spark_bench_extract_{os.getuid()}"
    spans, media = corpus_dataframes_distributed(spark, seed=42, n_docs=n)
    spans.write.mode("overwrite").parquet(f"{base}/spans")
    media.write.mode("overwrite").parquet(f"{base}/media")
    try:
        sp = spark.read.parquet(f"{base}/spans")
        md = spark.read.parquet(f"{base}/media")
        out = run_extraction(spark, sp, md)
        _materialize(out)  # warmup
        walls = []
        for _ in range(2):
            t0 = time.monotonic()
            _materialize(out)
            walls.append(time.monotonic() - t0)
        return min(walls)
    finally:
        import shutil

        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    from ocr_spark.driver_contract import registry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not cpus.isdigit():  # '*' is valid for get_spark; resolve it here
        cpus = str(os.cpu_count() or 8)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = get_spark(
        "ocr-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    reg = registry()
    rounds = max(1, int(os.environ.get("BENCH_ROUNDS", "2")))
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    controls: list[float] = []
    _control_run(spark)  # discarded: the first run's JIT/page-cache
    #                      warmup is not host noise (measured in an A/B)
    for r in range(rounds):
        controls.append(round(_control_run(spark), 3))
        for name in HEADLINE:
            if name == "extract_pipeline":
                if r == 0:  # already warm-started min-of-2 internally
                    samples[name].append(
                        round(_timed_extract(spark, sf_dir), 3)
                    )
                continue
            fn, _sql = reg[name]
            t0 = time.monotonic()
            _materialize(fn(spark, sf_dir))
            samples[name].append(round(time.monotonic() - t0, 3))
            # The minhash operators persist their shingle base
            # (persist_base default); drop any cached data so one query's
            # cache never occupies storage memory while later queries are
            # timed.
            spark.catalog.clearCache()
    timings = {n: min(ts) for n, ts in samples.items()}
    # worst per-query (max-min)/min across rounds: the measured noise
    # this run; compare against the control spread before blaming a plan
    # default=0.0: with rounds > 1 every sub-millisecond query rounds to
    # 0.000 before min(), so the genexpr can be EMPTY — max() without a
    # default would crash the bench after all queries already ran
    spread = max(
        (
            (max(ts) - min(ts)) / min(ts)
            for ts in samples.values() if len(ts) > 1 and min(ts) > 0
        ),
        default=0.0,
    ) if rounds > 1 else 0.0

    # docs/sec for the flagship: corpus size == documents rowcount at SF
    # (same helper _timed_extract uses — one definition of the SF size)
    from ocr_spark.corpus import docs_count_for_sf

    n_docs = docs_count_for_sf(spark, sf_dir)
    extract_s = timings["extract_pipeline"]
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs_per_sec": round(n_docs / extract_s, 2) if extract_s else None,
        "n_docs": n_docs,
        "cpus": int(cpus),
        "rounds": rounds,
        "control_sec": controls,
        "max_query_spread_frac": round(spread, 3),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
