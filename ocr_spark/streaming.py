"""Structured-Streaming surface: incremental ingestion plus the canonical
streaming shapes a large-scale event pipeline needs.

1. ``run_streaming_extraction`` — the continuous-ingestion adapter: a
   file-source stream of ``documents_spans`` rows drives the IDENTICAL
   batch pipeline per micro-batch through ``foreachBatch`` (the reference
   has no streaming semantics — SURVEY.md §2.10 — so each document is
   complete within its row and a micro-batch is just a small batch run).
   Output partitioned by ``batch_id`` with dynamic overwrite →
   effectively-once on top of the offset checkpoint.
2. ``stream_windowed_counts`` — watermarked event-time tumbling-window
   aggregation in APPEND mode: a window row is emitted exactly once, when
   the watermark passes its end; data later than the watermark is dropped
   by the engine.  The streaming twin of the batch ``events_hourly``
   contract query.
3. ``sessionize_stream`` — custom stateful operator via
   ``applyInPandasWithState``: per-user gap-based sessionization with
   event-time timeouts.  State buffers EVERY not-yet-final session (the
   open one plus gap-closed ones still reopenable by a within-watermark
   event); a session is emitted exactly once, when the watermark
   guarantees no in-order event can extend or bridge it.  The streaming
   twin of the batch ``events_sessions`` contract query.
4. ``stream_dedup_exact`` — bounded-state streaming exact-dedup via
   ``dropDuplicatesWithinWatermark``: first occurrence per key emitted
   once, state evicted at the watermark horizon.  The streaming twin of
   ``SELECT DISTINCT`` / batch ``dedup_exact``.

The ``drain_*`` helpers run each operator over a finite input with
``availableNow`` and return the finalized result as a batch DataFrame —
that is how the streaming operators sit under the same hard DuckDB oracle
gate as their batch twins (driver_contract ``events_*_stream`` rows).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import PipelineConfig
from ocr_spark.fixtures import SPANS_SCHEMA_DDL
from ocr_spark.ingest import _start_ingest_stream, _write_batch_partition
from ocr_spark.pipeline import run_extraction

EVENTS_STREAM_DDL = "user_id bigint, ts timestamp, event_type string, value double"


def _start_append_stream(df, out_dir: str, checkpoint_dir: str,
                         available_now: bool):
    """Shared parquet APPEND writer (one place for the write contract)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_streaming_extraction(
    spark: SparkSession,
    input_dir: str,
    media_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
):
    """Stream span-row parquet files from ``input_dir`` through the batch
    pipeline; append extracted documents to ``out_dir``.

    ``available_now=True`` drains everything currently present and stops
    (the incremental-batch mode); ``False`` keeps running for continuous
    ingestion.  Returns the StreamingQuery.
    """
    cfg = cfg or PipelineConfig()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch may replay a batch after a crash between the data
        # write and the streaming commit log; dynamic overwrite of the
        # batch_id partition makes the replay idempotent.
        _write_batch_partition(
            run_extraction(spark, batch_df, media_df, cfg), batch_id, out_dir
        )

    return _start_ingest_stream(
        spark, SPANS_SCHEMA_DDL, input_dir, checkpoint_dir, process_batch,
        available_now, max_files_per_trigger=8,
    )


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Watermarked tumbling-window counts/sums over an event file stream.

    APPEND output mode: a window's single final row is emitted when the
    watermark (max event time − ``watermark``) passes the window end, and
    events arriving later than the watermark are dropped by the engine —
    the standard late-data contract.  State per open window is bounded by
    the watermark horizon.
    """
    stream = (
        spark.readStream.schema(EVENTS_STREAM_DDL)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
    )
    agg = (
        stream.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum → double: deterministic across row orders,
            # so the streamed result hash-matches its batch twin.
            # decimal(28,4), not (18,4): 14 integer digits already
            # overflow (18,4) — a query-killing cast error under ANSI
            # (the Spark 4 default) or a silently dropped addend with
            # ANSI off.  (28,4) holds |value| < 1e24 and its sum still
            # widens exactly to decimal(38,4) in both engines; the
            # DuckDB oracle (SQL_EVENTS_HOURLY) casts identically.
            F.sum(F.col("value").cast("decimal(28,4)"))
            .cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _start_append_stream(agg, out_dir, checkpoint_dir, available_now)


EVENTS_DEDUP_DDL = (
    "event_id bigint, user_id bigint, ts timestamp, event_type string, "
    "value double"
)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Stateful streaming EXACT-DEDUP: emit the first occurrence of each
    key, drop later copies — the streaming twin of batch ``dedup_exact`` /
    ``SELECT DISTINCT``.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    EVICTS it once the watermark passes the key's event time + the
    watermark delay, so state is bounded by the duplicate-arrival horizon
    instead of growing with the full key cardinality (the plain
    ``dropDuplicates`` trap on unbounded streams).  A duplicate arriving
    after its key's state was evicted is re-emitted — the standard
    bounded-state contract; size ``watermark`` to the real replay window.
    First occurrences are emitted immediately (no finalization wait)."""
    stream = (
        spark.readStream.schema(EVENTS_DEDUP_DDL)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
    )
    deduped = stream.dropDuplicatesWithinWatermark(list(key_cols))
    return _start_append_stream(deduped, out_dir, checkpoint_dir,
                                available_now)


SESSION_OUT_DDL = (
    "user_id bigint, session_start double, session_end double, "
    "n_events bigint"
)
# Parallel arrays of buffered sessions (start, end, n) — the LAST may be
# open; earlier ones are gap-closed but still reopenable (end+gap above the
# watermark) so they stay in state until the watermark passes end+gap.
SESSION_STATE_DDL = "ss array<double>, es array<double>, ns array<bigint>"


def merge_session_intervals(
    ivals: list[tuple[float, float, int]], gap_s: float
) -> list[tuple[float, float, int]]:
    """Merge (start, end, n) intervals whose gap is ≤ ``gap_s``, in start
    order.  Shared by the stateful stream (where one interval is the
    checkpointed open session and the rest are the batch's events) so
    out-of-order-but-within-watermark events merge correctly — including
    ones EARLIER than the open session's start (they lower it, or form
    their own earlier session when the backward gap exceeds ``gap_s``)."""
    merged: list[tuple[float, float, int]] = []
    for s, e, c in sorted(ivals):
        if merged and s - merged[-1][1] <= gap_s:
            ms, me, mc = merged[-1]
            merged[-1] = (ms, max(me, e), mc + c)
        else:
            merged.append((s, e, c))
    return merged


def sessionize_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_s: float = 1800.0,
    watermark: str = "30 minutes",
    available_now: bool = True,
):
    """Gap-based per-user sessionization as a CUSTOM STATEFUL operator
    (``applyInPandasWithState`` + event-time timeout).

    State per user is the LIST of sessions not yet finalized: the open one
    plus any gap-closed sessions whose ``end + gap_s`` is still above the
    watermark (a within-watermark out-of-order event arriving in a later
    batch may fall inside such a session's span or gap, so emitting it
    early would split what the batch ``events_sessions`` twin merges into
    one).  Each invocation merges the batch's events with every buffered
    interval, emits exactly the sessions with ``end + gap_s`` ≤ the
    current watermark (no in-order event can ever reopen them), and keeps
    the rest in state with an event-time timeout at the earliest
    still-buffered ``end + gap_s`` — so every session is emitted exactly
    once, and only when it is final w.r.t. the watermark contract.
    Events LATER than the watermark are dropped by the engine's late-row
    filter (the same contract as the windowed aggregation).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # The stateful function reads event times via pandas .timestamp(),
    # which treats the tz-naive values Arrow delivers as UTC — only
    # correct when the session renders timestamps in UTC (get_spark pins
    # this).  Enforce rather than silently shift every session by the
    # JVM's tz offset (and trip the timeout-below-watermark check).
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz.upper() not in ("UTC", "GMT", "ETC/UTC", "Z"):
        raise ValueError(
            f"sessionize_stream requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}); see ocr_spark.session.get_spark"
        )

    def sessionize(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        user = key[0]
        wm_ms = state.getCurrentWatermarkMs()
        wm_s = wm_ms / 1000.0

        ivals: list[tuple[float, float, int]] = []
        if not state.hasTimedOut:
            # dropna, NOT a per-element `is not None`: Arrow delivers a
            # NULL ts as pd.NaT (which IS not None), and NaT.timestamp()
            # raises — a single null-ts event would kill the whole
            # query.  The engine's late-row filter does NOT drop such
            # rows (NULL < watermark evaluates NULL → treated as
            # not-late), so they really do reach this operator; dropping
            # them matches the batch twin (GROUP BY over ts excludes
            # NULL event times).  The int64-ns view is the vectorized
            # equivalent of per-element .timestamp() (tz-naive == UTC,
            # enforced above).
            for pdf in pdfs:
                secs = pdf["ts"].dropna().astype("int64") / 1e9
                ivals.extend((s, s, 1) for s in secs)
        if state.exists:
            ss, es, ns = state.get
            ivals.extend(
                (float(s), float(e), int(n))
                for s, e, n in zip(ss, es, ns)
            )
        merged = merge_session_intervals(ivals, gap_s)
        # final ⇔ no in-order event can extend or bridge it.  Measured on
        # this engine (see test_sessionize_*): the stateful late filter
        # admits only ts STRICTLY ABOVE the watermark, so even at
        # end+gap == wm no admissible event can merge — both < and <=
        # are correct here; strict < is kept as the conservative boundary
        # that stays correct even if the engine filter admitted equality.
        emit = [iv for iv in merged if iv[1] + gap_s < wm_s]
        keep = [iv for iv in merged if iv[1] + gap_s >= wm_s]
        if keep:
            state.update((
                [s for s, _, _ in keep],
                [e for _, e, _ in keep],
                [int(n) for _, _, n in keep],
            ))
            # fire when the watermark passes the earliest close horizon;
            # ms floor could land on the watermark itself, which Spark
            # rejects — clamp to wm+1
            t_ms = int(min(e + gap_s for _, e, _ in keep) * 1000)
            state.setTimeoutTimestamp(max(t_ms, wm_ms + 1))
        elif state.exists:
            state.remove()
        if emit:
            yield pd.DataFrame(
                [{"user_id": user, "session_start": s, "session_end": e,
                  "n_events": c} for s, e, c in emit]
            )

    stream = (
        spark.readStream.schema(EVENTS_STREAM_DDL)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=SESSION_OUT_DDL,
        stateStructType=SESSION_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _start_append_stream(sessions, out_dir, checkpoint_dir,
                                available_now)


# --------------------------------------------------------------------------
# Batch-equivalence drains: run the streaming operator over a finite event
# set and return the full finalized result as a batch DataFrame.  APPEND
# mode only emits rows once the watermark passes their horizon, so a
# sentinel row placed far past the real data drives the final watermark
# beyond every real window/session; the sentinel's own (never-finalized)
# group is filtered out of the read-back.  This is how the streaming
# operators go under the same hard oracle gate as their batch twins.
# --------------------------------------------------------------------------

STREAM_SENTINEL_EVENT_TYPE = "\x00__watermark_driver__"
STREAM_SENTINEL_USER = -987654321

# Stateful stages inherit spark.sql.shuffle.partitions at FIRST start and
# bake it into the checkpoint; a fresh small drain with the 200-partition
# default pays ~200 state-store + python-worker invocations per batch for
# a handful of keys.  The drains run on fresh checkpoints, so pin a count
# sized for the drained data and restore the session value afterwards.
# 8 measured best at sf0.1 (100k events / 1.5k users, local[32], min of
# 2): sessions 11.5 -> 9.7 s, dedup 2.3 -> 1.3 s, windowed 6.7 -> 6.1 s
# vs 32 — per-partition state-store + pandas-state-worker startup is the
# fixed cost, and 2 loses the parallelism back (sessions 13.6 s).  A
# drain over much larger finite inputs should pass ``state_partitions``
# to re-widen (the production streams keep the session's own setting).
DRAIN_STATE_PARTITIONS = 8


class _shuffle_partitions:
    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


_INTERVAL_UNITS = {
    "second": 1.0, "seconds": 1.0, "minute": 60.0, "minutes": 60.0,
    "hour": 3600.0, "hours": 3600.0, "day": 86400.0, "days": 86400.0,
}


def interval_seconds(interval: str) -> float:
    """Seconds of a simple ``'<n> <unit>'`` interval string (the subset
    the drains accept).  Single source for the sentinel-lead arithmetic —
    a hand-duplicated seconds parameter silently desynchronizing from the
    string left the last windows unfinalized."""
    parts = interval.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _INTERVAL_UNITS:
        raise ValueError(
            f"unsupported interval {interval!r}: use '<n> "
            f"second(s)|minute(s)|hour(s)|day(s)'"
        )
    return float(parts[0]) * _INTERVAL_UNITS[parts[1].lower()]


def _await_drain(query, timeout_s: int) -> None:
    """awaitTermination returns False on timeout WITHOUT raising; reading
    the output directory of a still-running drain would return a partial
    result that surfaces as a confusing oracle mismatch downstream —
    fail loudly and stop the straggler instead."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"stream drain did not finish within {timeout_s}s"
        )


def _fresh_drain_dirs(*dirs: str) -> None:
    """A drain is ONE-SHOT: it writes a fresh input, runs an availableNow
    stream to completion, and reads the full output directory back.  A
    reused ``work_dir`` breaks both halves silently — the retained
    checkpoint treats the overwritten input's new part-file as more data
    for the OLD run, and the read-back unions the previous drain's
    output part-files with this run's.  Each drain therefore owns its
    ``out/`` and ``ckpt/`` subdirs and clears them up front (``in/`` is
    already ``mode('overwrite')``-owned)."""
    import shutil

    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _require_no_sentinel_collision(
    spark: SparkSession, inp: str, col: str, sentinel,
) -> None:
    """The sentinel-bearing drains finalize real windows/sessions by
    appending ONE in-band row past the watermark and filtering it back
    out of the result — so a REAL input row that happens to carry the
    sentinel value (``user_id`` = :data:`STREAM_SENTINEL_USER`,
    ``event_type`` = :data:`STREAM_SENTINEL_EVENT_TYPE`) would be
    silently dropped with it.  Counting sentinel matches in the
    just-written single-file input (one narrow column scan — no upstream
    recompute) fails fast on the collision instead: exactly one match is
    the drain's own sentinel."""
    n = (
        spark.read.parquet(inp)
        .filter(F.col(col).eqNullSafe(F.lit(sentinel)))
        .count()
    )
    if n != 1:
        raise ValueError(
            f"events input contains {n - 1} row(s) whose {col} equals "
            f"the drain's in-band watermark sentinel ({sentinel!r}); "
            "they would be silently filtered out of the drained result — "
            "remap that value before draining"
        )


def _sentinel_row(spark, events: DataFrame, lead_s: float,
                  event_type: str = "a", user_id: int = 1) -> DataFrame:
    """One row ``lead_s`` seconds past the max event time (one-scalar
    driver read — not a data-cardinality collect)."""
    max_ts = events.agg(F.max("ts").alias("m")).first()["m"]
    if max_ts is None:
        # Zero rows (or all-NULL ts) would yield a NULL-ts sentinel: the
        # watermark never advances, the drain emits nothing, and reading
        # the empty output directory dies in parquet schema inference —
        # fail here with the actual cause instead.
        raise ValueError(
            "cannot drain an empty events input (no non-null ts to anchor "
            "the watermark sentinel); nothing would ever be emitted"
        )
    return spark.createDataFrame(
        [(user_id, max_ts, event_type, 0.0)], EVENTS_STREAM_DDL
    ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {int(lead_s)} SECOND"))


def drain_windowed_counts(
    spark: SparkSession, events: DataFrame, work_dir: str,
    window: str = "1 hour", watermark: str = "2 hours",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain ``stream_windowed_counts`` over ``events`` (columns per
    ``EVENTS_STREAM_DDL``) until every real window is finalized; return
    the emitted rows.  The sentinel event type's own rows are excluded."""
    inp, out, ckpt = (f"{work_dir}/{d}" for d in ("in", "out", "ckpt"))
    # wm delay + window + slack, derived from the ACTUAL parameters so a
    # non-default window/watermark cannot leave the last windows unemitted
    lead = interval_seconds(watermark) + interval_seconds(window) + 3600
    sent = _sentinel_row(spark, events, lead,
                         event_type=STREAM_SENTINEL_EVENT_TYPE)
    _fresh_drain_dirs(out, ckpt)
    events.unionByName(sent).coalesce(1).write.mode("overwrite").parquet(inp)
    _require_no_sentinel_collision(
        spark, inp, "event_type", STREAM_SENTINEL_EVENT_TYPE)
    with _shuffle_partitions(
            spark, state_partitions or DRAIN_STATE_PARTITIONS):
        q = stream_windowed_counts(spark, inp, out, ckpt, window=window,
                                   watermark=watermark, available_now=True)
        _await_drain(q, 300)
    return (
        spark.read.parquet(out)
        # ~eqNullSafe, not !=: a NULL-event_type group is a real result
        # row (the batch twin's GROUP BY keeps the NULL group), and
        # `NULL != sentinel` evaluates NULL → plain != would silently
        # drop it along with the sentinel.
        .filter(~F.col("event_type").eqNullSafe(STREAM_SENTINEL_EVENT_TYPE))
    )


def drain_dedup_exact(
    spark: SparkSession, events: DataFrame, work_dir: str,
    key_cols: tuple[str, ...] = ("event_id",), watermark: str = "2 hours",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain ``stream_dedup_exact`` over ``events`` (columns per
    ``EVENTS_DEDUP_DDL``, duplicates included) and return the emitted
    first-occurrences.  No sentinel needed: dedup emits immediately."""
    inp, out, ckpt = (f"{work_dir}/{d}" for d in ("in", "out", "ckpt"))
    if events.isEmpty():
        # Same contract as _sentinel_row for the other two drains: an
        # empty input would commit zero output files and die later in
        # parquet schema inference — fail here with the actual cause.
        raise ValueError(
            "cannot drain an empty events input (the availableNow stream "
            "would emit nothing and the output read-back would fail in "
            "schema inference)"
        )
    _fresh_drain_dirs(out, ckpt)
    events.coalesce(1).write.mode("overwrite").parquet(inp)
    with _shuffle_partitions(
            spark, state_partitions or DRAIN_STATE_PARTITIONS):
        q = stream_dedup_exact(spark, inp, out, ckpt, key_cols=key_cols,
                               watermark=watermark, available_now=True)
        _await_drain(q, 300)
    return spark.read.parquet(out)


def drain_sessions(
    spark: SparkSession, events: DataFrame, work_dir: str,
    gap_s: float = 1800.0, watermark: str = "10 minutes",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain ``sessionize_stream`` over ``events`` until every real
    session's ``end + gap`` is behind the watermark; return the emitted
    sessions.  The sentinel user's own (still-open) session is excluded."""
    inp, out, ckpt = (f"{work_dir}/{d}" for d in ("in", "out", "ckpt"))
    lead = interval_seconds(watermark) + gap_s + 3600
    sent = _sentinel_row(spark, events, lead, user_id=STREAM_SENTINEL_USER)
    _fresh_drain_dirs(out, ckpt)
    events.unionByName(sent).coalesce(1).write.mode("overwrite").parquet(inp)
    _require_no_sentinel_collision(
        spark, inp, "user_id", STREAM_SENTINEL_USER)
    with _shuffle_partitions(
            spark, state_partitions or DRAIN_STATE_PARTITIONS):
        q = sessionize_stream(spark, inp, out, ckpt, gap_s=gap_s,
                              watermark=watermark, available_now=True)
        _await_drain(q, 300)
    return (
        spark.read.parquet(out)
        # ~eqNullSafe for the same reason as drain_windowed_counts: a
        # NULL-user_id session is a real group and `NULL != sentinel`
        # would silently drop it.
        .filter(~F.col("user_id").eqNullSafe(STREAM_SENTINEL_USER))
    )
