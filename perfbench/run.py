"""Repository benchmark: documents/s of end-to-end extraction through the
real sinks, with every run's output checked against the oracle.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

One process, one local Spark JVM on ``local[<cores>]`` with a 2g heap and
``2 × cores`` shuffle partitions.  A run:

1. set-up: session start, input generation from ``--seed`` and its
   materialization to parquet (three times; the median counts), and
   ``WARM_OPS`` warm-up operations;
2. timed operations, closed loop: until ``--seconds`` have passed, or the
   workload's fixed set of operations when it has one;
3. the oracle check of every operation's committed output.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a separate
run that reports the per-layer metrics (see ``layers.py`` and README.md)
and writes its spans under ``.perfbench/``.  Sample counts and the host
stamp are printed above the result, which is the last line of stdout: one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
The exit code is non-zero when an operation failed or its output differs
from the oracle.

All files go to ``.perfbench/`` under the repository root, whatever the
working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
GEN_REPEATS = 3
#: fixed driver heap, committed and touched at JVM start: with a growing
#: heap, when G1 expanded it decided peak_rss_mb (the JVM's RSS ranged
#: 1.07-1.52 GB across extract_mixed runs of the same code)
JVM_HEAP = "2g"
#: pairs of (untraced, traced) operations of a traced run
TRACED_OPS = 2
#: an operation during which the hypervisor gave more than this share of
#: the host's CPU time to other guests is left out of the timing medians,
#: unless every operation of the run was: on 4 cores, 2% steal made an
#: extract_mixed operation ~20% slower
STEAL_MAX = 0.01


def declared(kind: str) -> dict[str, str]:
    """Name → unit of the ``kind`` ("end_to_end" or "per_layer") metrics
    that BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _with_units(values: dict[str, float], kind: str) -> dict:
    units = declared(kind)
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} "
                           "differ from those BENCHMARK.json declares")
    return {k: (values[k], u) for k, u in units.items()}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith(
            "python")
    except OSError:
        return False


class RssPeak:
    """Peak summed RSS of the Spark JVM and its Python workers, sampled
    every 100 ms while running.  Other children of the JVM are left out:
    a child it has spawned but not yet exec'd reports the JVM's whole RSS,
    which once doubled the figure."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self.at_peak: list[int] = []  # per-process RSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(0.1):
            rss = [_rss_bytes(self.jvm_pid)] + [
                _rss_bytes(p) for p in _descendants(self.jvm_pid)
                if _is_python(p)]
            if sum(rss) > self.peak:
                self.peak, self.at_peak = sum(rss), rss

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _cpu_ticks() -> list[int]:
    """The host's aggregate ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """Session pinned to this host's cores, with every scratch file in
    ``work`` and the repository on the Python workers' path."""
    from ocr_spark.session import get_spark

    cores = _cores()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": work,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={work} -Dderby.system.home={work}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def host_stamp(seed: int, workload: str) -> dict:
    import platform

    import pyarrow
    import pyspark

    return {"workload": workload, "seed": seed, "cores": _cores(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


def setup(wl, spark) -> float:
    """Input generation + materialization (median of GEN_REPEATS) plus the
    warm-up operations; returns their seconds."""
    from perfbench.workloads import WARM_OPS

    gens = []
    for r in range(GEN_REPEATS):
        t0 = time.monotonic()
        wl.generate(f"{wl.work}/input{r}")
        gens.append(time.monotonic() - t0)
    wl.load(spark)
    t0 = time.monotonic()
    for i in range(WARM_OPS):
        wl.op(spark, i)
    warm = time.monotonic() - t0
    return statistics.median(gens) + warm


def _steal(cpu0: list[int]) -> float:
    """Share of the host's CPU time since ``cpu0`` that the hypervisor gave
    to other guests."""
    busy = [b - a for a, b in zip(cpu0, _cpu_ticks())]
    return busy[7] / max(1, sum(busy))


def timed_ops(wl, spark, seconds: float):
    """Closed loop of the operations after the warm-up: the workload's
    fixed set, or as many as start before ``seconds`` have passed.  Returns
    (walls, docs per op, host steal per op, failures)."""
    from perfbench.workloads import WARM_OPS

    walls, docs, steal, failures = [], [], [], []
    deadline = time.monotonic() + seconds
    i = WARM_OPS
    while (i < WARM_OPS + wl.fixed_ops if wl.fixed_ops
           else time.monotonic() < deadline):
        cpu0, t0 = _cpu_ticks(), time.monotonic()
        try:
            n = wl.op(spark, i)
        except Exception as exc:  # a failed operation is counted, not fatal
            failures.append(f"op {i}: {type(exc).__name__}: {exc}")
            n = 0
        walls.append(time.monotonic() - t0)
        steal.append(_steal(cpu0))
        docs.append(n)
        i += 1
    return walls, docs, steal, failures


def end_to_end(wl, seconds: float):
    from perfbench.workloads import WARM_OPS

    t0 = time.monotonic()
    spark = start_spark(wl.work)
    session_s = time.monotonic() - t0
    metrics, samples = {}, {}
    try:
        setup_s = session_s + setup(wl, spark)
        with RssPeak(spark.sparkContext._gateway.proc.pid) as rss:
            walls, docs, steal, failures = timed_ops(wl, spark, seconds)
        t0 = time.monotonic()
        failures += wl.check(spark)
        check_s = time.monotonic() - t0
        done = [(w, n, x) for w, n, x in zip(walls, docs, steal) if n]
        quiet = [(w, n) for w, n, x in done if x <= STEAL_MAX]
        ok = quiet or [(w, n) for w, n, _ in done]
        metrics = _with_units({
            "docs_per_s": statistics.median(n / w for w, n in ok)
            if ok else 0.0,
            "batch_p50_s": statistics.median(w for w, _ in ok)
            if ok else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 2 ** 20,
            "sink_bytes_per_doc": wl.sink_bytes_per_doc() if ok else 0.0,
        }, "end_to_end")
        samples = {"docs_per_s": len(ok), "batch_p50_s": len(ok),
                   "setup_s": 1, "peak_rss_mb": 1,
                   "sink_bytes_per_doc": len(done)}
        print(json.dumps({"op_walls_s": [round(w, 3) for w in walls],
                          "op_host_steal": [round(x, 4) for x in steal],
                          "rss_mb_at_peak": [round(b / 2 ** 20)
                                             for b in rss.at_peak],
                          "session_s": round(session_s, 3),
                          "check_s": round(check_s, 3)}))
    finally:
        stop_spark(spark)
    return metrics, samples, WARM_OPS + len(walls), failures


def traced(wl, run_id: str):
    """Per-layer run: the same set-up, then operations in (untraced,
    traced) pairs on two lanes that see the same history (so their ratio
    is the tracing overhead), then the layer attribution."""
    from perfbench import layers as L
    from perfbench.workloads import WARM_OPS

    tracer = L.Tracer(run_id)
    spark = start_spark(wl.work)
    m = dict.fromkeys(declared("per_layer"), 0.0)
    try:
        with tracer.span("setup"):
            setup(wl, spark)
        wl.start_lane(spark, 1)
        store = L.StatusStore(spark)
        per_op: dict[str, list[float]] = {}
        plain, ops = [], []
        for i in range(WARM_OPS, WARM_OPS + TRACED_OPS):
            t0 = time.monotonic()
            wl.op(spark, i)
            plain.append(time.monotonic() - t0)
            store.mark()
            with tracer.span(f"{wl.name}.op") as rec:
                wl.op(spark, i, lane=1)
                with tracer.span("spark.status_store"):
                    after = L.spark_layers(store)
            ops.append(L.wall(rec))
            after.update(wl.after_traced_op(spark, tracer, 1))
            for key, v in after.items():
                per_op.setdefault(key, []).append(v)
        for key, vs in per_op.items():
            m[key] = statistics.median(vs)
        m["trace.overhead_frac"] = (statistics.median(ops)
                                    / statistics.median(plain) - 1)
        m.update(L.pipeline_layers(spark, tracer, wl.spans_df, wl.media_df,
                                   wl.cfg))
        m.update(L.udf_layers(tracer, wl.span_rows, wl.media_rows, wl.cfg))
        m.update(wl.traced_layers(spark, tracer, plain, m))
        failures = wl.check(spark)
    finally:
        stop_spark(spark)
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    tracer.write(os.path.join(OUT, "traces", f"{run_id}.json"))
    metrics = _with_units(m, "per_layer")
    return (metrics, {key: 1 for key in metrics}, WARM_OPS + 2 * len(ops),
            failures)


def selftest() -> int:
    """The oracle twin at seed 42, n=5000 must reproduce the committed
    goldens in fixtures/truth/extract_pipeline.parquet."""
    import pyarrow.parquet as pq

    from ocr_spark.config import PipelineConfig
    from ocr_spark.extraction.fields import FIELD_ORDER
    from ocr_spark.fixtures import build_corpus
    from perfbench.workloads import expected_row

    truth = pq.read_table(
        os.path.join(ROOT, "fixtures", "truth", "extract_pipeline.parquet"),
        filters=[("n_docs", "=", 5000)]).to_pylist()
    spans, media = build_corpus(42, 5000)
    by_ref = {m["media_ref"]: m for m in media}
    cfg = PipelineConfig()
    want = {r["doc_id"]: (r["spans_digest"], r["n_spans"], r["n_errors"],
                          tuple(r[k] for k in FIELD_ORDER)) for r in truth}
    got = {}
    for s in spans:
        doc_id, digest, n_spans, fields, errors = expected_row(s, by_ref,
                                                               cfg)
        got[doc_id] = (digest, n_spans, len(errors), fields)
    bad = sorted(k for k in want.keys() | got.keys()
                 if want.get(k) != got.get(k))
    print(json.dumps({"selftest": "extract_pipeline", "docs": len(got),
                      "golden": len(want), "mismatched": len(bad),
                      "examples": bad[:3]}))
    return 1 if bad or len(want) != 5000 else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import ocr_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.selftest:
        return selftest()
    if args.workload == "all":  # one run per workload, one after another
        return max(subprocess.call([
            sys.executable, __file__, "--workload", name, "--seed",
            str(args.seed), "--seconds", str(args.seconds), "--trace",
            str(args.trace)]) for name in WORKLOADS)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be 'all' or one of {sorted(WORKLOADS)}")

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    os.makedirs(work)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = work
    # a small fixed heap: under the session's 8g default, G1's heap growth
    # spread peak_rss_mb over 2.9-3.9 GB across ingest_microbatch runs
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    wl = WORKLOADS[args.workload](args.seed, work)
    stamp = host_stamp(args.seed, args.workload)
    try:
        if args.trace:
            metrics, samples, attempted, failures = traced(wl, run_id)
        else:
            metrics, samples, attempted, failures = end_to_end(
                wl, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"host": stamp}))
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.6g} {unit:6s} n={samples[name]}")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
