"""methylspark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One workload per process, on one
``get_session()`` with its defaults (``local[$SPARK_GRAFT_CPUS]``,
shuffle partitions = cores; ``SPARK_GRAFT_CPUS`` defaults to the CPUs
this process may use). Batch, closed loop, one client: one pipeline run
at a time.

Set-up (``setup_s``) is session start, plus input generation from the
seed, plus the workload's warm-up runs. Then, untraced, runs repeat
until their summed time reaches ``--seconds``; every run writes all
outputs in full and is checked against the planted truth (the check is
not timed). ``--trace 1`` instead times one untraced run and one traced
run with the Spark event log on, and reports per-layer metrics.

Inputs, outputs, Spark scratch and the event log live under
``.perfbench_work/`` in the checkout (page cache, no fsync) and are
removed when the run ends. The last line of stdout is one JSON object:
correct, attempted, failed, metrics. Without the library source next to
this directory the benchmark exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import spans as tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPANS = (
    "io.readers",
    "io.idat",
    "io.writers",
    "operators.qc",
    "stats.bmiq",
    "stats.combat",
    "stats.feature_selection",
    "stats.pca",
    "stats.limma",
    "stats.bh",
    "plans.curation",
    "ext.dedup",
)
PYTHON_SPANS = ("io.idat", "stats.bmiq", "stats.limma")
# The --trace 1 metrics. A workload reports 0 for layers it never calls.
LAYER_METRICS = [
    f"{span}.{m}"
    for span in SPANS
    for m in tracing.SPAN_METRICS + (tracing.PYTHON_METRICS if span in PYTHON_SPANS else ())
] + [
    "session.start_s",
    "jvm.peak_rss_mb",
    "cache.released",
    "operators.qc.probes_kept_ratio",
    "plans.curation.docs_kept_ratio",
    "ext.dedup.candidate_precision",
    "io.writers.bytes_written",
    "trace.overhead_s",
]
END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "rows_per_s": "rows/s", "heap_live_mb": "MB"}


def unit(metric: str) -> str:
    if metric in END_TO_END_UNITS:
        return END_TO_END_UNITS[metric]
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric.endswith("bytes_written"):
        return "bytes"
    if metric.endswith("ratio") or metric.endswith("precision"):
        return "ratio"
    return "count"


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM. How far the heap grew depends on when the
    collector ran, so seed to seed it spreads by a third on idat_ingest:
    a per-layer figure, not an end-to-end one."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def jvm_heap_live_mb(spark) -> float:
    """Heap the Spark JVM still holds once the runs are done: caches,
    broadcasts and retained query state.

    One full collection is not enough: Spark's ContextCleaner frees
    shuffle, broadcast and checkpoint state only after a collection has
    queued their references, so a single reading lands anywhere between
    the floor and three times it. Collect until the reading stops
    falling.
    """
    gc.collect()  # drop Python handles, so py4j releases their JVM objects
    jvm = spark.sparkContext._jvm
    memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(10):
        jvm.java.lang.System.gc()
        last, used = used, memory.getHeapMemoryUsage().getUsed() / 2**20
        if used > 0.99 * last:
            break
        time.sleep(0.25)  # let the cleaner drain what this collection queued
    return used


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def attempt(wl, spark, in_dir, out_dir, tr) -> tuple[float, list[str], dict]:
    """One timed run (outputs written, tracked persists released) and
    its untimed check. Returns (seconds, failures, run result)."""
    from methyl_data_pipeline_spark import cache

    t0 = time.perf_counter()
    try:
        res = wl.run(spark, in_dir, out_dir, tr)
        res["released"] = cache.release_all()
    except Exception:
        return time.perf_counter() - t0, [traceback.format_exc()], {}
    dt = time.perf_counter() - t0
    try:
        return dt, wl.check(out_dir, res), res
    except Exception:
        return dt, [traceback.format_exc()], res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "methyl_data_pipeline_spark")):
        print(f"no methyl_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path[:0] = [ROOT, HERE]

    import workloads
    from methyl_data_pipeline_spark.session import get_session

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # ---- set-up: session, input generation, warm-up
    t0 = time.perf_counter()
    spark = get_session(f"perfbench-{wl.name}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(in_dir)
    t0 = time.perf_counter()
    rows = wl.generate(args.seed, in_dir)
    gen_s = time.perf_counter() - t0
    untraced = workloads.NoTrace()
    # warm-up: the first runs in a fresh session are 1.4-5x slower
    warm_tr = tracing.Tracer(spark) if wl.warmup_staged else untraced
    warm_s, failures, failed = [], [], 0
    for _ in range(wl.warmup_runs):
        dt, bad, _ = attempt(wl, spark, in_dir, out_dir, warm_tr)
        warm_s.append(dt)
        failures += bad
        failed += int(bool(bad))
    setup_s = session_s + gen_s + sum(warm_s)
    attempted = wl.warmup_runs

    # ---- measured runs
    times: list[float] = []
    if args.trace:
        dt, bad, _ = attempt(wl, spark, in_dir, out_dir, untraced)
        times.append(dt)
        failures += bad
        tr = tracing.Tracer(spark)
        traced_s, bad_t, res = attempt(wl, spark, in_dir, out_dir, tr)
        failures += bad_t
        attempted, failed = attempted + 2, failed + int(bool(bad)) + int(bool(bad_t))
        extras = wl.layer_extras(res) if not bad_t else {}
        extras["io.writers.bytes_written"] = tree_bytes(out_dir)
        extras["cache.released"] = res.get("released", 0)
    else:
        while sum(times) < args.seconds:
            dt, bad, _ = attempt(wl, spark, in_dir, out_dir, untraced)
            times.append(dt)
            attempted += 1
            failed += int(bool(bad))
            failures += bad
    run_s = statistics.median(times)
    peak_rss_mb = jvm_peak_rss_mb(spark)
    t0 = time.perf_counter()
    heap_live_mb = None if args.trace else jvm_heap_live_mb(spark)
    heap_s = time.perf_counter() - t0
    stop_spark(spark)
    print(
        f"[{wl.name}] session_s={session_s:.2f} gen_s={gen_s:.2f} "
        f"warm_s={[round(x, 2) for x in warm_s]} run_s={[round(x, 2) for x in times]} "
        f"heap_s={heap_s:.2f}",
        file=sys.stderr,
    )

    for f in failures:
        print(f"[{wl.name}] FAILED: {f}", file=sys.stderr)
    if args.trace:
        values = dict.fromkeys(LAYER_METRICS, 0.0)
        for span, m in tracing.profile(tracing.read_event_log(log_dir), tr.spans).items():
            values.update({f"{span}.{k}": v for k, v in m.items() if f"{span}.{k}" in values})
        values.update(extras)
        values["session.start_s"] = session_s
        values["jvm.peak_rss_mb"] = peak_rss_mb
        values["trace.overhead_s"] = traced_s - run_s
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "rows_per_s": rows / run_s,
            "heap_live_mb": heap_live_mb,
        }
    shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": v, "unit": unit(k)} for k, v in values.items()}
    print(
        f"{wl.name}: runs={len(times)} failed_ratio={failed / attempted:.3f} ratio "
        + " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()),
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
