"""Per-query profiler: wall time, scheduling counts and stage hotspots.

Runs each named registry query once untimed (warm-up), then ``--runs``
timed runs in one UI-enabled session. Each run computes every column
of the result through a ``noop`` write (``count()`` lets Catalyst
prune work the result needs), and tracked caches are released between
runs. Per query it prints the median, min and max wall time; then the
jobs, stages and tasks of the median run, read from the live UI REST
API; then that run's ``--top`` stages by executor run time — the fast
way to spot a serialized stage (one task doing seconds of work below
an Exchange) or a shuffle-heavy one. At bench scale wall time is
dominated by fixed per-job overheads, so job count is the first thing
to cut (r13: 27 AQE-barrier jobs cut from methyl_pipeline_chain took
its median from 4.8 to 3.2 s).

Usage: python tools/profile_query.py --sf-dir DIR [--runs N] [--top K]
       query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=4)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from methyl_data_pipeline_spark import cache
    from methyl_data_pipeline_spark.session import get_session

    spark = get_session(
        "profile", extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4047"}
    )
    sc = spark.sparkContext
    api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    qs = entrymod.queries()

    def rest(path: str):
        with urllib.request.urlopen(f"{api}/{path}") as r:
            return json.load(r)

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        cache.release_all()
        return wall

    for name in args.names:
        run(name)
        recs = []
        for _ in range(args.runs):
            jobs0 = {j["jobId"] for j in rest("jobs")}
            stages0 = {s["stageId"] for s in rest("stages?status=complete")}
            wall = run(name)
            # the UI store trails the listener bus: wait out running jobs
            while any(j["status"] == "RUNNING" for j in rest("jobs")):
                time.sleep(0.1)
            jobs = [j for j in rest("jobs") if j["jobId"] not in jobs0]
            stages = [
                s for s in rest("stages?status=complete")
                if s["stageId"] not in stages0
            ]
            recs.append((wall, len(jobs), stages))
        walls = [r[0] for r in recs]
        wall, n_jobs, stages = sorted(recs, key=lambda r: r[0])[len(recs) // 2]
        print(
            f"\n{name}: median {statistics.median(walls):.3f}s "
            f"min {min(walls):.3f} max {max(walls):.3f} n={args.runs}\n"
            f"  jobs={n_jobs} stages={len(stages)} "
            f"tasks={sum(s['numCompleteTasks'] for s in stages)}",
            flush=True,
        )
        stages.sort(key=lambda s: -s.get("executorRunTime", 0))
        for s in stages[: args.top]:
            print(
                f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>3} "
                f"runTime={s['executorRunTime'] / 1000:6.2f}s "
                f"in={s.get('inputBytes', 0) >> 10}KB "
                f"sr={s.get('shuffleReadBytes', 0) >> 10}KB "
                f"sw={s.get('shuffleWriteBytes', 0) >> 10}KB"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
