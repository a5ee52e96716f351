"""Regenerate the tiny traced run that ``test_spans.py`` reads.

    python3 perfbench/testdata/make_tiny_trace.py

Run from the repository root. It starts a two-core session with the
event log on, runs a warm-up span and three traced spans (two named
``scan``, one ``udf`` with a ``mapInPandas``) plus one job outside any
span, and writes ``tiny_trace/spans.json`` and ``tiny_trace/eventlog``.
The log keeps only the events ``spans.read_event_log`` reads, each job's
properties cut to its group, so the fixture stays a few kilobytes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import spans  # noqa: E402
from methyl_data_pipeline_spark.session import get_session  # noqa: E402


def double(batches):
    for b in batches:
        yield b.assign(id=b.id * 2)


def main() -> None:
    out = os.path.join(HERE, "tiny_trace")
    log_dir = tempfile.mkdtemp(dir=HERE)
    spark = get_session(
        "tiny-trace",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    def scan():
        spark.range(0, 200_000, numPartitions=2).selectExpr("sum(id)").collect()

    with spans.Tracer(spark).span("scan"):  # warm-up: not a traced span
        scan()
    tr = spans.Tracer(spark)
    with tr.span("scan"):
        scan()
    spark.range(10).collect()  # a job outside every span
    with tr.span("udf"):
        tr.barrier(spark.range(0, 5_000, numPartitions=2).mapInPandas(double, "id long"))
    with tr.span("scan"):
        scan()
    spark.stop()

    events = []
    for ev in spans.read_event_log(log_dir):
        if ev["Event"] == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            ev = {k: ev[k] for k in ("Event", "Job ID", "Submission Time", "Stage IDs")}
            ev["Properties"] = {"spark.jobGroup.id": group}
        elif ev["Event"] == "SparkListenerStageCompleted":
            ev = {"Event": ev["Event"], "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
        elif ev["Event"] == "SparkListenerTaskEnd":
            ev = {
                "Event": ev["Event"],
                "Stage ID": ev["Stage ID"],
                "Task Info": {
                    "Accumulables": [
                        a for a in ev["Task Info"].get("Accumulables", [])
                        if "Python workers" in a.get("Name", "")
                    ]
                },
                "Task Metrics": {
                    k: ev["Task Metrics"][k]
                    for k in ("Executor CPU Time", "Disk Bytes Spilled", "Shuffle Write Metrics")
                },
            }
        events.append(ev)
    shutil.rmtree(log_dir)

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "eventlog"))
    with open(os.path.join(out, "eventlog", "local-tiny-trace"), "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev, separators=(",", ":")) + "\n")
    with open(os.path.join(out, "spans.json"), "w") as fh:
        json.dump([vars(s) for s in tr.spans], fh, indent=1)


if __name__ == "__main__":
    main()
