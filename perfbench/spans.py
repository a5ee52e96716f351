"""Benchmark-side spans and the Spark event-log parser that fills them.

A span is one call into a library layer, timed from outside: the
benchmark sets the Spark job group to the span name before the call and
materializes the result before the span closes, so every job the call
causes carries the span's name. After the session stops, the event log
(``spark.eventLog.enabled``, uncompressed, not rolling) is parsed and
each job's stages are charged to the span whose group launched it.

Per span name (summed over every call with that name):

- ``wall_s``: span wall time.
- ``driver_s``: wall time minus the union of the span's job intervals —
  Python composition, Catalyst planning and collect handling.
- ``jobs``, ``stages``, ``tasks``: scheduling work (completed stages).
- ``executor_cpu_s``, ``shuffle_write_bytes``, ``spill_bytes``: task
  metrics summed over the span's completed stages.
- ``python_run_s``, ``python_bytes``: the Python-worker SQL metrics of
  ``MapInPandas`` / ``FlatMapGroupsInPandas`` / ``ArrowEvalPython``
  (worker time summed over tasks, which includes worker start and
  init; bytes sent to plus returned from the workers).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_METRICS = (
    "wall_s",
    "driver_s",
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
)
PYTHON_METRICS = ("python_run_s", "python_bytes")

# Python-worker SQL metrics (PythonSQLMetrics; times in ms). Summed from
# per-task updates: a stage's accumulable value of a SQL metric is the
# plan node's running total, which spans every job that re-ran the node.
# "time to run" already contains the "time to start" and "time to
# initialize" metrics, so those two are not added again.
_PYTHON_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_bytes", 1),
    "data returned from Python workers": ("python_bytes", 1),
}


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float


class Tracer:
    """Records spans around calls into the library's layers."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        self._sc.setJobGroup(name, name)
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time() * 1000.0))
            self._sc.setJobGroup("untraced", "untraced")

    def barrier(self, df):
        """Materialize ``df`` and cut its lineage, so the next span
        starts from computed input."""
        return df.localCheckpoint(eager=True)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# The only events the profile reads. SQL events carry whole plan
# strings (hundreds of MB per run of a deep pipeline), so lines are
# filtered by their leading "Event" field before any JSON parsing.
_EVENTS = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)
_PREFIXES = tuple(f'{{"Event":"{e}"'.encode() for e in _EVENTS)


def read_event_log(log_dir: str) -> list[dict]:
    """Job, stage and task events of the single finished application
    log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1 or not os.path.isfile(paths[0]):
        raise RuntimeError(f"expected one finished event log file in {log_dir}, found {paths}")
    with open(paths[0], "rb") as fh:
        return [json.loads(line) for line in fh if line.startswith(_PREFIXES)]


def profile(events: list[dict], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Roll the event log up into per-span-name metrics.

    A job belongs to the span whose name is the job's group and whose
    interval holds the job's submission, so jobs that reuse a span name
    outside the traced spans (a warm-up run) are charged to nothing.
    """
    jobs: dict[int, list] = {}  # job id -> [group, submitted ms, completed ms]
    stage_job: dict[int, int] = {}
    completed: list[int] = []
    task_ends: list[dict] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            jobs[ev["Job ID"]] = [group, ev["Submission Time"], ev["Submission Time"]]
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]][2] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            completed.append(ev["Stage Info"]["Stage ID"])
        else:
            task_ends.append(ev)

    owner: dict[int, int] = {}  # job id -> index of its span
    for jid, (group, submitted, _) in jobs.items():
        for k, sp in enumerate(spans):
            if sp.name == group and sp.start_ms <= submitted <= sp.end_ms:
                owner[jid] = k
                break

    out: dict[str, dict[str, float]] = {}
    for k, sp in enumerate(spans):
        m = out.setdefault(sp.name, dict.fromkeys(SPAN_METRICS + PYTHON_METRICS, 0.0))
        intervals = [
            (max(s, sp.start_ms), min(e, sp.end_ms))
            for jid, (_, s, e) in jobs.items()
            if owner.get(jid) == k
        ]
        wall = sp.end_ms - sp.start_ms
        m["wall_s"] += wall / 1000.0
        m["driver_s"] += (wall - _union_ms(intervals)) / 1000.0
        m["jobs"] += len(intervals)

    def span_of(stage_id: int):
        k = owner.get(stage_job.get(stage_id, -1))
        return None if k is None else out[spans[k].name]

    for sid in completed:
        m = span_of(sid)
        if m is not None:
            m["stages"] += 1
    for ev in task_ends:
        m = span_of(ev["Stage ID"])
        if m is None:
            continue
        tm = ev.get("Task Metrics") or {}
        m["tasks"] += 1
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) * 1e-9
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        for acc in ev["Task Info"].get("Accumulables", []):
            key = _PYTHON_ACCUMS.get(acc.get("Name"))
            if key is not None and "Update" in acc:
                m[key[0]] += float(acc["Update"]) * key[1]
    return out
