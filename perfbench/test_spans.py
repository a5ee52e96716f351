"""Span attribution over a checked-in event log of a tiny traced run.

    python3 -m pytest perfbench -q

The fixture comes from ``testdata/make_tiny_trace.py``: a warm-up span
``scan``, then traced spans ``scan``, ``udf`` (a ``mapInPandas``) and
``scan`` again, with one job outside every span.
"""

from __future__ import annotations

import json
import os

import pytest

import spans

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "tiny_trace")


@pytest.fixture(scope="module")
def trace():
    with open(os.path.join(FIXTURE, "spans.json")) as fh:
        traced = [spans.Span(**s) for s in json.load(fh)]
    events = spans.read_event_log(os.path.join(FIXTURE, "eventlog"))
    return traced, events, spans.profile(events, traced)


def jobs_by_group(events):
    """{group: [(job id, submitted ms, completed ms)]} straight from the log."""
    ends = {e["Job ID"]: e["Completion Time"] for e in events if e["Event"] == "SparkListenerJobEnd"}
    out: dict[str, list] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = e["Properties"]["spark.jobGroup.id"]
            out.setdefault(g, []).append((e["Job ID"], e["Submission Time"], ends[e["Job ID"]]))
    return out


def inside(job, span_list):
    return any(s.start_ms <= job[1] <= s.end_ms for s in span_list)


def test_jobs_land_on_their_span_and_not_on_the_warm_up(trace):
    traced, events, prof = trace
    groups = jobs_by_group(events)
    scans = [s for s in traced if s.name == "scan"]
    traced_scan_jobs = [j for j in groups["scan"] if inside(j, scans)]
    # the warm-up ran jobs under the same group name outside the traced spans
    assert 0 < len(traced_scan_jobs) < len(groups["scan"])
    assert prof["scan"]["jobs"] == len(traced_scan_jobs)
    assert prof["udf"]["jobs"] == len(groups["udf"]) > 0
    assert set(prof) == {"scan", "udf"}


def test_tasks_and_cpu_land_on_the_span_of_their_stage(trace):
    traced, events, prof = trace
    groups = jobs_by_group(events)
    scans = [s for s in traced if s.name == "scan"]
    owned = {
        "scan": {j[0] for j in groups["scan"] if inside(j, scans)},
        "udf": {j[0] for j in groups["udf"]},
    }
    stage_job = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
    for name, jobs in owned.items():
        tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd" and stage_job[e["Stage ID"]] in jobs]
        assert prof[name]["tasks"] == len(tasks) > 0
        cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in tasks) * 1e-9
        assert prof[name]["executor_cpu_s"] == pytest.approx(cpu)
        assert cpu > 0
    # only the mapInPandas span crosses into Python workers
    assert prof["udf"]["python_run_s"] > 0 and prof["udf"]["python_bytes"] > 0
    # worker time is per task, so it cannot exceed wall time x tasks
    assert prof["udf"]["python_run_s"] <= prof["udf"]["wall_s"] * prof["udf"]["tasks"]
    assert prof["scan"]["python_run_s"] == prof["scan"]["python_bytes"] == 0


def test_driver_time_is_wall_minus_the_union_of_job_intervals(trace):
    traced, events, prof = trace
    groups = jobs_by_group(events)
    for name in ("scan", "udf"):
        wall = busy = 0.0
        for s in (s for s in traced if s.name == name):
            mine = sorted(
                (max(a, s.start_ms), min(b, s.end_ms))
                for _, a, b in groups[name]
                if s.start_ms <= a <= s.end_ms
            )
            # merge overlapping intervals by hand
            merged: list[list[float]] = []
            for a, b in mine:
                if merged and a <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], b)
                else:
                    merged.append([a, b])
            wall += s.end_ms - s.start_ms
            busy += sum(b - a for a, b in merged)
        assert prof[name]["wall_s"] == pytest.approx(wall / 1000)
        assert prof[name]["driver_s"] == pytest.approx((wall - busy) / 1000)
        assert 0 < prof[name]["driver_s"] < prof[name]["wall_s"]


def test_union_of_overlapping_intervals():
    assert spans._union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert spans._union_ms([]) == 0
