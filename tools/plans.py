"""Physical plans of the contract queries: summarize, capture, audit.

Every subcommand reads plans through the public ``DataFrame.explain``
output, never through ``df._jdf``.

    python tools/plans.py summary --sf-dir DIR
        One operator-skeleton block per query -> PLANS.md: scans (with
        pushed filters), joins, exchanges, aggregates and the
        Python-boundary operators. PLANS.md is generated at sf0.01.
    python tools/plans.py capture --sf-dir DIR [--tag T] [--round R] q ...
        Writes ``explain("formatted")`` of each named query to
        plans/<round>/<query>_<tag>.txt (before/after plan evidence).
    python tools/plans.py audit --sf-dir DIR [q ...]
        Exit 1 with a per-query report if any plan holds a
        CartesianProduct or a BatchEvalPython node (all queries when
        none are named).

DIR is a generated fixture directory (``sf0.01`` etc.) holding the
contract tables as parquet.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

INTERESTING = (
    "Scan parquet", "PushedFilters", "BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "Exchange", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "TakeOrderedAndProject", "Window", "FlatMapGroupsInPandas",
    "ArrowEvalPython", "MapInPandas", "Generate", "Expand",
)

# Broadcast-nested-loop over a 1-row frame is fine and plans as
# BroadcastNestedLoopJoin; the Arrow-batched Python operators
# (ArrowEvalPython, FlatMapGroupsInPandas, MapInPandas) are the
# sanctioned Python boundaries.
FORBIDDEN = {
    "CartesianProduct": "unbroadcast cross join",
    "BatchEvalPython": "row-at-a-time Python UDF",
}


def explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def physical_plan(df) -> str:
    """The physical plan tree, verbose: the last section of
    ``explain(mode="extended")``."""
    return explain(df, "extended").split("== Physical Plan ==\n", 1)[1]


def audit_plan(plan: str) -> list[str]:
    """The forbidden nodes a plan text holds, each with the reason."""
    return [f"{m} ({why})" for m, why in FORBIDDEN.items() if m in plan]


def audit(spark, sf_dir: str, names: list[str] | None = None) -> list[tuple[str, str]]:
    """(query, violation) for every named contract query (all when
    ``names`` is empty). A plan that cannot build is a violation."""
    import __spark_entry__ as entry
    from methyl_data_pipeline_spark import cache

    qs = entry.queries()
    bad: list[tuple[str, str]] = []
    for name in names or list(qs):
        try:
            plan = physical_plan(qs[name](spark, sf_dir))
        except Exception as exc:
            bad.append((name, f"plan build failed: {exc}"))
            continue
        finally:
            cache.release_all()
        bad += [(name, why) for why in audit_plan(plan)]
    return bad


def summary_block(name: str, plan: str) -> list[str]:
    picked = []
    for ln in plan.splitlines():
        t = ln.strip(" :+-*")
        if any(k in t for k in INTERESTING):
            # strip the ids that change run to run: expression ids,
            # exchange plan ids, lambda-variable counters
            t = re.sub(r"#\d+L?", "", t)
            t = re.sub(r",? \[plan_id=\d+\]", "", t)
            t = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1", t)
            picked.append(t[:140])
    n_shuffles = sum("Exchange" in p and "Broadcast" not in p for p in picked)
    n_bcast = sum("BroadcastHashJoin" in p for p in picked)
    return [
        f"## {name}",
        "",
        f"shuffle exchanges: {n_shuffles} · broadcast joins: {n_bcast}",
        "",
        "```",
        *picked[:28],
        "```",
        "",
    ]


def summary(spark, sf_dir: str) -> int:
    import __spark_entry__ as entry

    lines = [
        f"# PLANS — physical-plan summaries ({os.path.basename(sf_dir.rstrip('/'))})",
        "",
        "Generated by `tools/plans.py summary`. One block per contract query:",
        "operator skeleton with scans (incl. pushed filters), joins,",
        "exchanges (shuffles), aggregates, and Python-boundary operators.",
        "",
    ]
    for name, fn in entry.queries().items():
        try:
            plan = physical_plan(fn(spark, sf_dir))
        except Exception as e:
            lines += [f"## {name}", "", f"ERROR: {e}", ""]
            continue
        lines += summary_block(name, plan)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(lines)} lines)")
    return 0


def capture(spark, sf_dir: str, tag: str, round_: str, names: list[str]) -> int:
    import __spark_entry__ as entry

    qs = entry.queries()
    outdir = os.path.join(REPO, "plans", round_)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        if name not in qs:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        try:
            plan = explain(qs[name](spark, sf_dir), "formatted")
        except Exception as exc:
            plan = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_sum = sub.add_parser("summary", help="write PLANS.md")
    p_cap = sub.add_parser("capture", help="formatted plans to plans/<round>/")
    p_cap.add_argument("--tag", default="before")
    p_cap.add_argument("--round", default="r14")
    p_cap.add_argument("names", nargs="+")
    p_aud = sub.add_parser("audit", help="no CartesianProduct, no BatchEvalPython")
    p_aud.add_argument("names", nargs="*")
    for p in (p_sum, p_cap, p_aud):
        p.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    from methyl_data_pipeline_spark.session import get_session

    spark = get_session(f"plans_{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "summary":
            return summary(spark, args.sf_dir)
        if args.cmd == "capture":
            return capture(spark, args.sf_dir, args.tag, args.round, args.names)
        bad = audit(spark, args.sf_dir, args.names)
        for name, why in bad:
            print(f"FAIL {name}: {why}")
        n = len(args.names) if args.names else "all"
        if bad:
            print(f"{len(bad)} violations in {n} plans")
            return 1
        print(f"OK: {n} plans, no cartesian products, no row-Python UDFs")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
