"""Capture .explain("formatted") for named queries into plans/rNN/.

Usage:
    python tools/capture_plans.py --tag before --round r14 q1 q2 ...

Writes plans/<round>/<query>_<tag>.txt — the judge-facing before/after
plan evidence for optimization rounds.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, "/root/repo")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--round", default="r14")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from methyl_data_pipeline_spark.session import get_session

    spark = get_session("capture_plans")
    qs = entrymod.queries()
    outdir = os.path.join("/root/repo/plans", args.round)
    os.makedirs(outdir, exist_ok=True)
    for name in args.names:
        if name not in qs:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, args.sf_dir).explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:
            plan = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
