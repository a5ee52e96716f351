"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column-name set, and an
order-insensitive value digest (columns sorted by name, rows sorted,
floats normalized to 12 significant digits). Stricter than it needs to
be — if this passes, the driver's hash compare should too.

Usage: python tools/check_oracle.py [--sf-dir DIR] [query ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df) -> tuple[int, list[str], str, "object"]:
    """(row_count, sorted_cols, digest, normalized_frame)."""
    import numpy as np
    import pandas as pd

    pdf = df.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    pdf = pdf[sorted(pdf.columns)]

    def norm_cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "␀"
        if isinstance(v, (np.floating, float)):
            return f"{float(v):.12g}"
        if isinstance(v, (np.integer, int)):
            return str(int(v))
        return str(v)

    cells = pdf.apply(lambda col: col.map(norm_cell))
    rows = sorted("|".join(r) for r in cells.itertuples(index=False))
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(pdf), sorted(pdf.columns), digest, cells


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from methyl_data_pipeline_spark.session import get_session

    spark = get_session("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sn, sc, sh, scells = normalize(sdf)
        on, oc, oh, ocells = normalize(odf)
        status = []
        if sn != on:
            status.append(f"rows {sn}!={on}")
        if sc != oc:
            status.append(f"cols {sc}!={oc}")
        if sh != oh:
            status.append("value-hash mismatch")
        dt = time.time() - t0
        if status:
            print(f"FAIL {name}: {'; '.join(status)}  ({dt:.1f}s)")
            if sc == oc and sn == on:
                srows = sorted("|".join(r) for r in scells.itertuples(index=False))
                orows = sorted("|".join(r) for r in ocells.itertuples(index=False))
                diffs = [
                    (a, b) for a, b in zip(srows, orows) if a != b
                ][:3]
                for a, b in diffs:
                    print(f"    spark : {a[:160]}")
                    print(f"    duckdb: {b[:160]}")
            failures.append(name)
        else:
            print(f"PASS {name}: {sn} rows  ({dt:.1f}s)")
    spark.stop()
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
