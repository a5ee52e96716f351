"""Registry-wide oracle OUTPUT-TYPE audit (VERDICT r8 #2).

Root cause of every driver hash-red r4-r8 (moderated_f, outlier_mad,
corpus_report; health_report before them, fixed in 639252b): DuckDB
widens SUM over integers to HUGEINT (int128) while Spark emits BIGINT,
and the driver's value hash is TYPE-SENSITIVE — so the row mismatches
even when every value agrees.  Local normalizers (str(int(v))) erase
the type, which is exactly why this class was invisible to
check_oracle.py for four rounds.

This tool closes the class for good:

  1. binds every ``oracle_sql()`` entry in DuckDB (no execution —
     relation ``.types`` only) and hard-fails on any output type Spark
     can never produce: HUGEINT, unsigned ints, DECIMAL;
  2. builds the Spark twin's (lazy) schema and asserts the canonical
     per-column type MATCHES the DuckDB type for every shared column
     name (INTEGER==INTEGER pass-through parquet keys are fine;
     BIGINT vs HUGEINT is the trap this catches).

Usage: python tools/audit_oracle_types.py [--sf-dir DIR] [query ...]
Exit 0 = clean.  Designed for the per-round loop next to
check_oracle.py / plans.py.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# DuckDB output types Spark has no equivalent for: their presence in an
# oracle means a guaranteed driver type-hash mismatch (or a lossy cast
# hiding one).  DECIMAL is included because no query in this repo emits
# Spark DecimalType — an oracle producing one is an uncast aggregate.
FORBIDDEN_DUCK = (
    "HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT",
    "UTINYINT", "DECIMAL",
)


# Signed ints ≤64-bit collapse to one family: both engines fetch them
# to pandas as intNN and the driver's value hash agrees (evidence: the
# 8 historically-green queries where Spark row_number() emits INTEGER
# against DuckDB's BIGINT).  HUGEINT is NOT in the family — it fetches
# as object/float dtype, which is precisely the r4-r8 hash-red class.
_INT_FAMILY = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}


def canon_duck(t: str) -> str:
    """Canonicalize a DuckDB type string for cross-engine compare."""
    t = str(t).upper()
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("ARRAY"):
        return "ARRAY"
    if t.startswith("STRUCT"):
        return "STRUCT"
    if t.startswith("MAP"):
        return "MAP"
    if t.startswith("DECIMAL"):
        return "DECIMAL"
    if t.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    t = {
        "TEXT": "VARCHAR", "STRING": "VARCHAR", "FLOAT8": "DOUBLE",
        "INT": "INTEGER", "INT4": "INTEGER", "INT8": "BIGINT",
        "BOOL": "BOOLEAN",
    }.get(t, t)
    return "INT" if t in _INT_FAMILY else t


def canon_spark(dt) -> str:
    """Canonicalize a Spark DataType for cross-engine compare."""
    name = dt.typeName().upper()
    name = {
        "LONG": "BIGINT", "INTEGER": "INTEGER", "SHORT": "SMALLINT",
        "BYTE": "TINYINT", "DOUBLE": "DOUBLE", "FLOAT": "FLOAT",
        "STRING": "VARCHAR", "BOOLEAN": "BOOLEAN", "DATE": "DATE",
        "TIMESTAMP": "TIMESTAMP", "TIMESTAMP_NTZ": "TIMESTAMP",
        "ARRAY": "ARRAY", "STRUCT": "STRUCT", "MAP": "MAP",
        "DECIMAL": "DECIMAL", "BINARY": "BINARY",
    }.get(name, name)
    return "INT" if name in _INT_FAMILY else name


def audit_one(name: str, sql: str, qfn, con, spark, sf_dir: str) -> list[str]:
    """Return a list of violation strings for one registry entry."""
    problems: list[str] = []
    try:
        rel = con.sql(sql)
        duck = {c.lower(): canon_duck(t) for c, t in zip(rel.columns, rel.types)}
    except Exception as e:  # bind error is itself a finding
        return [f"duckdb bind error: {str(e)[:140]}"]
    for col, ty in duck.items():
        if any(f in ty for f in FORBIDDEN_DUCK):
            problems.append(
                f"oracle column `{col}` is {ty} — Spark cannot emit this; "
                f"CAST the aggregate (HUGEINT precedent: 639252b)"
            )
    try:
        sschema = qfn(spark, sf_dir).schema
    except Exception as e:
        return problems + [f"spark build error: {str(e)[:140]}"]
    spark_t = {f.name.lower(): canon_spark(f.dataType) for f in sschema.fields}
    for col, dty in duck.items():
        sty = spark_t.get(col)
        if sty is None:
            problems.append(f"oracle column `{col}` missing from Spark twin")
        elif sty != dty and {sty, dty} != {"BINARY", "BLOB"}:
            problems.append(
                f"type mismatch on `{col}`: spark={sty} duckdb={dty}"
            )
    for col in spark_t:
        if col not in duck:
            problems.append(f"spark column `{col}` missing from oracle")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from methyl_data_pipeline_spark.session import get_session

    spark = get_session("audit_oracle_types")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or [n for n in qs if n in oracles]
    bad = 0
    for name in names:
        problems = audit_one(name, oracles[name], qs[name], con, spark, args.sf_dir)
        if problems:
            bad += 1
            for p in problems:
                print(f"FAIL {name}: {p}")
    spark.stop()
    print(f"\n{len(names) - bad}/{len(names)} oracled queries type-clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
