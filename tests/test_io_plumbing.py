"""IO plumbing: IDAT binary discovery, Excel boundary, plan-shape
regression guards (pushdown/broadcast stay in the plan)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import explain
from methyl_data_pipeline_spark.io.readers import decode_idat, read_any, read_idat_dir


def test_idat_discovery_pairs(spark, tmp_path):
    d = tmp_path / "idats" / "run1"
    os.makedirs(d)
    for base in ["203866588039_R01C01", "203866588039_R02C01"]:
        for ch in ["Red", "Grn"]:
            (d / f"{base}_{ch}.idat").write_bytes(b"IDAT" + b"\x00" * 16)
    (d / "notes.txt").write_text("ignored")  # glob must skip non-idat

    out = read_idat_dir(spark, str(tmp_path / "idats")).collect()
    assert len(out) == 4
    pairs = {(r["basename"], r["channel"]) for r in out}
    assert ("203866588039_R01C01", "Red") in pairs
    assert ("203866588039_R01C01", "Grn") in pairs
    assert all(r["length"] == 20 for r in out)
    # decode is real now (io.idat); garbage bytes must fail loudly, not
    # silently produce rows
    with pytest.raises(Exception, match="IDAT|idat"):
        decode_idat(read_idat_dir(spark, str(tmp_path / "idats"))).collect()


def test_read_any_excel_boundary(spark, tmp_path):
    """S2/S8 round trip through whichever engine is available —
    pandas+openpyxl when installed, the native OOXML fallback
    (io/xlsx.py) otherwise. Runs (not skips) in both worlds."""
    import pandas as pd

    from methyl_data_pipeline_spark.io.writers import write_excel

    p = str(tmp_path / "x.xlsx")
    src = spark.createDataFrame(
        pd.DataFrame({"TargetID": ["cg1", "cg2"], "TB1_1.AVG_Beta": [0.4, 0.82]})
    )
    write_excel(src, p)
    df = read_any(spark, p)
    assert df.count() == 2
    back = {r["TargetID"]: r["TB1_1.AVG_Beta"] for r in df.collect()}
    assert back == {"cg1": 0.4, "cg2": 0.82}


def test_native_xlsx_roundtrip(tmp_path):
    """The stdlib OOXML codec itself: mixed types, >26 columns (two-
    letter refs), NaN -> empty cell, booleans."""
    import numpy as np
    import pandas as pd

    from methyl_data_pipeline_spark.io.xlsx import read_xlsx, write_xlsx

    cols = {f"c{i:02d}": [float(i), i * 2.5] for i in range(28)}
    pdf = pd.DataFrame(cols)
    pdf["name"] = ["alpha <&> \"q\"", "beta"]
    pdf["flag"] = [True, False]
    pdf["gap"] = [1.5, np.nan]
    p = str(tmp_path / "wide.xlsx")
    write_xlsx(pdf, p)
    back = read_xlsx(p)
    assert list(back.columns) == list(pdf.columns)
    assert back["name"].tolist() == pdf["name"].tolist()
    assert back["flag"].tolist() == [True, False]
    assert back["gap"][0] == 1.5 and pd.isna(back["gap"][1])
    assert back["c27"].tolist() == [27.0, 67.5]

    # openpyxl interop when present: their writer, our reader
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        return
    p2 = str(tmp_path / "pandas.xlsx")
    pdf2 = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    pdf2.to_excel(p2, index=False)
    assert read_xlsx(p2)["b"].tolist() == ["x", "y"]


def test_plan_pushdown_regression(spark):
    """Filter + projection must reach the parquet scan (SURVEY §4.1)."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = explain(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_extendedprice" not in plan  # column pruning held


def test_plan_broadcast_regression(spark):
    """Small-dimension joins must plan as broadcast, not sort-merge."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    supp = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    q = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey).groupBy(
        "s_name"
    ).count()
    plan = explain(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jsonl_round_trip(spark, tmp_path):
    """Spark's json writer -> read_jsonl round trip with explicit schema;
    files are one-object-per-line (the LLM-corpus interchange shape)."""
    import glob as _glob
    import json as _json

    from methyl_data_pipeline_spark.io.readers import read_jsonl

    df = spark.createDataFrame(
        [(1, "hello world", "src0"), (2, "second doc", "src1")],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "docs_jsonl")
    df.write.json(out)
    parts = [p for p in _glob.glob(out + "/part-*") if not p.endswith(".crc")]
    assert parts, "no jsonl part files written"
    # a 2-row frame over N partitions leaves most part files empty —
    # inspect the first part that actually holds a line
    lines = []
    for p in sorted(parts):
        with open(p) as fh:
            lines.extend(ln for ln in fh.read().splitlines() if ln.strip())
    assert len(lines) == 2
    first = _json.loads(lines[0])
    assert set(first) == {"doc_id", "text", "source"}

    back = read_jsonl(spark, out, schema="doc_id long, text string, source string")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC write -> read_any's ``.orc`` dispatch; a filter on the read
    must reach the ORC scan as a pushed filter (same contract as
    parquet)."""
    df = spark.createDataFrame(
        [(i, f"doc {i}", f"src{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "docs.orc")
    df.write.partitionBy("source").orc(out)
    back = read_any(spark, out)
    assert back.count() == 30
    filtered = back.filter(F.col("doc_id") < 10).select("doc_id")
    plan = explain(filtered)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)" in plan
    assert filtered.count() == 10
    # partition pruning: source predicate prunes directories
    pruned = back.filter(F.col("source") == "src0")
    assert pruned.count() == 10


def test_csv_sink_and_sanitize_filename(spark, tmp_path):
    """CSV sink round-trips with header; sanitize_filename maps every
    non-word char to underscore (reference dataset.py:48 semantics)."""
    from methyl_data_pipeline_spark.functions.scalar import sanitize_filename
    from methyl_data_pipeline_spark.io.writers import write_csv

    df = spark.createDataFrame(
        [(1, "a b/c:d"), (2, "safe-name_9")], "id long, name string"
    )
    out = str(tmp_path / "csv_out")
    write_csv(df, out)
    back = spark.read.csv(out, header=True, inferSchema=True)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    got = {r.id: r.s for r in
           df.select("id", sanitize_filename("name").alias("s")).collect()}
    assert got == {1: "a_b_c_d", 2: "safe-name_9"}


def test_read_any_dispatches_jsonl(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    out = str(tmp_path / "docs.jsonl")
    df.write.json(out)
    back = read_any(spark, out)
    assert back.count() == 2 and set(back.columns) == {"doc_id", "text"}


def test_stage_idat_tree(tmp_path):
    """Zip extraction + collision-safe flat staging (reference S6,
    health_check.py:41-106 semantics) feeding read_idat_dir."""
    import zipfile

    from methyl_data_pipeline_spark.io.readers import stage_idat_tree

    src = tmp_path / "drop"
    (src / "runA").mkdir(parents=True)
    (src / "runA" / "chip1_Red.idat").write_bytes(b"IDAT" + b"\x01" * 8)
    # an archive holding an idat that collides with runA's name
    zpath = src / "runB.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("chip1_Red.idat", b"IDAT" + b"\x02" * 8)
        zf.writestr("chip2_Grn.idat", b"IDAT" + b"\x03" * 8)
        zf.writestr("notes.txt", "ignored")

    staged = stage_idat_tree(str(src), str(tmp_path / "staged"))
    names = sorted(p.split("/")[-1] for p in staged)
    # collision suffix lands on the BASENAME (before the channel
    # suffix) so read_idat_dir still parses channel='Red' for the twin
    assert names == ["chip1_1_Red.idat", "chip1_Red.idat", "chip2_Grn.idat"]
    # both collision twins survive with distinct contents
    contents = {p.split("/")[-1]: open(p, "rb").read() for p in staged}
    assert contents["chip1_Red.idat"] != contents["chip1_1_Red.idat"]

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        stage_idat_tree(str(tmp_path / "missing"), str(tmp_path / "x"))
