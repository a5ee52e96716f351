"""The reference's entry-point-A ingest path (main.main(): wide CSVs ->
projection -> outer combine -> stats)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from methyl_data_pipeline_spark import model
from methyl_data_pipeline_spark.io.readers import read_beta_csv
from methyl_data_pipeline_spark.operators.joins import combine_runs_wide
from methyl_data_pipeline_spark.operators.qc import health_report


def test_entry_point_a_ingest(spark, tmp_path):
    """SURVEY §3.1: reproduce main.main()'s combine semantics from wide
    CSVs — AVG_Beta projection (P1), n-way full outer (J1), NaN-block
    accounting (main.py:239-244 shape)."""
    run1 = pd.DataFrame(
        {
            "TargetID": [f"cg{i:04d}" for i in range(100)],
            "TB1_1.AVG_Beta": [0.1] * 100,
            "TB2_1.AVG_Beta": [0.9] * 100,
            "TB1_1.Intensity": [1234] * 100,  # must be projected away
        }
    )
    run2 = pd.DataFrame(
        {
            "TargetID": [f"cg{i:04d}" for i in range(50, 150)],  # 50% overlap
            "TB3_2.AVG_Beta": [0.5] * 100,
        }
    )
    p1, p2 = str(tmp_path / "run1.csv"), str(tmp_path / "run2.csv")
    run1.to_csv(p1, index=False)
    run2.to_csv(p2, index=False)

    # P1: keep TargetID + AVG_Beta columns only (filter.py:16-19)
    dfs = []
    for p in (p1, p2):
        df = read_beta_csv(spark, p)
        keep = [c for c in df.columns if c == "TargetID" or "AVG_Beta" in c]
        # reference column names contain dots -> backtick-quote
        dfs.append(df.select(*[F.col(f"`{c}`") for c in keep]))
    combined = combine_runs_wide(dfs)

    assert combined.count() == 150  # union of probe sets
    assert set(combined.columns) == {
        "TargetID", "TB1_1.AVG_Beta", "TB2_1.AVG_Beta", "TB3_2.AVG_Beta"
    }
    # NaN-block accounting: 50 probes run1-only + 50 run2-only
    long = model.melt(combined)
    report = health_report(long).collect()[0]
    assert report["n_rows"] == 450
    assert report["n_null_values"] == 50 * 1 + 50 * 2  # missing cells
    # complete-cases via the canonical long form (dotted wide column
    # names break na.drop's column resolution — another reason the
    # engine converts to long immediately after ingest)
    complete = (
        long.groupBy("probe_id")
        .agg(F.count("beta").alias("n"))
        .filter(F.col("n") == 3)
    )
    assert complete.count() == 50  # probes present in both runs
