"""QC operator tests (P3-P15) against pandas oracles on the F2 fixture."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from methyl_data_pipeline_spark.operators import qc


def test_drop_incomplete_probes(meth, meth_pdf):
    n_samples = meth_pdf["sample_id"].nunique()
    got = sorted(
        r["probe_id"]
        for r in qc.drop_incomplete_probes(meth, n_samples)
        .select("probe_id").distinct().collect()
    )
    counts = meth_pdf.dropna(subset=["beta"]).groupby("probe_id")["sample_id"].count()
    want = sorted(counts[counts == n_samples].index)
    assert got == want
    assert 0 < len(want) < meth_pdf["probe_id"].nunique()


def test_drop_all_missing_probes(spark, meth):
    # add a probe whose only rows are null-valued
    extra = spark.createDataFrame(
        [("cgALLNULL", "TB1_1", "1", None, 0.01)], schema=meth.schema
    )
    df = meth.unionByName(extra)
    out = qc.drop_all_missing_probes(df)
    assert out.filter(F.col("probe_id") == "cgALLNULL").count() == 0
    assert out.select("probe_id").distinct().count() == meth.select("probe_id").distinct().count()


def test_filter_cg_probes(meth, meth_pdf):
    out = qc.filter_cg_probes(meth)
    assert out.filter(~F.col("probe_id").startswith("cg")).count() == 0
    want = meth_pdf[meth_pdf.probe_id.str.startswith("cg")].shape[0]
    assert out.count() == want


def test_drop_sex_chromosomes(meth, probes):
    out = qc.drop_sex_chromosomes(meth, probes)
    sex_probes = {r["probe_id"] for r in probes.filter(F.col("chr").isin("chrX", "chrY")).collect()}
    remaining = {r["probe_id"] for r in out.select("probe_id").distinct().collect()}
    assert not (remaining & sex_probes)


def test_filter_samples_by_detp(meth, meth_pdf):
    out = qc.filter_samples_by_detp(meth, 0.05)
    kept = {r["sample_id"] for r in out.select("sample_id").distinct().collect()}
    means = meth_pdf.groupby("sample_id")["det_p"].mean()
    want = set(means[means < 0.05].index)
    assert kept == want
    assert "TB12_2" not in kept  # the planted bad sample


def test_filter_probes_by_detp(meth, meth_pdf):
    n_samples = meth_pdf["sample_id"].nunique()
    out = qc.filter_probes_by_detp(meth, 0.05, n_samples)
    kept = {r["probe_id"] for r in out.select("probe_id").distinct().collect()}
    g = meth_pdf.groupby("probe_id")
    want = set(
        pid
        for pid, grp in g
        if len(grp) == n_samples and (grp["det_p"] < 0.05).all()
    )
    assert kept == want


def test_audit_membership(spark, meth):
    samples = spark.createDataFrame(
        [("TB1_1",), ("TB2_1",), ("TB_GHOST",)], ["sample_id"]
    )
    sheet_only, matrix_only = qc.audit_membership(samples, meth)
    assert [r["sample_id"] for r in sheet_only.collect()] == ["TB_GHOST"]
    assert matrix_only.count() == meth.select("sample_id").distinct().count() - 2


def test_sample_correlation_matches_pandas(spark):
    """Pairwise sample corr vs pandas over shared probes; identical
    samples correlate at 1."""
    import numpy as np
    import pandas as pd

    from methyl_data_pipeline_spark.operators.qc import sample_correlation

    rng = np.random.RandomState(9)
    probes = [f"cg{i:04d}" for i in range(60)]
    base = rng.rand(60)
    rows = []
    for s, noise in (("s1", 0.0), ("s2", 0.05), ("s3", 1.0)):
        vals = np.clip(base + noise * rng.rand(60), 0, 2)
        rows += [(p, s, float(v)) for p, v in zip(probes, vals)]
    # s4 == s1 exactly
    rows += [(p, "s4", float(v)) for p, v in zip(probes, base)]
    df = spark.createDataFrame(rows, "probe_id string, sample_id string, beta double")

    got = {(r.s1, r.s2): (r.corr, r.n_probes) for r in sample_correlation(df).collect()}
    assert got[("s1", "s4")][0] == pytest.approx(1.0)
    assert all(n == 60 for _, n in got.values())

    pdf = pd.DataFrame(rows, columns=["probe_id", "sample_id", "beta"])
    wide = pdf.pivot(index="probe_id", columns="sample_id", values="beta")
    for (a, b), (c, _) in got.items():
        assert c == pytest.approx(wide[a].corr(wide[b]), abs=1e-9)
    # noisy sample correlates less than the near copy
    assert got[("s1", "s3")][0] < got[("s1", "s2")][0]


def test_contracts_check_report_null_strict(spark):
    from methyl_data_pipeline_spark.operators.contracts import check_report

    df = spark.createDataFrame(
        [("cg1", "s1", 0.5), ("cg1", "s2", 1.5), ("cg2", "s1", None)],
        "probe_id string, sample_id string, beta double",
    )
    (row,) = check_report(
        df,
        {
            "in_range": (F.col("beta") >= 0) & (F.col("beta") <= 1),
            "non_null": F.col("beta").isNotNull(),
        },
    ).collect()
    # null-strict: the NULL beta fails BOTH predicates
    assert row["in_range"] == 2 and row["non_null"] == 1


def test_sample_correlation_blocked_parity(spark):
    """The blocked scale path (per-sample z-scores through the PCA
    partial-X^T X kernel) matches the exact self-join twin to float
    tolerance on complete-case input, including when incomplete and
    NaN rows must be gated out first."""
    import math

    import numpy as np

    from methyl_data_pipeline_spark.operators.qc import (
        sample_correlation,
        sample_correlation_blocked,
    )

    rng = np.random.RandomState(31)
    rows = []
    for s in ("s1", "s2", "s3", "s4", "s5"):
        vals = rng.rand(80)
        rows += [(f"cg{i:04d}", s, float(v)) for i, v in enumerate(vals)]
    # incomplete probe (missing from s5) and a NaN cell: both must be
    # excluded by the complete-case gate on BOTH paths' input
    rows += [(f"cgx{i}", s, 0.5) for i in range(3) for s in ("s1", "s2")]
    rows += [("cg0000x", "s3", float("nan"))]
    df = spark.createDataFrame(rows, "probe_id string, sample_id string, beta double")

    complete = df.filter(~F.isnan("beta"))
    counts = complete.groupBy("probe_id").count().filter("count = 5")
    cc = complete.join(counts.select("probe_id"), "probe_id")

    exact = {(r.s1, r.s2): (r.corr, r.n_probes) for r in sample_correlation(cc).collect()}
    blocked = {
        (r.s1, r.s2): (r.corr, r.n_probes)
        for r in sample_correlation_blocked(df).collect()
    }
    assert set(exact) == set(blocked)
    for k in exact:
        assert blocked[k][1] == exact[k][1] == 80
        assert not math.isnan(blocked[k][0])
        assert blocked[k][0] == pytest.approx(exact[k][0], abs=1e-9)
