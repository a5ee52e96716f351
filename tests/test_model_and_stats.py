"""Model converters + stats tier vs pandas/scipy oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from methyl_data_pipeline_spark import model
from methyl_data_pipeline_spark.operators.joins import combine_runs_long, combine_runs_wide
from methyl_data_pipeline_spark.stats import (
    bh_adjust,
    group_mean_deltas,
    moderated_t_two_group,
    per_probe_variance,
    top_k_variable_probes,
)


def test_melt_pivot_roundtrip(spark):
    wide = spark.createDataFrame(
        [("cg1", 0.1, 0.2), ("cg2", 0.3, None)], ["TargetID", "s1", "s2"]
    )
    long = model.melt(wide)
    assert long.count() == 4
    back = model.pivot_wide(long, sample_ids=["s1", "s2"])
    rows = {r["probe_id"]: (r["s1"], r["s2"]) for r in back.collect()}
    assert rows["cg1"] == (0.1, 0.2)
    assert rows["cg2"][0] == 0.3 and rows["cg2"][1] is None


def test_mvalue_roundtrip(spark):
    df = spark.createDataFrame([(0.2,), (0.5,), (0.999,), (0.0,)], ["beta"])
    out = df.select(
        model.inv_mvalue(model.mvalue("beta")).alias("rt"), "beta"
    ).collect()
    for r in out:
        expect = min(max(r["beta"], 0.001), 0.999)
        assert abs(r["rt"] - expect) < 1e-12


def test_combine_runs_wide_outer(spark):
    a = spark.createDataFrame([("cg1", 0.1), ("cg2", 0.2)], ["TargetID", "s1"])
    b = spark.createDataFrame([("cg2", 0.3), ("cg3", 0.4)], ["TargetID", "s2"])
    out = combine_runs_wide([a, b])
    assert out.count() == 3  # union of probe sets, NaN blocks as NULL
    row = {r["TargetID"]: r for r in out.collect()}
    assert row["cg1"]["s2"] is None and row["cg3"]["s1"] is None


def test_variance_topk(meth, meth_pdf):
    out = top_k_variable_probes(meth, k=10).toPandas()
    want = (
        meth_pdf.dropna(subset=["beta"]).groupby("probe_id")["beta"].var(ddof=1)
        .sort_values(ascending=False)
    )
    np.testing.assert_allclose(
        sorted(out["variance"]), sorted(want.head(10).values), rtol=1e-9
    )


def test_bh_adjust_matches_r_semantics(spark):
    rng = np.random.RandomState(0)
    p = rng.uniform(size=53)
    p[:5] = p[:5] / 1000
    pdf = pd.DataFrame({"probe_id": [f"cg{i}" for i in range(53)], "p_value": p})
    out = bh_adjust(spark.createDataFrame(pdf)).toPandas().set_index("probe_id")

    # R p.adjust(method="BH") oracle
    n = len(p)
    order = np.argsort(p)[::-1]  # descending
    ranked = p[order] * n / np.arange(n, 0, -1)
    adj = np.minimum.accumulate(ranked)
    adj = np.minimum(adj, 1.0)
    want = np.empty(n)
    want[order] = adj
    np.testing.assert_allclose(
        out.loc[pdf["probe_id"], "adj_p"].values, want, rtol=1e-12
    )


def test_moderated_t_vs_numpy(spark):
    rng = np.random.RandomState(1)
    rows = []
    for pi in range(60):
        shift = 3.0 if pi < 10 else 0.0
        for si in range(5):
            rows.append((f"cg{pi:04d}", f"a{si}", "A", float(rng.normal(0, 1))))
            rows.append((f"cg{pi:04d}", f"b{si}", "B", float(rng.normal(shift, 1))))
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "grp", "mval"])
    out = moderated_t_two_group(df, "grp", "A", "B", value_col="mval").toPandas()
    assert len(out) == 60

    pdf = pd.DataFrame(rows, columns=["probe_id", "sample_id", "grp", "mval"])
    g = pdf.groupby(["probe_id", "grp"])["mval"].agg(["count", "mean", "var"]).unstack()
    n1, n2 = g[("count", "A")], g[("count", "B")]
    s2 = ((n1 - 1) * g[("var", "A")] + (n2 - 1) * g[("var", "B")]) / (n1 + n2 - 2)
    s0 = s2.mean()
    d0 = 2 * s0**2 / s2.var(ddof=1)
    df_ = n1 + n2 - 2
    s2p = (d0 * s0 + df_ * s2) / (d0 + df_)
    t = (g[("mean", "A")] - g[("mean", "B")]) / np.sqrt(s2p * (1 / n1 + 1 / n2))
    got = out.set_index("probe_id")["t_mod"]
    np.testing.assert_allclose(got[t.index].values, t.values, rtol=1e-9)
    # planted effects should rank first by |t|
    top = out.reindex(out["t_mod"].abs().sort_values(ascending=False).index).head(10)
    assert sum(int(p[2:]) < 10 for p in top["probe_id"]) >= 8


def test_group_mean_deltas(spark):
    df = spark.createDataFrame(
        [("cg1", "s1", "A", 0.9), ("cg1", "s2", "A", 0.7), ("cg1", "s3", "B", 0.2)],
        ["probe_id", "sample_id", "grp", "beta"],
    )
    out = group_mean_deltas(df, "grp", "A", "B").collect()[0]
    assert abs(out["delta"] - (0.8 - 0.2)) < 1e-12


def test_bh_scalable_matches_window_version(spark):
    import numpy as np

    from methyl_data_pipeline_spark.stats.bh import bh_adjust, bh_adjust_scalable

    rng = np.random.RandomState(21)
    ps = np.concatenate(
        [
            rng.uniform(0, 1, 400),
            np.repeat(0.03, 17),  # heavy ties
            np.repeat(0.5, 9),
            [0.0, 1.0],
        ]
    )
    rows = [(f"p{i:04d}", float(p)) for i, p in enumerate(ps)]
    rows += [("pnull1", None), ("pnull2", None)]
    df = spark.createDataFrame(rows, "probe_id string, p_value double")

    ref = {r.probe_id: r.adj_p for r in bh_adjust(df).collect()}
    got = {
        r.probe_id: r.adj_p
        for r in bh_adjust_scalable(df, num_partitions=7).collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        if ref[k] is None:
            assert got[k] is None
        else:
            assert got[k] == ref[k], (k, got[k], ref[k])


def test_kde_density_matches_numpy(spark):
    import numpy as np

    from methyl_data_pipeline_spark.stats.density import kde_density

    rng = np.random.RandomState(4)
    vals = np.clip(rng.beta(2, 5, 300), 0, 1)
    df = spark.createDataFrame([(float(v),) for v in vals], "beta double")
    got = kde_density(df, "beta", bandwidth=0.1, grid_points=21).toPandas()

    h = 0.1
    xs = np.linspace(0, 1, 21)
    ref = np.array(
        [np.mean(np.exp(-0.5 * ((x - vals) / h) ** 2)) for x in xs]
    ) / (h * np.sqrt(2 * np.pi))
    np.testing.assert_allclose(np.sort(got["x"].values), xs, atol=1e-12)
    got_sorted = got.sort_values("x")["density"].values
    np.testing.assert_allclose(got_sorted, ref, rtol=1e-10)
    # density integrates to ~1 over the support
    assert abs(np.trapz(got_sorted, xs) - 1.0) < 0.15


def test_kde_density_grouped(spark):
    from methyl_data_pipeline_spark.stats.density import kde_density

    df = spark.createDataFrame(
        [("s1", 0.2), ("s1", 0.25), ("s2", 0.8), ("s2", 0.85)],
        "sample_id string, beta double",
    )
    out = kde_density(df, "beta", bandwidth=0.05, grid_points=11, group_col="sample_id").toPandas()
    assert set(out["sample_id"]) == {"s1", "s2"}
    s1 = out[out.sample_id == "s1"].set_index("x")["density"]
    s2 = out[out.sample_id == "s2"].set_index("x")["density"]
    # each sample's curve peaks near its own data
    assert s1.idxmax() < 0.5 < s2.idxmax()


def test_polygamma_closed_forms():
    """digamma/trigamma/tetragamma vs published exact values."""
    import math

    from methyl_data_pipeline_spark.stats.special import (
        digamma, tetragamma, trigamma, trigamma_inverse,
    )

    g = 0.5772156649015329  # Euler-Mascheroni
    zeta3 = 1.2020569031595943  # Apery's constant
    assert abs(digamma(1.0) + g) < 1e-10
    assert abs(digamma(0.5) + g + 2 * math.log(2)) < 1e-10
    assert abs(trigamma(1.0) - math.pi**2 / 6) < 1e-10
    assert abs(trigamma(0.5) - math.pi**2 / 2) < 1e-9
    assert abs(tetragamma(1.0) + 2 * zeta3) < 1e-9
    assert abs(tetragamma(2.0) + 2 * zeta3 - 2) < 1e-9
    for y in (0.7, 1.5, 3.7, 12.0):
        assert abs(trigamma_inverse(trigamma(y)) - y) < 1e-6


def test_fit_f_dist_recovers_true_prior():
    """fitFDist recovery: s² drawn from s0²·F(df1, d0) must recover
    (d0, s0²) — the defining property of limma's estimator (Smyth
    2004 §6)."""
    from methyl_data_pipeline_spark.stats.special import fit_f_dist

    rng = np.random.RandomState(0)
    d0_true, s0_true, df1 = 8.0, 0.04, 6.0
    n = 100000
    s2 = s0_true * (rng.chisquare(df1, n) / df1) / (rng.chisquare(d0_true, n) / d0_true)
    d0, s0_sq = fit_f_dist(s2, df1)
    assert abs(d0 - d0_true) / d0_true < 0.05
    assert abs(s0_sq - s0_true) / s0_true < 0.02
    # degenerate spread -> infinite prior df, s0² = geometric-mean scale
    d0_inf, _ = fit_f_dist(np.full(500, 0.3), 6.0)
    assert d0_inf == float("inf")


def test_moderated_t_fitfdist_prior_matches_local(spark):
    """The distributed fitFDist path (literal digamma maps + one agg +
    driver Newton) must equal running special.fit_f_dist locally on the
    same per-probe s² — and differ from the moments prior on
    heavy-tailed variances."""
    from methyl_data_pipeline_spark.stats.special import fit_f_dist

    rng = np.random.RandomState(3)
    rows = []
    for pi in range(80):
        # heavy-tailed probe variances: chi-square mixture
        sd = float(np.sqrt(rng.chisquare(2) / 2 + 0.05))
        for si in range(4):
            rows.append((f"cg{pi:04d}", f"a{si}", "A", float(rng.normal(0, sd))))
            rows.append((f"cg{pi:04d}", f"b{si}", "B", float(rng.normal(0.5, sd))))
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "grp", "mval"])
    out = moderated_t_two_group(
        df, "grp", "A", "B", value_col="mval", prior_method="fitFDist"
    ).toPandas()

    pdf = pd.DataFrame(rows, columns=["probe_id", "sample_id", "grp", "mval"])
    g = pdf.groupby(["probe_id", "grp"])["mval"].agg(["count", "mean", "var"]).unstack()
    n1, n2 = g[("count", "A")], g[("count", "B")]
    dfree = n1 + n2 - 2
    s2 = ((n1 - 1) * g[("var", "A")] + (n2 - 1) * g[("var", "B")]) / dfree
    d0, s0_sq = fit_f_dist(s2.values, dfree.values.astype(float))
    s2p = (d0 * s0_sq + dfree * s2) / (d0 + dfree)
    t = (g[("mean", "A")] - g[("mean", "B")]) / np.sqrt(s2p * (1 / n1 + 1 / n2))
    got = out.set_index("probe_id")["t_mod"]
    np.testing.assert_allclose(got[t.index].values, t.values, rtol=1e-6)

    # sanity: moments prior gives a DIFFERENT answer here (heavy tails)
    mom = moderated_t_two_group(df, "grp", "A", "B", value_col="mval").toPandas()
    assert not np.allclose(
        mom.set_index("probe_id")["t_mod"][t.index].values, t.values, rtol=1e-4
    )


def test_quantile_normalize_numpy_parity(spark):
    """QN vs the NumPy reference (sort each sample, average across
    samples by rank, map back), plus the defining invariant: every
    sample ends with the IDENTICAL value multiset. Partitioning must
    not change a single value."""
    import numpy as np
    import pandas as pd

    from methyl_data_pipeline_spark.stats.quantile_norm import quantile_normalize

    rng = np.random.default_rng(7)
    n_probes, samples = 200, ["S0", "S1", "S2", "S3"]
    mat = rng.beta(0.5, 0.5, size=(n_probes, len(samples)))
    rows = [
        (f"cg{p:05d}", s, float(mat[p, j]))
        for p in range(n_probes)
        for j, s in enumerate(samples)
    ]
    # NumPy reference: average of per-sample sorted columns is the
    # target distribution; each value maps via its within-sample rank
    ref = np.sort(mat, axis=0).mean(axis=1)
    order = np.argsort(mat, axis=0, kind="stable")  # ties: probe order
    expect = np.empty_like(mat)
    for j in range(len(samples)):
        expect[order[:, j], j] = ref

    for nparts in (1, 16):
        df = spark.createDataFrame(
            rows, "probe_id string, sample_id string, beta double"
        ).repartition(nparts)
        got = quantile_normalize(df).toPandas()
        piv = got.pivot(index="probe_id", columns="sample_id", values="beta_qn")
        piv = piv.reindex([f"cg{p:05d}" for p in range(n_probes)])
        np.testing.assert_allclose(piv.values, expect, rtol=1e-12)
        # invariant: identical multiset per sample
        for s in samples[1:]:
            np.testing.assert_allclose(
                np.sort(piv[s].values), np.sort(piv[samples[0]].values), rtol=0
            )


def test_call_dmrs_segmentation(spark):
    """Hand-built chromosome: two same-sign runs split by a gap, a
    direction flip, and a singleton that min_probes drops."""
    from methyl_data_pipeline_spark.stats.dmr import call_dmrs

    rows = [
        # chrom, pos, stat
        ("chr1", 10, 2.0), ("chr1", 12, 3.0), ("chr1", 14, 2.5),   # region A (+)
        ("chr1", 16, -2.0), ("chr1", 18, -2.2),                    # flip -> region B (-)
        ("chr1", 40, 2.0), ("chr1", 42, 2.0),                      # gap>5 -> region C (+)
        ("chr1", 60, 5.0),                                         # singleton: dropped
        ("chr1", 70, 0.5),                                         # below cutoff
        ("chr2", 10, 1.5), ("chr2", 11, 1.5),                      # region D (+)
    ]
    df = spark.createDataFrame(rows, "chrom string, pos long, t_mod double")
    for nparts in (1, 7):
        got = {
            (r["chrom"], r["start_pos"], r["end_pos"]): (
                r["n_probes"], round(r["mean_stat"], 6), r["direction"]
            )
            for r in call_dmrs(
                df.repartition(nparts), cutoff=1.0, maxgap=5, min_probes=2
            ).collect()
        }
        assert got == {
            ("chr1", 10, 14): (3, 2.5, 1.0),
            ("chr1", 16, 18): (2, -2.1, -1.0),
            ("chr1", 40, 42): (2, 2.0, 1.0),
            ("chr2", 10, 11): (2, 1.5, 1.0),
        }


def test_moderated_f_matches_local_anova(spark):
    """Moderated F vs a local NumPy one-way ANOVA with the same EB
    shrinkage; a planted differential probe must dominate the ranking."""
    from methyl_data_pipeline_spark.stats.limma import moderated_f_anova

    rng = np.random.RandomState(5)
    rows = []
    for pi in range(60):
        shift = 2.0 if pi == 0 else 0.0  # probe 0: strong group effect
        for g in range(3):
            for si in range(4):
                rows.append(
                    (f"cg{pi:04d}", f"s{g}{si}", f"G{g}",
                     float(rng.normal(g * shift, 0.5)))
                )
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "grp", "mval"])
    out = moderated_f_anova(df, "grp").toPandas().set_index("probe_id")

    pdf = pd.DataFrame(rows, columns=["probe_id", "sample_id", "grp", "mval"])
    g = pdf.groupby(["probe_id", "grp"])["mval"].agg(["count", "mean", "var"])
    s2, msb = {}, {}
    for p, sub in g.groupby(level=0):
        n, mu, va = sub["count"].values, sub["mean"].values, sub["var"].values
        N, G = n.sum(), len(n)
        grand = (n * mu).sum() / N
        s2[p] = ((n - 1) * va).sum() / (N - G)
        msb[p] = (n * (mu - grand) ** 2).sum() / (G - 1)
    s2v = pd.Series(s2)
    d0 = 2 * s2v.mean() ** 2 / s2v.var()
    s0 = s2v.mean()
    df2 = 12 - 3
    post = (d0 * s0 + df2 * s2v) / (d0 + df2)
    want = pd.Series(msb) / post
    np.testing.assert_allclose(out["f_mod"][want.index], want.values, rtol=1e-9)
    assert out["f_mod"].idxmax() == "cg0000"
    assert (out["df1"] == 2).all() and (out["df2"] == 9).all()


def test_moderated_f_p_values(spark):
    """F p-values via the regularized incomplete beta: in (0,1],
    monotone decreasing in F, and the planted probe is the most
    significant."""
    from methyl_data_pipeline_spark.stats.limma import moderated_f_anova

    rng = np.random.RandomState(6)
    rows = []
    for pi in range(40):
        shift = 1.5 if pi == 0 else 0.0
        for g in range(3):
            for si in range(4):
                rows.append(
                    (f"cg{pi:04d}", f"s{g}{si}", f"G{g}",
                     float(rng.normal(g * shift, 0.5)))
                )
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "grp", "mval"])
    out = moderated_f_anova(df, "grp", with_p_values=True).toPandas()
    assert ((out["p_value"] > 0) & (out["p_value"] <= 1)).all()
    s = out.sort_values("f_mod")
    assert (np.diff(s["p_value"].values) <= 1e-12).all()
    assert out.set_index("probe_id")["p_value"].idxmin() == "cg0000"


def test_moderated_f_degenerate_prior_matches_t_paths(spark):
    """Every probe with the same pooled s² leaves the moment prior no
    spread to fit: the F path must cap d0 at 1e12 like the t and
    contrasts paths, not divide by zero (ANSI) or, with a single
    probe, null every statistic."""
    from methyl_data_pipeline_spark.stats.limma import (
        moderated_f_anova,
        moderated_t_contrasts,
    )

    rows = [
        (f"cg{p}", f"{g}{i}", g, centre + dev)
        for p in range(2)
        for g, centre in (("A", 0.0), ("B", 1.0), ("C", 3.0))
        for i, dev in enumerate((-1.0, 0.0, 1.0))
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "grp", "mval"])

    f = moderated_f_anova(df, "grp").toPandas()
    assert len(f) == 2
    assert (f["df2_mod"] == 1e12 + 6).all()
    np.testing.assert_allclose(f["s2_post"], 1.0, rtol=1e-12)
    # ms_between = 3·((0-4/3)² + (1-4/3)² + (3-4/3)²) / 2 = 7
    np.testing.assert_allclose(f["f_mod"], 7.0, rtol=1e-9)

    t = moderated_t_two_group(df, "grp", "A", "B").toPandas()
    c = moderated_t_contrasts(df, "grp", [("A", "B")]).toPandas()
    assert (t["d0"] == 1e12).all()
    assert (c["df_mod"] == 1e12 + 4).all()

    one = moderated_f_anova(df.filter(F.col("probe_id") == "cg0"), "grp").toPandas()
    assert len(one) == 1 and one["f_mod"].notna().all()
    np.testing.assert_allclose(one["f_mod"], 7.0, rtol=1e-9)


def test_pipeline_dmp_multigroup_matches_numpy_anova(spark):
    """run_methylation_pipeline with >2 dmp_groups routes the DMP stage
    through the omnibus moderated F (VERDICT r4 #5): f_mod must match a
    local NumPy ANOVA + EB shrinkage on the same betas, p/adj_p must be
    BH-consistent, and the planted probe must rank first."""
    from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline

    rng = np.random.RandomState(7)
    meth_rows, n_groups, n_per = [], 3, 4
    for pi in range(50):
        shift = 0.12 if pi == 0 else 0.0  # probe 0: strong group effect
        for g in range(n_groups):
            for si in range(n_per):
                beta = float(np.clip(rng.normal(0.5 + g * shift, 0.03), 0.05, 0.95))
                meth_rows.append(
                    (f"cg{pi:04d}", f"s{g}{si}", f"R{si % 2}", beta, 0.001)
                )
    meth = spark.createDataFrame(
        meth_rows, ["probe_id", "sample_id", "run", "beta", "det_p"]
    )
    probes = spark.createDataFrame(
        [(f"cg{pi:04d}", 2, "chr1") for pi in range(50)],
        ["probe_id", "design_type", "chr"],
    )
    samples = spark.createDataFrame(
        [(f"s{g}{si}", f"G{g}") for g in range(n_groups) for si in range(n_per)],
        ["sample_id", "grp"],
    )
    res = run_methylation_pipeline(
        meth, probes, samples, run_bmiq=False, run_combat=False,
        top_k=50, pca_k=0, dmp_groups=("grp",),
    )
    out = res.dmp.toPandas().set_index("probe_id")
    assert len(out) == 50
    assert (out["df1"] == n_groups - 1).all()

    # local recomputation on the same mvals (beta_final == beta here)
    pdf = pd.DataFrame(meth_rows, columns=["probe_id", "sample_id", "run", "beta", "det_p"])
    pdf["grp"] = "G" + pdf["sample_id"].str[1]
    b = np.clip(pdf["beta"], 0.001, 0.999)
    pdf["mval"] = np.log2(b / (1 - b))
    g = pdf.groupby(["probe_id", "grp"])["mval"].agg(["count", "mean", "var"])
    s2, msb = {}, {}
    for p, sub in g.groupby(level=0):
        n, mu, va = sub["count"].values, sub["mean"].values, sub["var"].values
        N, G = n.sum(), len(n)
        grand = (n * mu).sum() / N
        s2[p] = ((n - 1) * va).sum() / (N - G)
        msb[p] = (n * (mu - grand) ** 2).sum() / (G - 1)
    s2v = pd.Series(s2)
    d0 = 2 * s2v.mean() ** 2 / s2v.var()
    s0 = s2v.mean()
    df2 = n_groups * n_per - n_groups
    post = (d0 * s0 + df2 * s2v) / (d0 + df2)
    want_f = pd.Series(msb) / post
    np.testing.assert_allclose(out["f_mod"][want_f.index], want_f.values, rtol=1e-9)
    assert out["f_mod"].idxmax() == "cg0000"
    assert out["adj_p"].idxmin() == "cg0000"

    # BH consistency: adj_p = min suffix cummin of p * m / rank
    sp = out["p_value"].sort_values()
    m = len(sp)
    stepup = (sp * m / np.arange(1, m + 1))[::-1].cummin()[::-1]
    np.testing.assert_allclose(
        out["adj_p"][sp.index], np.minimum(stepup, 1.0), rtol=1e-9
    )


def test_pipeline_dmp_reads_group_column_from_normalized(spark, meth, probes):
    """With no samples table, a group column already on the normalized
    matrix (``run``) drives the DMP stage instead of skipping it."""
    from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline

    res = run_methylation_pipeline(
        meth, probes, None, run_bmiq=False, run_combat=False,
        pca_k=0, dmp_groups=("run", "1", "2"),
    )
    assert res.dmp is not None
    out = res.dmp.toPandas()
    assert len(out) > 0 and out["adj_p"].between(0, 1).all()


def test_pipeline_dmp_missing_group_column_raises(spark, meth, probes):
    from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline

    with pytest.raises(ValueError, match="'genotype'"):
        run_methylation_pipeline(
            meth, probes, None, run_bmiq=False, run_combat=False,
            pca_k=0, dmp_groups=("genotype", "WT", "KO"),
        )


def test_pipeline_dmp_single_level_raises_before_any_job(spark, meth, probes):
    """One named level would leave every probe below the two-group
    minimum and return an empty ``dmp``; it must fail before QC runs."""
    from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    with pytest.raises(ValueError, match="single level"):
        run_methylation_pipeline(
            meth, probes, None, run_bmiq=False, run_combat=False,
            pca_k=0, dmp_groups=("run", "1"),
        )
    assert tracker.getJobIdsForGroup(None) == before


def test_bh_grouped_matches_window_version(spark):
    """bh_adjust_grouped must be BIT-identical to the window path —
    heavy ties (its fast case), nulls, and the 0/1 endpoints."""
    import numpy as np

    from methyl_data_pipeline_spark.stats.bh import bh_adjust, bh_adjust_grouped

    rng = np.random.RandomState(33)
    ps = np.concatenate(
        [
            np.round(rng.uniform(0, 1, 400), 3),  # bounded cardinality
            np.repeat(0.03, 17),
            np.repeat(0.5, 9),
            [0.0, 1.0],
        ]
    )
    rows = [(f"p{i:04d}", float(p)) for i, p in enumerate(ps)]
    rows += [("pnull1", None), ("pnull2", None)]
    df = spark.createDataFrame(rows, "probe_id string, p_value double")

    ref = {r.probe_id: r.adj_p for r in bh_adjust(df).collect()}
    got = {r.probe_id: r.adj_p for r in bh_adjust_grouped(df).collect()}
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == ref[k], (k, got[k], ref[k])
