"""Heavy stats tier: ComBat vs a NumPy reference EB implementation,
BMIQ invariants (FIXTURES.md F7), PCA vs numpy SVD."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from methyl_data_pipeline_spark.stats.bmiq import bmiq_normalize
from methyl_data_pipeline_spark.stats.combat import batch_sd_reduction, combat
from methyl_data_pipeline_spark.stats.pca import pca_scores


def _combat_numpy(x: np.ndarray, batches: np.ndarray, conv=1e-13, max_iter=200):
    """Reference parametric ComBat (Johnson 2007), intercept-only,
    matrix form: x is genes × samples."""
    uniq = np.unique(batches)
    n = x.shape[1]
    n_b = {b: int((batches == b).sum()) for b in uniq}
    bhat = {b: x[:, batches == b].mean(axis=1) for b in uniq}
    grand = sum(n_b[b] * bhat[b] for b in uniq) / n
    var_pooled = ((x - grand[:, None]) ** 2).sum(axis=1) / n
    z = (x - grand[:, None]) / np.sqrt(var_pooled)[:, None]
    out = np.empty_like(x)
    for b in uniq:
        zb = z[:, batches == b]
        nb = n_b[b]
        gh = zb.mean(axis=1)
        dh2 = zb.var(axis=1, ddof=1)
        gbar, t2 = gh.mean(), gh.var(ddof=1)
        dm, ds2 = dh2.mean(), dh2.var(ddof=1)
        a = (2 * ds2 + dm**2) / ds2
        bb = (dm * ds2 + dm**3) / ds2
        g_old, d_old = gh.copy(), dh2.copy()
        for _ in range(max_iter):
            g_new = (t2 * nb * gh + d_old * gbar) / (t2 * nb + d_old)
            sum2 = (nb - 1) * dh2 + nb * (gh - g_new) ** 2
            d_new = (0.5 * sum2 + bb) / (nb / 2.0 + a - 1)
            change = max(
                np.max(np.abs(g_new - g_old) / np.maximum(np.abs(g_old), 1e-12)),
                np.max(np.abs(d_new - d_old) / np.maximum(np.abs(d_old), 1e-12)),
            )
            g_old, d_old = g_new, d_new
            if change < conv:
                break
        out[:, batches == b] = (
            (zb - g_old[:, None]) / np.sqrt(d_old)[:, None]
        ) * np.sqrt(var_pooled)[:, None] + grand[:, None]
    return out


@pytest.fixture(scope="module")
def batch_data():
    rng = np.random.RandomState(3)
    n_probes, n1, n2 = 80, 6, 8
    base = rng.normal(0, 1, size=(n_probes, n1 + n2))
    # batch 2 has additive + multiplicative batch effect
    base[:, n1:] = base[:, n1:] * 1.6 + 0.9
    batches = np.array(["1"] * n1 + ["2"] * n2)
    return base, batches


def test_combat_matches_reference_numpy(spark, batch_data):
    x, batches = batch_data
    n_probes, n_samp = x.shape
    rows = [
        (f"cg{p:05d}", f"s{s}", str(batches[s]), float(x[p, s]))
        for p in range(n_probes)
        for s in range(n_samp)
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "run", "beta"])
    got = combat(df).toPandas().pivot_table(
        index="probe_id", columns="sample_id", values="beta_combat"
    )
    want = _combat_numpy(x, batches)
    probe_ids = [f"cg{p:05d}" for p in range(n_probes)]
    sample_ids = [f"s{s}" for s in range(n_samp)]
    np.testing.assert_allclose(
        got.loc[probe_ids, sample_ids].values, want, rtol=1e-6, atol=1e-8
    )


def test_combat_reduces_batch_sd(spark, batch_data):
    """The reference's diagnostic invariant (test.R:171-180): cross-batch
    SD of per-batch means must shrink substantially."""
    x, batches = batch_data
    rows = [
        (f"cg{p:05d}", f"s{s}", str(batches[s]), float(x[p, s]))
        for p in range(x.shape[0])
        for s in range(x.shape[1])
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "run", "beta"])
    adjusted = combat(df)
    sds = batch_sd_reduction(df, adjusted, "beta", "beta_combat").agg(
        F.avg("sd_before").alias("b"), F.avg("sd_after").alias("a")
    ).collect()[0]
    assert sds["a"] < sds["b"] / 2  # >2x reduction per SURVEY §5


def test_bmiq_invariants(spark, probes):
    """BMIQ_1.4.R invariants: Type I betas unchanged, output in [0,1]."""
    rng = np.random.RandomState(11)
    probe_rows = probes.select("probe_id", "design_type").toPandas()
    rows = []
    for sid in ["TBa_1", "TBb_1"]:
        for _, pr in probe_rows.iterrows():
            mix = rng.rand()
            if pr["design_type"] == 1:
                b = rng.beta(0.4, 6) if mix < 0.45 else (rng.beta(6, 0.4) if mix < 0.9 else rng.beta(3, 3))
            else:
                # type II: compressed toward the middle (the bias BMIQ fixes)
                b = rng.beta(1.2, 5) if mix < 0.45 else (rng.beta(5, 1.2) if mix < 0.9 else rng.beta(3, 3))
            rows.append((pr["probe_id"], sid, "1", float(b), 0.01))
    meth = spark.createDataFrame(rows, ["probe_id", "sample_id", "run", "beta", "det_p"])
    out = bmiq_normalize(meth, probes, min_class=10).toPandas()
    ok = out[out["bmiq_ok"]]
    assert len(ok) > 0
    t1 = ok[ok["design_type"] == 1]
    np.testing.assert_allclose(t1["beta_bmiq"], t1["beta"], rtol=1e-12)
    assert (ok["beta_bmiq"] >= 0).all() and (ok["beta_bmiq"] <= 1).all()
    # determinism: same input -> same output
    out2 = bmiq_normalize(meth, probes, min_class=10).toPandas()
    m1 = out.sort_values(["probe_id", "sample_id"])["beta_bmiq"].to_numpy()
    m2 = out2.sort_values(["probe_id", "sample_id"])["beta_bmiq"].to_numpy()
    np.testing.assert_array_equal(m1, m2)


def test_pca_scores_match_numpy(spark):
    rng = np.random.RandomState(5)
    n_probes, n_samples = 50, 8
    x = rng.normal(0, 1, size=(n_probes, n_samples))
    x[:10, : n_samples // 2] += 2.0  # structure
    rows = [
        (f"cg{p:05d}", f"s{s:02d}", float(x[p, s]))
        for p in range(n_probes)
        for s in range(n_samples)
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "mval"])
    scores, ev = pca_scores(df, k=2, value_col="mval", scale=False)
    got = scores.toPandas().set_index("sample_id").sort_index()

    # numpy oracle: prcomp(t(x), center=TRUE, scale.=FALSE)
    xt = x.T - x.T.mean(axis=0)
    u, s, vt = np.linalg.svd(xt, full_matrices=False)
    pcs = u * s
    # sign is arbitrary per component — compare up to sign
    for i in range(2):
        col = got[f"PC{i+1}"].values
        ref = pcs[:, i]
        assert min(
            np.max(np.abs(col - ref)), np.max(np.abs(col + ref))
        ) < 1e-6
    assert ev[0] > ev[1] > 0


def test_mds_coords_match_numpy(spark):
    from methyl_data_pipeline_spark.stats.pca import mds_coords

    rng = np.random.RandomState(11)
    n_probes, n_samples = 60, 6
    x = rng.normal(0, 1, size=(n_probes, n_samples))
    x[:15, :3] += 1.5
    rows = [
        (f"cg{p:05d}", f"s{s:02d}", float(x[p, s]))
        for p in range(n_probes)
        for s in range(n_samples)
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "mval"])

    # ntop limits to the 20 highest-variance probes — replicate that
    # selection in numpy (ties broken identically: variance desc, id asc)
    variances = x.var(axis=1, ddof=1)
    order = sorted(range(n_probes), key=lambda p: (-variances[p], f"cg{p:05d}"))
    keep = sorted(order[:20])
    xs = x[keep, :]

    got = (
        mds_coords(df, k=2, ntop=20, value_col="mval")
        .toPandas()
        .set_index("sample_id")
        .sort_index()
    )

    # numpy oracle: classical MDS on pairwise Euclidean distances
    d2 = ((xs.T[:, None, :] - xs.T[None, :, :]) ** 2).sum(axis=2)
    n = n_samples
    j = np.eye(n) - np.full((n, n), 1.0 / n)
    b = -0.5 * j @ d2 @ j
    w, v = np.linalg.eigh(b)
    o = np.argsort(w)[::-1]
    coords = v[:, o[:2]] * np.sqrt(np.clip(w[o[:2]], 0, None))
    for i in range(2):
        col = got[f"MDS{i+1}"].values
        ref = coords[:, i]
        assert min(np.max(np.abs(col - ref)), np.max(np.abs(col + ref))) < 1e-6

    # classical MDS of Euclidean distances == centered PCA scores (up to sign)
    xt = xs.T - xs.T.mean(axis=0)
    u, s, vt = np.linalg.svd(xt, full_matrices=False)
    pcs = u * s
    for i in range(2):
        col = got[f"MDS{i+1}"].values
        ref = pcs[:, i]
        assert min(np.max(np.abs(col - ref)), np.max(np.abs(col + ref))) < 1e-6


def test_pca_scores_runs_no_sample_count(spark, monkeypatch):
    """pca_scores takes the sample count from the collected Gram cells:
    it must run no ``DataFrame.count`` action of its own (a separate
    ``distinct().count()`` job only ever picked between solver paths)."""
    rng = np.random.RandomState(7)
    n_probes, n_samples = 40, 10
    x = rng.normal(0, 1, size=(n_probes, n_samples))
    x[:8, :5] += 1.7
    rows = [
        (f"cg{p:05d}", f"s{s:02d}", float(x[p, s]))
        for p in range(n_probes)
        for s in range(n_samples)
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "mval"])

    def no_count(self):
        raise AssertionError("pca_scores ran a DataFrame.count action")

    # the concrete class: Spark 4's classic DataFrame overrides count
    monkeypatch.setattr(type(df), "count", no_count)
    scores, ev = pca_scores(df, k=3, value_col="mval")
    got = scores.toPandas().set_index("sample_id").sort_index()

    xt = x.T - x.T.mean(axis=0)
    u, s, _vt = np.linalg.svd(xt, full_matrices=False)
    pcs = u * s
    for i in range(3):
        col = got[f"PC{i+1}"].values
        ref = pcs[:, i]
        assert min(np.max(np.abs(col - ref)), np.max(np.abs(col + ref))) < 1e-6
    assert np.allclose(ev, (s[:3] ** 2) / (s ** 2).sum(), atol=1e-9)


def test_blocked_crossprod_ragged_key_hard_error(spark):
    """An incomplete key (missing one sample) must fail with the
    promised ValueError, not an opaque numpy shape error: ragged rows
    previously built an object-dtype 1-D array that bypassed the
    mat.shape[1] check entirely."""
    from methyl_data_pipeline_spark.stats.pca import blocked_crossprod

    rows = [
        ("k1", "s1", 1.0), ("k1", "s2", 2.0), ("k1", "s3", 3.0),
        ("k2", "s1", 4.0), ("k2", "s2", 5.0),  # s3 missing -> ragged
    ]
    df = spark.createDataFrame(rows, "key string, sample string, value double")
    out = blocked_crossprod(df, "value", "key", "sample")
    with pytest.raises(Exception, match="key vector length 2 != n_samples 3"):
        out.collect()


def test_gram_matrix_blocked_matches_exact(spark):
    """The blocked (mapInPandas partial XᵀX) Gram twin must agree with
    the exact self-join formulation to float tolerance on the same
    grid — it is the 100 TB physical plan, not a different operator."""
    from methyl_data_pipeline_spark.stats.pca import (
        gram_matrix,
        gram_matrix_blocked,
    )

    rng = np.random.RandomState(11)
    n_probes, n_samples = 60, 9
    x = rng.normal(0, 2, size=(n_probes, n_samples))
    rows = [
        (f"cg{p:05d}", f"s{s:02d}", float(x[p, s]))
        for p in range(n_probes)
        for s in range(n_samples)
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "mval"]).repartition(7)

    exact = {
        (r["s1"], r["s2"]): r["gram"]
        for r in gram_matrix(df, value_col="mval").collect()
    }
    blocked = {
        (r["s1"], r["s2"]): r["gram"]
        for r in gram_matrix_blocked(df, value_col="mval").collect()
    }
    assert set(exact) == set(blocked)
    for k in exact:
        assert abs(exact[k] - blocked[k]) < 1e-9 * max(1.0, abs(exact[k]))


def test_beta_mle_weighted_recovers_parameters():
    """Weighted beta MLE (RPMM betaEst semantics): recovers true (a,b)
    from draws, beats/matches the moment start in log-likelihood, and
    honors weights (weighting out half the data changes the fit)."""
    from methyl_data_pipeline_spark.stats.special import beta_mle_weighted, beta_pdf

    rng = np.random.RandomState(42)
    x = np.clip(rng.beta(2.0, 5.0, 20000), 1e-9, 1 - 1e-9)
    w = np.ones_like(x)
    m, var = x.mean(), x.var()
    common = m * (1 - m) / var - 1
    a0, b0 = m * common, (1 - m) * common
    a, b = beta_mle_weighted(x, w, a0, b0)
    assert abs(a - 2.0) < 0.08 and abs(b - 5.0) < 0.2

    def ll(aa, bb):
        return np.sum(w * np.log(beta_pdf(x, aa, bb)))

    assert ll(a, b) >= ll(a0, b0) - 1e-6

    # weights matter: zero out the right tail -> fit shifts
    w2 = (x < np.median(x)).astype(float)
    a2, b2 = beta_mle_weighted(x, w2, a0, b0)
    assert (a2, b2) != (a, b)
